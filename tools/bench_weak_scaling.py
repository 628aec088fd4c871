"""Weak-scaling evidence: 4x the data on 4x the executors.

The 100 TB growth model — data and cluster grow together. Runs
x(replicate/4) on 1 executor and x(replicate) on 4 executors and
writes BENCH/weak_scaling.json (rendered by write_bench_md.py).

Usage: python tools/bench_weak_scaling.py [replicate=512]
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from bench_scaling import run_bench  # noqa: E402

REPO = Path(__file__).resolve().parent.parent


def main() -> None:
    replicate = int(sys.argv[1]) if len(sys.argv) > 1 else 512
    spec = os.environ.get("SPARK_GRAFT_SCALE_CORES",
                          "local-cluster[1,2,6144];local-cluster[4,2,6144]")
    sep = ";" if ";" in spec else ","
    n_lo, n_hi = spec.split(sep)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    lo = run_bench(n_lo, replicate // 4, sf_dir)
    hi = run_bench(n_hi, replicate, sf_dir)
    # perfect weak scaling: same wall time for 4x data on 4x executors
    eff = round(lo["queries"]["e2e_pipeline"] / hi["queries"]["e2e_pipeline"], 3)
    result = {
        "protocol": (
            f"weak scaling: x{replicate // 4} input on 1 executor vs "
            f"x{replicate} input on 4 executors (4x data, 4x compute)"
        ),
        "lo": lo,
        "hi": hi,
        "weak_scaling_efficiency": eff,
    }
    bench_dir = REPO / "BENCH"
    bench_dir.mkdir(exist_ok=True)
    (bench_dir / "weak_scaling.json").write_text(json.dumps(result, indent=2) + "\n")
    print(f"weak_scaling_efficiency={eff}")


if __name__ == "__main__":
    main()
