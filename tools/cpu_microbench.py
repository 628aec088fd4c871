"""Pure-CPU multiprocess scaling ceiling of the host.

Each worker runs an identical fixed busy loop (no shared state, no I/O);
weak-scaling efficiency at P procs = T(1 proc) / T(P procs). This bounds
what ANY compute framework can achieve on this host at P active cores —
the evidence behind choosing executor sizes that keep the scaling legs
inside the linear regime. Writes BENCH/cpu_microbench.json.

Usage: python tools/cpu_microbench.py [iters_millions=60]
"""

from __future__ import annotations

import json
import multiprocessing as mp
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def busy(n: int) -> int:
    acc = 0
    for i in range(n):
        acc = (acc + i * i) % 1000000007
    return acc


def run(procs: int, iters: int) -> float:
    t0 = time.perf_counter()
    with mp.Pool(procs) as pool:
        pool.map(busy, [iters] * procs)
    return time.perf_counter() - t0


def main() -> None:
    iters = int(float(sys.argv[1]) * 1e6) if len(sys.argv) > 1 else 60_000_000
    results = {}
    t1 = run(1, iters)
    results["1"] = round(t1, 3)
    for p in (2, 4, 8, 16, 32):
        tp = run(p, iters)
        results[str(p)] = round(tp, 3)
    eff = {p: round(results["1"] / t, 3) for p, t in results.items()}
    out = {
        "protocol": "identical busy loop per proc; eff(P) = T(1)/T(P); 1.0 = linear",
        "wall_sec": results,
        "efficiency": eff,
    }
    bench = REPO / "BENCH"
    bench.mkdir(exist_ok=True)
    (bench / "cpu_microbench.json").write_text(json.dumps(out, indent=2) + "\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
