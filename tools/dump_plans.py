"""Dump `.explain("formatted")` for declared queries, for before/after
plan diffs.

Usage: python tools/dump_plans.py <dir> <before|after> <query> [query ...]

Writes <dir>/<query>_<tag>.txt for each named query, evaluated at
sf0.01 (override with SPARK_GRAFT_SF_DIR; plan SHAPE is scale-invariant,
timings come from the benchmark, not from here). <dir> is relative to
the current directory. Dump the "before" side from a checkout of the
parent commit and the "after" side from the change, then diff the
pairs.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    if len(sys.argv) < 4 or sys.argv[2] not in ("before", "after"):
        print(__doc__)
        return 2
    out_dir, tag, names = Path(sys.argv[1]), sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    import __spark_entry__ as entry
    from ml4logs_spark.session import get_spark

    spark = get_spark(app_name="dump_plans", cores=4, shuffle_partitions=8)
    qs = entry.queries()
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = out_dir / f"{name}_{tag}.txt"
        path.write_text(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
