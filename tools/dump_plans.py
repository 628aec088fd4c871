"""Dump `.explain("formatted")` for declared queries, for before/after
plan diffs.

Usage: python tools/dump_plans.py <dir> <before|after> <query> [query ...]

Writes <dir>/<query>_<tag>.txt for each named query, evaluated at
sf0.01 (override with SPARK_GRAFT_SF_DIR; plan SHAPE is scale-invariant,
timings come from the benchmark, not from here). <dir> is relative to
the current directory. Dump the "before" side from a checkout of the
parent commit and the "after" side from the change, then diff the
pairs.

The plans are written normalized (``normalize``): the ids Spark hands
out per session are renumbered in order of appearance, so two dumps of
one commit are byte-identical and a plain ``diff`` of a pair shows only
what the change did. Dump both sides with the same query list: a query
over a frame that an earlier query of the run cached prints the ids of
that cached plan.
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# One alternative per kind of session-assigned id; each kind is numbered
# on its own, from 0, in order of first appearance. The lambda-variable
# name is the PySpark parameter name plus a fresh ``_N`` suffix.
_IDS = re.compile(
    r"(?P<lam>lambda [A-Za-z_]\w*?_)(?P<lam_n>\d+)(?=#)"
    r"|(?P<expr>#)(?P<expr_n>\d+)"
    r"|(?P<plan>plan_id=)(?P<plan_n>\d+)"
    r"|(?P<cg>codegen id : )(?P<cg_n>\d+)"
    r"|(?P<rdd>RDD\[)(?P<rdd_n>\d+)(?=\])"
)
# An AQE query stage prints its stage id as the ``Arguments`` line of
# its block (blocks are separated by a blank line).
_STAGE = re.compile(r"(?P<stage>QueryStage\n(?:[^\n]+\n)*?Arguments: )(?P<stage_n>\d+)")


def _renumber(pattern: re.Pattern, text: str) -> str:
    seen: dict[str, dict[str, int]] = {}

    def sub(m: re.Match) -> str:
        kind = m.lastgroup[:-2]
        ids = seen.setdefault(kind, {})
        n = ids.setdefault(m.group(m.lastgroup), len(ids))
        return f"{m.group(kind)}{n}"

    return pattern.sub(sub, text)


def normalize(plan: str) -> str:
    """``plan`` with expression ids, ``plan_id``s, lambda-variable
    suffixes, codegen ids, RDD ids and AQE query-stage ids each
    renumbered in order of appearance. Operators, their arguments and
    the formatted plan's own operator numbers are kept as printed."""
    return _renumber(_IDS, _renumber(_STAGE, plan))


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
        plan = normalize(
            df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        )
        path = out_dir / f"{name}_{tag}.txt"
        path.write_text(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
