"""Dump the Spark jobs of one fresh `run_pipeline`, for before/after job
diffs.

Usage: python tools/dump_jobs.py <sf_dir> <out_file>

Runs `run_pipeline` once over <sf_dir> into an empty warehouse, with the
Spark event log on, and writes one line per job of that run to
<out_file>: job id, the number of tasks it ran, and what it ran: the top
operator of its SQL plan with the warehouse table that plan writes, or
else reads, or for a job outside SQL (a parquet schema inference) the name
of its result stage. Skipped stages run no tasks. Dump the "before"
side from a checkout of the parent commit (copy the tool in) and the
"after" side from the change, then diff the pair.
"""

from __future__ import annotations

import glob
import json
import re
import sys
import tempfile
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

GROUP = "dump_jobs"


def jobs(log: str, warehouse: str) -> list[tuple[int, int, str]]:
    """(job id, tasks run, what it ran) of each job in ``GROUP``. A job of
    a SQL execution is named by the plan's top operator and the warehouse
    table it writes, or else reads; any other job (a schema inference)
    by its result stage's name."""
    plans: dict[str, str] = {}
    job_stages: dict[int, tuple[str, list[int]]] = {}
    tasks: Counter = Counter()
    with open(log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind.endswith("SQLExecutionStart"):
                plan = ev["physicalPlanDescription"]
                top = next(op for op in (re.sub(r"^[\s:+-]*|\s*\(\d+\)$", "", ln)
                                         for ln in plan.splitlines()[1:])
                           if op and not op.startswith("AdaptiveSparkPlan"))
                # a write's target is the plan's last node, after its scans
                tables = re.findall(re.escape(warehouse) + r"/([^/\]\s,]+)", plan)
                plans[str(ev["executionId"])] = f"{top} {tables[-1] if tables else '-'}"
            elif (kind == "SparkListenerJobStart"
                    and (ev.get("Properties") or {}).get("spark.jobGroup.id") == GROUP):
                last = max(ev["Stage Infos"], key=lambda s: s["Stage ID"])
                what = plans.get(ev["Properties"].get("spark.sql.execution.id"),
                                 last["Stage Name"])
                job_stages[ev["Job ID"]] = what, ev["Stage IDs"]
            elif kind == "SparkListenerTaskEnd":
                tasks[ev["Stage ID"]] += 1
    return [(j, sum(tasks[s] for s in stages), what)
            for j, (what, stages) in sorted(job_stages.items())]


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    sf_dir, out = sys.argv[1], Path(sys.argv[2])

    from ml4logs_spark.plans.pipeline import run_pipeline
    from ml4logs_spark.session import get_spark

    with tempfile.TemporaryDirectory() as tmp:
        events = Path(tmp, "events")
        events.mkdir()
        spark = get_spark(app_name="dump_jobs", cores=4, shuffle_partitions=8,
                          extra_conf={"spark.eventLog.enabled": "true",
                                      "spark.eventLog.dir": events.as_uri(),
                                      "spark.eventLog.compress": "false",
                                      "spark.eventLog.rolling.enabled": "false"})
        spark.sparkContext.setJobGroup(GROUP, GROUP)
        run_pipeline(spark, sf_dir, f"{tmp}/warehouse")
        spark.stop()  # closes the event log
        (log,) = glob.glob(f"{events}/*")
        rows = jobs(log, f"{tmp}/warehouse")
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text("job\ttasks\twhat\n"
                   + "".join(f"{j}\t{n}\t{what}\n" for j, n, what in rows))
    print(f"wrote {out} ({len(rows)} jobs)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
