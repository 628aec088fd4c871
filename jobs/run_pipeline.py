"""spark-submit entry point for the full pipeline on a real cluster.

    spark-submit --py-files dist/ml4logs_spark.zip \
      --num-executors N --executor-cores 4 --executor-memory 8g \
      jobs/run_pipeline.py --input <sf_dir> --warehouse <dir>

Run at N and 4N executors on the same input for the BASELINE.json
scaling criterion; in the sandbox tools/bench_scaling.py substitutes
local[n_lo] vs local[n_hi] per the driver protocol.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default="/root/testdata/sf0.001",
                    help="sf dir containing events.parquet (transcripts derived)")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--cores", default=None, help="local-mode cores (ignored under spark-submit)")
    args = ap.parse_args()

    from ml4logs_spark.plans.pipeline import run_pipeline
    from ml4logs_spark.session import get_spark
    from ml4logs_spark.sources.manifest import Manifest
    from ml4logs_spark.sources.tables import Warehouse

    spark = get_spark(app_name="ml4logs_pipeline", cores=args.cores)
    t0 = time.perf_counter()
    ran = run_pipeline(spark, args.input, args.warehouse)
    wall = time.perf_counter() - t0
    # the row count the routed_turns commit recorded: no Spark job, any table format
    n = Manifest(Warehouse(spark, args.warehouse)).latest("routed_turns")["row_count"]
    print(json.dumps({
        "stages_ran": ran,
        "wall_sec": round(wall, 2),
        "routed_turns": n,
        "turns_per_sec": round(n / wall, 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
