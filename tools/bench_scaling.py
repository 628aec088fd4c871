"""Two-parallelism scaling-efficiency evidence (sandbox protocol).

BASELINE.json's criterion — throughput scaling efficiency >= 0.8 from N
to 4N executors — cannot use a real cluster here; per the driver
protocol it is evidenced by running the SAME job at local[8] and
local[32] on the SAME input and reporting throughput at both plus
efficiency = (thr_32 / thr_8) / 4.

Each run is a fresh subprocess (fresh JVM). The input is the sf0.1
transcripts table replicated $SPARK_GRAFT_REPLICATE-fold (default 32 ->
~3.2M turns) so per-core work dominates fixed overhead, mirroring the
100 TB regime where tasks are long relative to scheduling.

Writes BENCH/BASELINE.md and BENCH/scaling.json.

Usage: python tools/bench_scaling.py [replicate]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def run_bench(cores, replicate: int, sf_dir: str) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_REPLICATE=str(replicate),
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_BENCH_REPS=os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"),
        ML4S_DRIVER_MEM="16g",
    )
    out = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        env=env, capture_output=True, text=True, check=True,
    )
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    replicate = int(sys.argv[1]) if len(sys.argv) > 1 else 128
    # default legs: 1 vs 4 executor JVMs at 2 cores each — sized from
    # BENCH/cpu_microbench.json so the 4N side stays inside this host's
    # near-linear CPU regime (<= 8 active cores); see BENCH/BASELINE.md
    spec = os.environ.get("SPARK_GRAFT_SCALE_CORES",
                          "local-cluster[1,2,6144];local-cluster[4,2,6144]")
    sep = ";" if ";" in spec else ","
    n_lo, n_hi = spec.split(sep)
    n_lo = int(n_lo) if n_lo.isdigit() else n_lo
    n_hi = int(n_hi) if n_hi.isdigit() else n_hi
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # alternating rounds per leg; the headline uses each leg's MEDIAN
    # throughput (each round's turns_per_sec is itself a within-process
    # median over SPARK_GRAFT_BENCH_REPS e2e repetitions). min/max per
    # leg are recorded alongside so the estimate is auditable — a
    # best-run pick is a one-sided estimator and is NOT used.
    import statistics

    rounds = int(os.environ.get("SPARK_GRAFT_SCALE_ROUNDS", "2"))
    lo_runs, hi_runs = [], []
    for _ in range(rounds):
        lo_runs.append(run_bench(n_lo, replicate, sf_dir))
        hi_runs.append(run_bench(n_hi, replicate, sf_dir))

    def leg_summary(runs):
        tps = sorted(r["turns_per_sec"] for r in runs)
        med = statistics.median(tps)
        # the run whose tps is closest to the median represents the leg
        rep = min(runs, key=lambda r: abs(r["turns_per_sec"] - med))
        return med, rep, tps

    thr8, r8, lo_tps = leg_summary(lo_runs)
    thr32, r32, hi_tps = leg_summary(hi_runs)
    eff = round(thr32 / thr8 / 4.0, 3)
    eff_min = round(min(hi_tps) / max(lo_tps) / 4.0, 3)
    eff_max = round(max(hi_tps) / min(lo_tps) / 4.0, 3)

    result = {
        "protocol": f"same job, same input, {n_lo} vs {n_hi} (N vs 4N executor emulation; local-cluster = separate executor JVMs)",
        "input_turns": r8["turns"],
        "replicate": replicate,
        "buckets": int(os.environ.get("SPARK_GRAFT_BUCKETS", "64")),
        "lo": r8,
        "hi": r32,
        "lo_tps_rounds": lo_tps,
        "hi_tps_rounds": hi_tps,
        "throughput_lo": thr8,
        "throughput_hi": thr32,
        "scaling_efficiency": eff,
        "scaling_efficiency_range": [eff_min, eff_max],
        "estimator": "median turns_per_sec per leg over rounds (each round = within-process median of reps)",
        "target": 0.8,
        "pass": eff >= 0.8,
    }
    bench_dir = REPO / "BENCH"
    bench_dir.mkdir(exist_ok=True)
    (bench_dir / "scaling.json").write_text(json.dumps(result, indent=2) + "\n")

    # append to the durable datapoint log (rendered by write_bench_md.py
    # so regeneration never drops committed evidence)
    dp_path = bench_dir / "datapoints.json"
    dps = json.loads(dp_path.read_text()) if dp_path.exists() else []
    dps.append({
        "protocol": f"{n_lo} vs {n_hi}",
        "input_turns": r8["turns"],
        "replicate": replicate,
        "buckets": result["buckets"],
        "java_opts": os.environ.get("ML4S_EXECUTOR_JAVA_OPTS", ""),
        "estimator": "median",
        "efficiency": eff,
        "efficiency_range": [eff_min, eff_max],
    })
    dp_path.write_text(json.dumps(dps, indent=2) + "\n")

    # BENCH/BASELINE.md is generated ONLY by write_bench_md.py, from the
    # JSON artifacts — no hand-written numbers to drift.
    print(json.dumps(result["lo"]["queries"]))
    print(json.dumps(result["hi"]["queries"]))
    print(f"efficiency={eff} range=[{eff_min},{eff_max}] pass={eff >= 0.8}")


if __name__ == "__main__":
    main()
