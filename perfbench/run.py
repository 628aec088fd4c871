"""Seeded benchmark of ml4logs_spark: two workloads, end-to-end and
per-layer metrics.

    python3 perfbench/run.py --workload {transcripts,corpus} \
        --seed N --seconds S --trace {0,1}

Run from the repository root or anywhere else; everything the run writes
(generated inputs, warehouse, Spark local dirs, event log) lives under
``.perfbench_tmp/`` at the repository root and is removed at exit. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the per-layer ones, from a separate
traced session (see LAYERS.md).
"""

from __future__ import annotations

import argparse
import copy
import json
import os
import shutil
import statistics
import sys
import time
import traceback

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]
if not os.path.isfile(os.path.join(ROOT, "ml4logs_spark", "__init__.py")):
    sys.exit(f"no ml4logs_spark package in {ROOT}: run from a checkout of the repository")

from ml4logs_spark.session import get_spark  # noqa: E402  (fails outside a checkout)

from gen import generate  # noqa: E402
from spans import Tracer, busy_s, fold_event_log, task_skew  # noqa: E402
from workloads import DASHBOARD, WORKLOADS, Clock  # noqa: E402

SETUPS = 3  # set-ups (session start + workload state) per run; setup_s is their median
MIN_ITERS = 1
MB = 2**20

# CPU seconds (driver JVM, which runs the local executors, plus the client,
# without the JIT compiler threads; see workloads.Clock), scaled to the
# host's speed during the run (see Reference): on a shared host wall
# time swings with what the hypervisor steals, and CPU time with how busy
# the neighbours sharing the cores are
END_TO_END = {"setup_s": "s", "iter_cpu_s": "s"}

# the reference job: REF_ROWS rows, sampled REF_BEFORE times before the
# iterations (the first discarded as its warm-up), once between the phases
# of each iteration and REF_AFTER times after
REF_ROWS = 100_000
REF_BEFORE, REF_AFTER = 3, 2
# about the reference job's median CPU seconds on the busy 4-core host the
# bounds were measured on (LAYERS.md); it only sets the scale: the scaled
# metrics read as CPU seconds at that host's speed
REF_CPU_S = 2.0

# spans; each reports <span>_s, its self time
SPANS = [
    "datagen.scan", "parse.self", "enrich.self", "route.self", "features.self",
    "manifest.overhead", "windows.timedeltas",
    *[f"windows.{q}" for q in DASHBOARD],
    "dedup.exact", "textqa.gate", "dedup.decontaminate", "textqa.mask_chunk",
    "dedup.day2_docs_probe", "dedup.day2_docs_verify",
    "similarity.quantize", "similarity.pq_fit",
]
PER_LAYER = {
    **{f"{s}_s": "s" for s in SPANS},
    "parse.templates": "count",
    "route.write_mb": "MB",
    "route.task_skew": "ratio",
    "features.shuffle_write_mb": "MB",
    "manifest.extra_jobs": "count",
    "windows.jobs_per_query": "count",
    "dedup.day2_docs_candidates": "count",
    "dedup.day2_docs_pairs": "count",
    "dedup.day2_docs_yield": "ratio",
    "similarity.input_partitions": "count",
    "cache.leaked_persists": "count",
    "cache.storage_peak_mb": "MB",
    "driver.peak_rss_mb": "MB",
    "jvm.cold_jit_cpu_s": "s",
    "run.jobs": "count",
    "run.stages": "count",
    "run.tasks": "count",
    "run.executor_run_s": "s",
    "run.shuffle_write_mb": "MB",
    "run.spill_mb": "MB",
    "run.gc_s": "s",
    "run.job_gap_s": "s",
    "run.wall_s": "s",
    "trace.overhead_ratio": "ratio",
}

# layer -> (its per-layer metrics, the workload that exercises it, the
# end-to-end metric a change to it should move there); on the other
# workload the layer does not run: its span times read an empty span's cost
# (Tracer.cover) and its other metrics 0
LAYERS = {
    "datagen.transcripts": (["datagen.scan_s"], "transcripts", "iter_cpu_s"),
    "operators.parse": (["parse.self_s", "parse.templates"], "transcripts", "iter_cpu_s"),
    "operators.enrich": (["enrich.self_s"], "transcripts", "iter_cpu_s"),
    "operators.route": (["route.self_s", "route.write_mb", "route.task_skew"],
                        "transcripts", "iter_cpu_s"),
    "operators.features": (["features.self_s", "features.shuffle_write_mb"],
                           "transcripts", "iter_cpu_s"),
    "sources.manifest": (["manifest.overhead_s", "manifest.extra_jobs"],
                         "transcripts", "iter_cpu_s"),
    "operators.windows": (["windows.timedeltas_s"], "transcripts", "iter_cpu_s"),
    "operators.windows (dashboard)": (
        [f"windows.{q}_s" for q in DASHBOARD] + ["windows.jobs_per_query"],
        "transcripts", "iter_cpu_s"),
    "operators.textqa": (["textqa.gate_s", "textqa.mask_chunk_s"], "corpus", "iter_cpu_s"),
    "operators.dedup (curate_corpus)": (["dedup.exact_s", "dedup.decontaminate_s"],
                                        "corpus", "iter_cpu_s"),
    "operators.dedup (day 2)": (
        ["dedup.day2_docs_probe_s", "dedup.day2_docs_verify_s", "dedup.day2_docs_candidates",
         "dedup.day2_docs_pairs", "dedup.day2_docs_yield"], "corpus", "iter_cpu_s"),
    "operators.similarity": (
        ["similarity.quantize_s", "similarity.pq_fit_s", "similarity.input_partitions"],
        "corpus", "iter_cpu_s"),
    "cache": (["cache.storage_peak_mb", "driver.peak_rss_mb"], "corpus", "iter_cpu_s"),
}


def session(tmp: str, n: int, event_log: str | None = None):
    conf = {
        "spark.sql.catalogImplementation": "in-memory",
        "spark.sql.warehouse.dir": os.path.join(tmp, f"spark-warehouse-{n}"),
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(tmp, 'java')} -XX:-UsePerfData"
            # compiler threads live as long as the JVM, so Clock can count them
            " -XX:-UseDynamicNumberOfCompilerThreads"
            # the quick (C1) compiler only: with C2 a run this short spends
            # most of its CPU compiling, and the first iteration's cost
            # depends on how far that got; with C1 alone the JVM launch
            # takes half the time and the first iteration costs within a
            # few percent of a warm one
            " -XX:TieredStopAtLevel=1",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    cores = len(os.sched_getaffinity(0))
    # shuffles sized to the cores, as bench.py sizes them (without its
    # 16-partition floor): the inputs are small
    return get_spark(app_name="perfbench", cores=cores, shuffle_partitions=2 * cores,
                     extra_conf=conf)


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for its JVM, which exits when
    its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


class Run:
    def __init__(self, workload: str, sf_dir: str, tmp: str, planted: dict):
        self.w = WORKLOADS[workload](sf_dir, tmp, planted)
        self.tmp = tmp
        self.sessions = 0
        self.attempted = 0
        self.failed = 0

    def start(self, traced: bool = False, event_log: str | None = None) -> Tracer:
        if self.w.spark is not None:
            self.w.spark.stop()
        self.sessions += 1
        self.w.spark = session(self.tmp, self.sessions, event_log)
        self.w.clock.jvm_pid = self.w.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.w.setup()
        return Tracer(self.w.spark, traced)

    def iterate(self, tr: Tracer, name: str, between=None) -> Clock | None:
        """One iteration: the clock of its calls, or None when it raised."""
        try:
            with tr.iterate(name):
                clock, ops = self.w.iteration(tr, between)
            tr.cover(SPANS)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.attempted += 1
            self.failed += 1
            self.w.release()
            return None
        self.attempted += len(ops)
        bad = [op for op, ok in ops if not ok]
        if bad:
            print(f"check failed in {name}: {bad}", file=sys.stderr)
        self.failed += len(bad)
        return clock

    def loop(self, tr: Tracer, seconds: float, prefix: str = "i",
             between=None) -> dict[str, Clock]:
        """Iterations until ``seconds`` have passed, at least MIN_ITERS;
        ``between()`` runs between an iteration's phases, off its clock."""
        clocks: dict[str, Clock] = {}
        end = time.perf_counter() + seconds
        while time.perf_counter() < end or len(clocks) < MIN_ITERS:
            name = f"{prefix}{len(clocks)}"
            c = self.iterate(tr, name, between)
            if c is None:
                if self.failed > 3:
                    raise RuntimeError("workload keeps failing")
                continue
            clocks[name] = c
        return clocks


class Reference:
    """The reference job: fixed work made of Spark built-ins only (hash,
    sort, aggregate over ``range``), in its own session with its settings
    pinned, so no change to the program moves it. A busy neighbour on the
    host slows it by about as much as it slows the workload (LAYERS.md gives
    the spreads with and without the scaling), so the end-to-end metrics
    are scaled by its CPU seconds, sampled between the workload's phases.
    ``samples`` leaves out the first run, its warm-up."""

    def __init__(self, spark, jvm_pid: int):
        self.spark = spark.newSession()
        for k, v in {"spark.sql.shuffle.partitions": "8", "spark.sql.adaptive.enabled": "false",
                     "spark.sql.codegen.wholeStage": "true"}.items():
            self.spark.conf.set(k, v)
        self.clock = Clock()
        self.clock.jvm_pid = jvm_pid
        self.cpu_s: list[float] = []
        self.wall_s = 0.0

    def sample(self, times: int = 1) -> None:
        for _ in range(times):
            self.clock.reset()
            with self.clock:
                df = self.spark.range(0, REF_ROWS, numPartitions=8).selectExpr(
                    "id % 997 AS k", "sha2(CAST(id AS STRING), 256) AS h")
                df.groupBy("k").agg({"h": "max"}).collect()
                df.orderBy("h").selectExpr("sum(hash(h, k))").collect()
            self.cpu_s.append(self.clock.cpu)
            self.wall_s += self.clock.wall

    @property
    def samples(self) -> list[float]:
        return self.cpu_s[1:]


def untraced(run: Run, seconds: float) -> dict[str, float]:
    """SETUPS set-ups, each starting a Spark session (the previous one
    stopped) and building the workload's state in it, then the loop in the
    last session, with samples of the reference job before, between the
    phases of and after the iterations. Only the first set-up also launches
    the JVM, so the median leaves the JVM launch out. There is no warm-up
    iteration: the first iteration runs the workload's code paths cold, as
    a job launched once per run does (the JIT compiling them is left out of
    the CPU time and shows per layer as ``jvm.cold_jit_cpu_s``). Both
    metrics are medians, scaled by REF_CPU_S over the median reference
    sample."""
    clock = run.w.clock
    setups = []
    for _ in range(SETUPS):
        clock.reset()
        with clock:
            tr = run.start()
        setups.append(copy.copy(clock))
    ref = Reference(run.w.spark, clock.jvm_pid)
    ref.sample(REF_BEFORE)
    iters = list(run.loop(tr, seconds, between=ref.sample).values())
    ref.sample(REF_AFTER)
    print(json.dumps({k: [(c.wall, c.cpu, c.jit) for c in v]
                      for k, v in (("setups_wall_cpu_jit_s", setups),
                                   ("iterations_wall_cpu_jit_s", iters))}
                     | {"reference_cpu_s": ref.cpu_s, "reference_wall_s": ref.wall_s}),
          file=sys.stderr)
    scale = REF_CPU_S / statistics.median(ref.samples)
    return {
        "setup_s": scale * statistics.median(c.cpu for c in setups),
        "iter_cpu_s": scale * statistics.median(c.cpu for c in iters),
    }


def traced(run: Run, seconds: float) -> dict[str, float]:
    """Untraced iterations first (the first one cold), then a fresh session
    with the event log on and the traced iterations; per-iteration metrics
    come from the spans and the event log, reported as medians. The outputs
    of the last untraced and traced iterations must match."""
    run.w.compare = True
    tr = run.start()
    base_clocks = list(run.loop(tr, seconds / 2).values())
    cold = base_clocks[0]
    base = statistics.median(c.wall for c in base_clocks)
    log_dir = os.path.join(run.tmp, "eventlog")
    tr = run.start(traced=True, event_log=log_dir)
    persistent = run.w.spark.sparkContext._jsc.getPersistentRDDs
    held = persistent().size()
    clocks = run.loop(tr, seconds / 2, prefix="t")
    run.w.release()
    leaked = persistent().size() - held
    rss = peak_rss_mb(run.w.clock.jvm_pid)
    run.w.spark.stop()
    run.w.spark = None
    for p in run.w.parts:
        if p.signed:  # a phase that runs a traced copy of a fused call
            run.attempted += 1
            if p.signed.get(True) != p.signed.get(False):
                print(f"{type(p).__name__}: traced outputs differ from the program's "
                      f"call: {p.signed}", file=sys.stderr)
                run.failed += 1
    groups = fold_event_log(log_dir)
    per_iter = [layer_metrics(tr, groups, it, c.wall / base, leaked) for it, c in clocks.items()]
    for m in per_iter:
        m["driver.peak_rss_mb"] = rss
        m["run.wall_s"] = base
        m["jvm.cold_jit_cpu_s"] = cold.jit
    return {k: statistics.median(m[k] for m in per_iter) for k in PER_LAYER}


def layer_metrics(tr: Tracer, groups: dict, it: str, overhead: float, leaked: int) -> dict:
    m = dict.fromkeys(PER_LAYER, 0.0)
    for layer, s in tr.self_s(it).items():
        m[f"{layer}_s"] = s
    for (i, name), v in tr.counts.items():
        if i == it:
            m[name] = v
    mine = {g.split("|", 1)[1]: acc for g, acc in groups.items() if g.split("|", 1)[0] == it}
    total = {k: sum(acc[k] for acc in mine.values())
             for k in ("jobs", "stages", "tasks", "executor_run_s", "gc_s",
                       "shuffle_write_b", "spill_b")}
    m.update({
        "run.jobs": total["jobs"],
        "run.stages": total["stages"],
        "run.tasks": total["tasks"],
        "run.executor_run_s": total["executor_run_s"],
        "run.gc_s": total["gc_s"],
        "run.shuffle_write_mb": total["shuffle_write_b"] / MB,
        "run.spill_mb": total["spill_b"] / MB,
    })
    lo, hi = tr.windows[it]
    spans = [s for acc in mine.values() for s in acc["job_spans"]]
    m["run.job_gap_s"] = (hi - lo) - busy_s(spans, lo, hi)
    if "route.self" in mine:
        m["route.write_mb"] = mine["route.self"]["output_b"] / MB
        m["route.task_skew"] = task_skew(mine["route.self"]["task_ms"])
    if "features.self" in mine:
        m["features.shuffle_write_mb"] = mine["features.self"]["shuffle_write_b"] / MB
    if "manifest.overhead" in mine:
        m["manifest.extra_jobs"] = mine["manifest.overhead"]["jobs"]
    queries = [acc["jobs"] for g, acc in mine.items() if g.removeprefix("windows.") in DASHBOARD]
    if queries:
        m["windows.jobs_per_query"] = sum(queries) / len(queries)
    m["cache.leaked_persists"] = leaked
    m["cache.storage_peak_mb"] = tr.storage_peak_mb[it]
    m["trace.overhead_ratio"] = overhead
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(tmp, "java"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    run = None
    try:
        sf_dir = os.path.join(tmp, "input")
        planted = generate(args.seed, sf_dir, WORKLOADS[args.workload].sizes)
        run = Run(args.workload, sf_dir, tmp, planted)
        run.w.oracle()
        metrics = (traced if args.trace else untraced)(run, args.seconds)
    finally:
        if run is not None and run.w.spark is not None:
            run.w.spark.stop()
        stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:  # another run still uses it
            pass
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
