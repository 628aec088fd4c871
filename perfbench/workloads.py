"""The benchmark workloads: ``transcripts`` and ``corpus``.

Each workload is driven by one client in a closed loop: an iteration runs
the workload's phases in order, each making its calls into the program one
after another, each call waiting for the previous. A phase returns the wall
of its calls and one ``(op, ok)`` pair per checked output; the checks run
after the clock stops. Traced and untraced iterations make the same calls;
where one call fuses several layers (``run_pipeline``, ``curate_corpus``,
``incremental_near_dup_verified``), the traced iteration makes the calls
that one makes, in its order, one layer at a time, each layer's input
persisted and materialized first, so a span's wall is that layer's self
time. A traced run also records what the fused call and its traced copy
output (``Phase.sign``), so a copy that drifts from the program's call
fails a check.
"""

from __future__ import annotations

import copy
import os
import shutil
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ml4logs_spark import cache
from ml4logs_spark.datagen import transcripts as tx
from ml4logs_spark.operators import curate, dedup, parse, route, similarity, textqa, windows
from ml4logs_spark.operators import enrich as enrich_op
from ml4logs_spark.operators import features as feat
from ml4logs_spark.oracle.sql import ORACLES
from ml4logs_spark.plans.pipeline import STAGES, run_pipeline
from ml4logs_spark.sources.manifest import Manifest, input_fingerprint
from ml4logs_spark.sources.tables import Warehouse

from bench import ensure_input
from gen import Sizes
from spans import Tracer
from tools.check_oracle import compare_frames

# the dashboard refresh: six of the eleven telemetry functions bench.py's
# telemetry_pack runs, one per mechanism (two-phase exact percentiles,
# histogram state, daily rollup + drift, top-k, lead/lag transitions,
# per-conversation endings), in telemetry_pack's order
DASHBOARD = [
    "tool_latency_percentiles",
    "tool_latency_histogram_state",
    "daily_health_drift",
    "slowest_tool_calls",
    "tool_transition_counts",
    "conv_ending_rollup",
]

PQ_PURITY_FLOOR = 0.9  # bench.py's pq_purity_floor
QUANT_RECALL_FLOOR = 0.9  # bench.py's quantized_recall_floor
PLANTED_RECALL_FLOOR = 0.99  # LSH is probabilistic; planted pairs have Jaccard >= 0.95
NEAR_DUP_JACCARD = 0.8  # incremental_near_dup_verified's default threshold


def keep(df: DataFrame) -> DataFrame:
    """Persist and materialize: the caller keeps the result, as a user
    keeping it for the next step would."""
    df = df.persist()
    df.count()
    return df


def _proc_cpu_s(stat_path: str) -> float:
    """utime + stime of a /proc stat file, in seconds."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class Clock:
    """Wall seconds, and CPU seconds of this process plus the driver JVM
    (which runs the local executors), spent inside ``with clock:``. CPU
    time leaves out what a busy host steals from the VM; wall does not.

    ``cpu`` leaves out the JVM's JIT compiler threads, which are counted
    apart in ``jit``: their time follows the JVM's compile policy more than
    the program's work (with the C2 compiler on, about 60 % of the JVM's
    CPU in a cold ``transcripts`` iteration on a 4-core host; the session
    runs C1 alone, see ``run.session``). The session keeps its compiler
    threads alive, so none of their time leaves with an exited thread."""

    def __init__(self):
        self.jvm_pid: int | None = None
        self.wall = self.cpu = self.jit = 0.0

    def _cpu(self) -> tuple[float, float]:
        """(CPU s of this process and the JVM without its JIT compiler
        threads, CPU s of those threads)."""
        own = os.times()
        own = own.user + own.system
        if self.jvm_pid is None:  # before the session starts
            return own, 0.0
        jit = 0.0
        for task in os.listdir(f"/proc/{self.jvm_pid}/task"):
            d = f"/proc/{self.jvm_pid}/task/{task}"
            try:
                with open(f"{d}/comm") as f:
                    if not f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                        continue
                jit += _proc_cpu_s(f"{d}/stat")
            except OSError:  # a thread that exited meanwhile
                continue
        return own + _proc_cpu_s(f"/proc/{self.jvm_pid}/stat") - jit, jit

    def reset(self) -> None:
        self.wall = self.cpu = self.jit = 0.0

    def __enter__(self):
        self._t0, (self._c0, self._j0) = time.perf_counter(), self._cpu()

    def __exit__(self, *exc):
        self.wall += time.perf_counter() - self._t0
        cpu, jit = self._cpu()
        self.cpu += cpu - self._c0
        self.jit += jit - self._j0


class Phase:
    """One part of a workload's iteration. ``run`` makes its calls inside
    the workload's clock and returns one ``(op, ok)`` pair per checked
    output; the checks run after the clock stops."""

    def __init__(self, w: "Workload"):
        self.w = w
        self.kept: list[DataFrame] = []
        self.signed: dict[bool, object] = {}  # traced? -> output signature

    @property
    def spark(self) -> SparkSession:
        return self.w.spark

    def oracle(self) -> None:
        """Expected outputs computed once per run, before any session."""

    def setup(self) -> None:
        """Session-side state the loop reads (tables, day-1 state), built in
        each new session."""

    def run(self, tr: Tracer) -> list[tuple[str, bool]]:
        """Make the phase's calls inside ``self.w.clock``, then check."""
        raise NotImplementedError

    def sign(self, tr: Tracer, signature) -> None:
        """Record ``signature()``, the iteration's output counts and columns,
        when the run compares traced and untraced iterations."""
        if self.w.compare:
            self.signed[tr.enabled] = signature()

    def hold(self, df: DataFrame) -> DataFrame:
        df = keep(df)
        self.kept.append(df)
        return df

    def release(self) -> None:
        for df in self.kept:
            df.unpersist()
        self.kept.clear()
        cache.release_all()


def planted_found(pairs: DataFrame, a: str, b: str, planted: list) -> bool:
    found = {(r[0], r[1]) for r in pairs.select(a, b).collect()}
    hits = sum(tuple(sorted(p)) in found for p in planted)
    return hits >= PLANTED_RECALL_FLOOR * len(planted)


def one_per_group(out: DataFrame, key: str, groups: list) -> bool:
    """Non-empty, and at most one member of each planted exact group."""
    ids = {r[0] for r in out.select(key).distinct().collect()}
    return bool(ids) and all(sum(i in ids for i in g) <= 1 for g in groups)


class Pipeline(Phase):
    """``run_pipeline`` from an empty warehouse, as jobs/run_pipeline.py
    runs it."""

    def setup(self) -> None:
        self.n_turns = tx.transcripts(self.spark, self.w.sf).count()
        self.n = 0

    def run(self, tr):
        self.n += 1
        wh_dir = os.path.join(self.w.tmp, f"warehouse-{self.n}")
        with self.w.clock:
            if tr.enabled:
                self._traced(tr, wh_dir)
            else:
                run_pipeline(self.spark, self.w.sf, wh_dir)
        ok = self._check(wh_dir)
        self.sign(tr, lambda: self._signature(wh_dir))
        self.release()
        shutil.rmtree(wh_dir, ignore_errors=True)
        return [("run_pipeline", ok)]

    def _check(self, wh_dir: str) -> bool:
        """Routed rows and sink_counts sums equal the input turns, and all
        five stages committed."""
        wh = Warehouse(self.spark, wh_dir)
        routed = wh.read("routed_turns").count()
        sinks = wh.read("sink_counts").agg(F.sum("n_rows")).first()[0]
        commits = [r["sink"] for r in Manifest(wh).load() if r["status"] == "committed"]
        return routed == self.n_turns and sinks == self.n_turns and commits == STAGES

    def _signature(self, wh_dir: str) -> list:
        """Each committed stage's sink, row count, partition lineage and
        columns, as the manifest records them."""
        wh = Warehouse(self.spark, wh_dir)
        return [(r["stage"], r["sink"], r["row_count"], r["partition_lineage"],
                 wh.read(r["sink"]).columns)
                for r in Manifest(wh).load() if r["status"] == "committed"]

    def _traced(self, tr: Tracer, wh_dir: str) -> None:
        """run_pipeline's calls, one layer per span; each stage commit runs
        in a ``manifest.overhead`` span whose sink write is the producing
        layer's."""
        spark = self.spark
        wh = Warehouse(spark, wh_dir)
        man = Manifest(wh)
        fp = input_fingerprint([f"{self.w.sf}/events.parquet"])
        write = wh.write
        writer = {}

        def layer_write(df, name, partition_by=None, mode="overwrite"):
            with tr.span(writer["layer"]):
                write(df, name, partition_by=partition_by, mode=mode)

        wh.write = layer_write

        def commit(layer, stage, sink, build, **kw):
            writer["layer"] = layer
            with tr.span("manifest.overhead"):
                man.run_stage(stage, sink, fp, build, **kw)

        with tr.span("datagen.scan"):
            turns = self.hold(tx.transcripts(spark, self.w.sf))
        with tr.span("parse.self"):
            dim0 = self.hold(parse.template_dim(turns))
        tr.count("parse.templates", dim0.count())
        commit("parse.self", "parse", "template_dim", lambda: dim0)
        dim = wh.read("template_dim")
        with tr.span("parse.self"):
            parsed = self.hold(parse.parsed_turns(turns, dim))
        with tr.span("enrich.self"):
            enriched = self.hold(enrich_op.enrich(parsed, tx.role_dim(spark), tx.tool_dim(spark)))
        commit("route.self", "route", "routed_turns",
               lambda: route.with_sink_key(enriched).drop("sink_key"),
               partition_by=["template_bucket", "role"],
               lineage_keys=["template_bucket", "role"])
        routed = wh.read("routed_turns")
        commit("route.self", "aggregate", "sink_counts",
               lambda: routed.groupBy("template_bucket", "role").agg(
                   F.count(F.lit(1)).alias("n_rows"),
                   F.countDistinct("conv_id").alias("n_convs")))
        with tr.span("features.self"):
            counts = self.hold(feat.conv_tool_counts(routed))
            tfidf = self.hold(feat.apply_tfidf(counts, feat.fit_idf(counts)))
        commit("features.self", "aggregate", "conv_tool_tfidf", lambda: tfidf)
        with tr.span("windows.timedeltas"):
            td = self.hold(windows.with_timedeltas(turns).select("conv_id", "turn_idx", "td"))
        commit("windows.timedeltas", "aggregate", "timedelta_features", lambda: td)


class Dashboard(Phase):
    """One refresh: six of the eleven telemetry queries (``DASHBOARD``),
    each collected to the driver, over the bucketed and sorted turns
    table."""

    def oracle(self) -> None:
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{self.w.sf}/events.parquet'")
        # the query over tool_latency_histogram_state is named for its output
        names = {q: q for q in DASHBOARD} | {
            "tool_latency_histogram_state": "tool_latency_histogram"}
        self.expected = {q: con.execute(ORACLES[names[q]]).df() for q in DASHBOARD}
        con.close()

    def run(self, tr):
        got = {}
        with self.w.clock:
            for q in DASHBOARD:
                with tr.span(f"windows.{q}"):
                    got[q] = getattr(windows, q)(self.w.turns).toArrow()
        return [
            (q, compare_frames(got[q].to_pandas(), self.expected[q]) is None)
            for q in DASHBOARD
        ]


class DocCuration(Phase):
    """Day 1: curate_corpus over the documents (eight parquet files) with
    the held-out set as decontamination benchmark. Day 2: the odd doc ids
    probe the even ids' near-dup state, as bench.py splits them."""

    def setup(self) -> None:
        spark = self.spark
        self.docs = spark.read.parquet(f"{self.w.sf}/documents.parquet")
        self.heldout = spark.read.parquet(f"{self.w.sf}/heldout.parquet")
        hist = self.docs.filter(F.col("doc_id") % 2 == 0)
        self.new_docs = self.docs.filter(F.col("doc_id") % 2 == 1)
        self.bands = keep(dedup.lsh_bands(dedup.minhash_signatures(hist)))
        self.store = keep(dedup.shingle_store(hist))
        cache.release_all()

    def run(self, tr):
        with self.w.clock:
            if tr.enabled:
                chunks = self._traced_curate_corpus(tr)
                pairs = self._traced_day2(tr)
            else:
                chunks = self.hold(curate.curate_corpus(self.docs, self.heldout))
                pairs = self.hold(dedup.incremental_near_dup_verified(
                    self.new_docs, self.bands, self.store))
        self.sign(tr, lambda: [(df.count(), df.columns) for df in (chunks, pairs)])
        p = self.w.planted
        ok = [
            ("curate_corpus", one_per_group(chunks, "doc_id", p["doc_exact"])),
            ("day2_docs", planted_found(pairs, "doc_a", "doc_b", [
                q for q in p["doc_near"] if q[0] % 2 or q[1] % 2])),
        ]
        self.release()
        return ok

    def _traced_curate_corpus(self, tr: Tracer) -> DataFrame:
        """curate_corpus with its default arguments, one layer per span."""
        with tr.span("dedup.exact"):
            surv = self.hold(dedup.exact_dedup(self.docs))
        with tr.span("textqa.gate"):
            good = self.hold(textqa.quality_filter(surv, keep_cols=("text",))
                             .select("doc_id", "text"))
        with tr.span("dedup.decontaminate"):
            clean = self.hold(dedup.decontaminate(good, self.heldout))
        with tr.span("textqa.mask_chunk"):
            masked = textqa.mask_pii(clean).select("doc_id", F.col("masked_text").alias("text"))
            return self.hold(textqa.chunk_documents(masked))

    def _traced_day2(self, tr: Tracer) -> DataFrame:
        """incremental_near_dup_verified, split at its candidate step."""
        with tr.span("dedup.day2_docs_probe"):
            cands = self.hold(dedup.incremental_near_dups(self.new_docs, self.bands))
        with tr.span("dedup.day2_docs_verify"):
            new_store = dedup.shingle_store(self.new_docs)
            store = self.hold(self.store.select("doc_id", "sh_sig").unionByName(
                new_store.join(self.store.select("doc_id"), "doc_id", "left_anti")))
            pairs = self.hold(dedup.store_jaccard_pairs(store, cands)
                              .filter(F.col("jaccard") >= NEAR_DUP_JACCARD))
        n_cands, n_pairs = cands.count(), pairs.count()
        tr.count("dedup.day2_docs_candidates", n_cands)
        tr.count("dedup.day2_docs_pairs", n_pairs)
        tr.count("dedup.day2_docs_yield", n_pairs / max(n_cands, 1))
        return pairs


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def topk(vecs: np.ndarray, qids: list[int], k: int = 10) -> np.ndarray:
    """Row indices of each query's k nearest rows by cosine, self excluded."""
    u = _unit(vecs)
    sims = u[qids] @ u.T
    sims[np.arange(len(qids)), qids] = -np.inf
    return np.argsort(-sims, axis=1, kind="stable")[:, :k]


class Vectors(Phase):
    """The embedding index build over a one-split corpus: int8 quantizer
    and codes, and PQ codebooks."""

    QIDS = list(range(5))

    def setup(self) -> None:
        path = f"{self.w.sf}/embeddings.parquet"
        self.emb = self.spark.read.parquet(path)
        t = pq.read_table(path)
        self.vecs = np.stack(t["embedding"].to_numpy(zero_copy_only=False))
        self.labels = t["label"].to_numpy()

    def run(self, tr):
        if tr.enabled:
            tr.count("similarity.input_partitions", self.emb.rdd.getNumPartitions())
        with self.w.clock:
            with tr.span("similarity.quantize"):
                quant = self.hold(similarity.fit_quantizer(self.emb))
                codes = self.hold(similarity.quantize_embeddings(self.emb, quant))
            with tr.span("similarity.pq_fit"):
                pq_cb = self.hold(similarity.fit_pq_codebooks(self.emb))
        ok = [
            ("quantize", self._int8_recall(quant, codes) >= QUANT_RECALL_FLOOR),
            ("pq", self._pq_purity(pq_cb) >= PQ_PURITY_FLOOR),
        ]
        self.release()
        return ok

    def _int8_recall(self, quant: DataFrame, codes: DataFrame) -> float:
        """bench.py's quantized recall@10, from the program's int8 codes."""
        q = quant.toPandas().sort_values("dim_idx")
        lo, hi = q.lo.to_numpy(), q.hi.to_numpy()
        pdf = codes.toPandas()
        rows = np.zeros_like(self.vecs)
        rows[pdf.vec_id.to_numpy()] = np.stack(pdf.codes.to_numpy())
        deq = lo + (rows + 128) / 255 * (hi - lo)
        exact, approx = topk(self.vecs, self.QIDS), topk(deq, self.QIDS)
        return float(np.mean([len(set(a) & set(b)) / 10 for a, b in zip(exact, approx)]))

    def _pq_purity(self, cb: DataFrame) -> float:
        """bench.py's PQ cluster purity@10 for the program's codebooks: each
        sub-vector is coded to its nearest sub-centroid (pq_encode's rule)
        and the neighbours are ranked on the reconstruction."""
        book = cb.toPandas().sort_values(["sub", "cent_id"])
        rec = []
        for sub, g in book.groupby("sub"):
            cents = np.stack(g.cv.to_numpy())
            part = self.vecs[:, sub * cents.shape[1]:(sub + 1) * cents.shape[1]]
            nearest = ((part[:, None, :] - cents[None]) ** 2).sum(-1).argmin(1)
            rec.append(cents[nearest])
        nn = topk(np.hstack(rec), self.QIDS)
        return float((self.labels[nn] == self.labels[self.QIDS][:, None]).mean())


class Workload:
    """A seeded input plus the phases one iteration runs, in order."""

    name = ""
    sizes = Sizes()
    phases: tuple[type[Phase], ...] = ()

    def __init__(self, sf_dir: str, tmp: str, planted: dict):
        self.spark: SparkSession | None = None
        self.clock = Clock()
        self.compare = False  # sign outputs, to compare traced with untraced
        self.sf, self.tmp, self.planted = sf_dir, tmp, planted
        self.parts = [p(self) for p in self.phases]

    def oracle(self) -> None:
        for p in self.parts:
            p.oracle()

    def setup(self) -> None:
        for p in self.parts:
            p.setup()

    def iteration(self, tr: Tracer, between=None) -> tuple[Clock, list[tuple[str, bool]]]:
        """Run the phases, ``between()`` between each two, off the clock;
        returns the clock of their calls, and the checks."""
        self.clock.reset()
        ops = []
        for i, p in enumerate(self.parts):
            if i and between:
                between()
            ops += p.run(tr)
        return copy.copy(self.clock), ops

    def release(self) -> None:
        for p in self.parts:
            p.release()


class Transcripts(Workload):
    """The paper's job and the dashboard read beside it on the same turns:
    ``run_pipeline``, then a telemetry refresh."""

    name = "transcripts"
    sizes = Sizes(events=32_000)
    phases = (Pipeline, Dashboard)

    def setup(self) -> None:
        # bench.py's bucketed, sorted table; 8 buckets = 2 tasks per core
        table = ensure_input(self.spark, self.sf, 1, buckets=8)
        self.turns = self.spark.table(table)
        self.turns.count()
        super().setup()


class Corpus(Workload):
    """Document curation with its day-2 near-dup probe, and the embedding
    index build."""

    name = "corpus"
    sizes = Sizes(docs=8_000, vectors=2_000)
    phases = (DocCuration, Vectors)


WORKLOADS = {w.name: w for w in (Transcripts, Corpus)}
