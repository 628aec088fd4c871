"""Resumability: kill after stage k, rerun -> identical final state,
already-committed sinks not rewritten (FIXTURES.md §6.7; north rule)."""

import os
import time

import pytest

from tests.conftest import SF_DIR, spark_jobs


def _mtimes(warehouse_dir, sink):
    p = os.path.join(warehouse_dir, sink)
    out = {}
    for root, _, files in os.walk(p):
        for f in files:
            fp = os.path.join(root, f)
            out[fp] = os.path.getmtime(fp)
    return out


def test_full_run_then_noop_rerun(spark, tmp_path):
    from ml4logs_spark.plans.pipeline import run_pipeline

    wh = str(tmp_path / "wh")
    ran1 = run_pipeline(spark, SF_DIR, wh)
    assert all(ran1.values())

    before = _mtimes(wh, "routed_turns")
    time.sleep(0.05)
    ran2 = run_pipeline(spark, SF_DIR, wh)
    assert not any(ran2.values())  # everything resumed, nothing ran
    assert _mtimes(wh, "routed_turns") == before  # sinks untouched


def test_kill_and_resume_identical(spark, tmp_path):
    from ml4logs_spark.plans.pipeline import run_pipeline

    wh_crash = str(tmp_path / "wh_crash")
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_pipeline(spark, SF_DIR, wh_crash, fail_after="routed_turns")

    committed_before = _mtimes(wh_crash, "routed_turns")
    ran = run_pipeline(spark, SF_DIR, wh_crash)
    # stages before the crash resumed (not rerun); stages after ran
    assert ran["template_dim"] is False
    assert ran["routed_turns"] is False
    assert ran["sink_counts"] and ran["conv_tool_tfidf"] and ran["timedelta_features"]
    assert _mtimes(wh_crash, "routed_turns") == committed_before

    # final state identical to an uninterrupted run
    wh_clean = str(tmp_path / "wh_clean")
    run_pipeline(spark, SF_DIR, wh_clean)
    for sink in ["sink_counts", "conv_tool_tfidf", "timedelta_features"]:
        a = spark.read.parquet(os.path.join(wh_crash, sink)).toPandas()
        b = spark.read.parquet(os.path.join(wh_clean, sink)).toPandas()
        cols = sorted(a.columns)
        a = a[cols].sort_values(cols).reset_index(drop=True)
        b = b[cols].sort_values(cols).reset_index(drop=True)
        assert a.equals(b), sink


def test_manifest_records_partition_lineage(spark, tmp_path):
    from ml4logs_spark.plans.pipeline import run_pipeline
    from ml4logs_spark.sources.manifest import Manifest
    from ml4logs_spark.sources.tables import Warehouse

    wh = str(tmp_path / "wh")
    run_pipeline(spark, SF_DIR, wh)
    recs = Manifest(Warehouse(spark, wh)).load()
    routed = [r for r in recs if r["sink"] == "routed_turns"]
    assert len(routed) == 1
    lin = routed[0]["partition_lineage"]
    assert lin and sum(lin.values()) == routed[0]["row_count"]
    assert all(r["wall_ms"] >= 0 and r["status"] == "committed" for r in recs)


def test_input_change_invalidates_resume(spark, tmp_path):
    from ml4logs_spark.sources.manifest import Manifest, input_fingerprint
    from ml4logs_spark.sources.tables import Warehouse

    a = input_fingerprint([f"{SF_DIR}/events.parquet"])
    b = input_fingerprint(["/root/testdata/sf0.01/events.parquet"])
    assert a != b

    wh = Warehouse(spark, str(tmp_path / "wh"))
    man = Manifest(wh)
    from ml4logs_spark.datagen import transcripts as tx

    ran1 = man.run_stage("s", "t1", a, lambda: tx.role_dim(spark))
    ran2 = man.run_stage("s", "t1", b, lambda: tx.role_dim(spark))
    assert ran1 and ran2  # different fingerprint -> stage reran


def test_reverted_fingerprint_reruns_stage(spark, tmp_path):
    """Only the sink's newest commit resumes: after A -> B the table is
    B's, so going back to A rebuilds it, and A again resumes."""
    from ml4logs_spark.datagen import transcripts as tx
    from ml4logs_spark.sources.manifest import Manifest
    from ml4logs_spark.sources.tables import Warehouse

    man = Manifest(Warehouse(spark, str(tmp_path / "wh")))
    ran = [man.run_stage("s", "t1", fp, lambda: tx.role_dim(spark))
           for fp in ["a", "b", "a", "a"]]
    assert ran == [True, True, True, False]
    assert man.record("s", "t1", "b") is None
    assert man.record("s", "t1", "a") == man.latest("t1")


def test_pipeline_job_budget(spark, tmp_path):
    """A fresh run commits five stages in at most 23 Spark jobs: a commit
    takes its counts from the written footers and a committed table is
    read with its written schema, so neither runs a job; a rerun resumes
    every stage and builds nothing, so it runs none."""
    from ml4logs_spark.plans.pipeline import run_pipeline

    wh = str(tmp_path / "wh")
    jobs, _ = spark_jobs(spark, "budget-fresh", lambda: run_pipeline(spark, SF_DIR, wh))
    assert jobs <= 23
    jobs, _ = spark_jobs(spark, "budget-rerun", lambda: run_pipeline(spark, SF_DIR, wh))
    assert jobs == 0


def _spark_counts(spark, path, keys):
    """A commit's counts as a fresh Spark read gives them: count() and
    the per-key group-by collect."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    lineage = None
    if keys:
        lineage = {"/".join(str(v) for v in r[:-1]): r[-1]
                   for r in df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n")).collect()}
    return df.count(), lineage


_ESCAPED = ["a/b", "k=v", "100%", "two words", "é", "naïve 😀", "x:y?", "007"]

# (rows of (id, s, d), partition_by, lineage keys)
_COUNT_CASES = {
    "empty": ([], None, None),
    "unpartitioned": ([(1, "a", "x"), (2, None, "y")], None, None),
    "null_value": ([(1, None, "x"), (2, None, "y"), (3, "a", "x")], ["s"], ["s"]),
    "escaped": ([(i, v, "x") for i, v in enumerate(_ESCAPED * 2)], ["s"], ["s"]),
    "digit_string": ([(1, "007", "x"), (2, "007", "y"), (3, "42", "y")], ["s"], ["s"]),
    "two_keys": ([(1, "007", "x"), (2, None, "y"), (3, "a/b", "y")], ["s", "d"], ["s", "d"]),
    "key_subset": ([(1, "a", "x"), (2, "b", "x"), (3, "a", "y")], ["s", "d"], ["d"]),
    "key_order": ([(1, "a", "x"), (2, "b", "x"), (3, "a", "y")], ["s", "d"], ["d", "s"]),
}


@pytest.mark.parametrize("case", sorted(_COUNT_CASES))
def test_footer_counts_match_spark_counts(spark, tmp_path, case):
    """``Warehouse.counts`` reads a commit's (row count, lineage) from the
    footers and partition directory names with no Spark job, and equals
    a fresh read's count and group-by: a NULL partition value is keyed
    "None", Hive-escaped values unescaped, and a digit-string column
    reads back as int ("007" -> "7") unless a value in it is not a
    number."""
    from ml4logs_spark.sources.tables import Warehouse

    rows, parts, keys = _COUNT_CASES[case]
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.write(spark.createDataFrame(rows, "id int, s string, d string"), "t", partition_by=parts)
    jobs, got = spark_jobs(spark, f"footer-{case}", lambda: wh.counts("t", keys))
    assert jobs == 0
    assert got == _spark_counts(spark, wh.path("t"), keys)


def test_footer_counts_empty_partitioned_sink(spark, tmp_path):
    """An empty partitioned write leaves no part files, so a fresh read
    cannot infer a schema and the old read-back commit raised. The
    footer count commits it as 0 rows and no partitions, and the read
    gives the written columns, the partition columns last."""
    from pyspark.errors import AnalysisException

    from ml4logs_spark.sources.manifest import Manifest
    from ml4logs_spark.sources.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    empty = spark.createDataFrame([], "id int, s string, d string")
    assert Manifest(wh).run_stage("s", "t", "fp", lambda: empty,
                                  partition_by=["s"], lineage_keys=["s"])
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        _spark_counts(spark, wh.path("t"), ["s"])
    rec = Manifest(wh).latest("t")
    assert (rec["row_count"], rec["partition_lineage"]) == (0, {})
    read = wh.read("t")
    assert read.columns == ["id", "d", "s"] and read.count() == 0


def _committed_reads(spark, monkeypatch, run):
    """{sink: (jobs of the read right after its write, its schema json, a
    fresh read's schema json)} over the writes ``run()`` commits."""
    from ml4logs_spark.sources.tables import Warehouse

    seen = {}
    write = Warehouse.write

    def checked_write(self, df, name, partition_by=None, mode="overwrite"):
        write(self, df, name, partition_by=partition_by, mode=mode)
        jobs, read = spark_jobs(spark, f"read-{name}", lambda: self.read(name))
        seen[name] = (jobs, read.schema.json(),
                      spark.read.parquet(self.path(name)).schema.json())

    with monkeypatch.context() as m:
        m.setattr(Warehouse, "write", checked_write)
        run()
    return seen


def test_committed_table_reads_without_a_job(spark, tmp_path, monkeypatch):
    """Every save sink of ``PIPELINE`` and of the shipped transcripts
    config reads back right after its commit with no Spark job, under
    the schema (nullability included) that a fresh read infers."""
    import json
    from pathlib import Path

    from ml4logs_spark.plans.config_runner import run_config
    from ml4logs_spark.plans.pipeline import PIPELINE, run_pipeline

    cfg = json.loads((Path(__file__).resolve().parent.parent / "configs"
                      / "transcripts_preprocess.json").read_text())
    cfg["warehouse"] = str(tmp_path / "cfg")
    runs = {
        "PIPELINE": (PIPELINE, lambda: run_pipeline(spark, SF_DIR, str(tmp_path / "wh"))),
        "config": (cfg["pipeline"], lambda: run_config(spark, cfg)),
    }
    for label, (steps, run) in runs.items():
        seen = _committed_reads(spark, monkeypatch, run)
        assert sorted(seen) == sorted(s.get("out", s["action"]) for s in steps
                                      if s.get("save")), label
        for sink, (jobs, given, inferred) in seen.items():
            assert jobs == 0, (label, sink)
            assert given == inferred, (label, sink)
