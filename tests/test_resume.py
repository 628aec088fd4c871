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
    """A fresh run commits five stages in at most 40 Spark jobs (each
    committed table's schema is inferred once); a rerun resumes every
    stage and builds nothing, so it runs none."""
    from ml4logs_spark.plans.pipeline import run_pipeline

    wh = str(tmp_path / "wh")
    jobs, _ = spark_jobs(spark, "budget-fresh", lambda: run_pipeline(spark, SF_DIR, wh))
    assert jobs <= 40
    jobs, _ = spark_jobs(spark, "budget-rerun", lambda: run_pipeline(spark, SF_DIR, wh))
    assert jobs == 0
