"""Golden tests vs a pure-pandas oracle transplanting ml4logs semantics
(SURVEY.md §5.2): BOW/TF-IDF (count_features.py), timedeltas
(extract_timedeltas.py), routed-row equality + per-sink counts (hdfs.py
fan-out), stable turn ordering."""

import hashlib
import math

import numpy as np
import pandas as pd
import re

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _mask(s: str) -> str:
    return re.sub(r"[0-9]+", "<*>", s)


def _train(conv_id: str) -> bool:
    return hashlib.md5(conv_id.encode()).hexdigest()[0] <= "b"


def test_template_dim_matches_pandas_oracle(spark, turns, turns_pdf):
    from ml4logs_spark.operators import parse

    got = parse.template_dim(turns).toPandas().sort_values("template_id")
    # oracle: distinct masked text, ids dense in sorted order, counts
    exp = (
        turns_pdf.assign(template=turns_pdf.text.map(_mask))
        .groupby("template").size().rename("occurrences").reset_index()
        .sort_values("template").reset_index(drop=True)
    )
    exp["template_id"] = range(1, len(exp) + 1)
    assert list(got.template) == list(exp.template)
    assert list(got.occurrences) == list(exp.occurrences)
    assert list(got.template_id) == list(exp.template_id)


def test_routed_row_equality(spark, turns, turns_pdf, tmp_path):
    """For each (template_bucket, role) sink of the pipeline's
    partitioned ``routed_turns`` write: exact row set with per-turn text
    equality under (conv_id, turn_idx) ordering — the north rule's core
    invariant."""
    from ml4logs_spark.plans.pipeline import run_pipeline

    wh = tmp_path / "wh"
    run_pipeline(spark, SF_DIR, str(wh))

    back = spark.read.parquet(str(wh / "routed_turns")).toPandas()

    # pandas oracle for sink assignment
    exp = turns_pdf.assign(template=turns_pdf.text.map(_mask))
    dim = sorted(exp.template.unique())
    tid = {t: i + 1 for i, t in enumerate(dim)}
    exp["template_bucket"] = exp.template.map(lambda t: tid[t] % 8)

    key = ["conv_id", "turn_idx"]
    got = back.sort_values(key).reset_index(drop=True)
    want = exp.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want)
    assert (got.conv_id.values == want.conv_id.values).all()
    assert (got.text.values == want.text.values).all()  # per-turn text equality
    assert (got.template_bucket.astype(int).values == want.template_bucket.values).all()
    assert (got.role.values == want.role.values).all()


def test_sink_counts_match_oracle(spark, turns, turns_pdf):
    from ml4logs_spark.operators import parse, route

    got = route.sink_counts(parse.parsed_turns(turns)).toPandas()
    exp = turns_pdf.assign(template=turns_pdf.text.map(_mask))
    tid = {t: i + 1 for i, t in enumerate(sorted(exp.template.unique()))}
    exp["bucket"] = exp.template.map(lambda t: tid[t] % 8)
    want = exp.groupby(["bucket", "role"]).agg(
        n_rows=("conv_id", "size"), n_convs=("conv_id", "nunique")
    ).reset_index()
    m = got.merge(want, left_on=["template_bucket", "role"], right_on=["bucket", "role"])
    assert len(m) == len(got) == len(want)
    assert (m.n_rows_x == m.n_rows_y).all()
    assert (m.n_convs_x == m.n_convs_y).all()


def test_tfidf_matches_pandas_oracle(spark, turns, turns_pdf):
    """idf = ln(B/df) fit on train convs, applied to all — float64,
    tolerance 1e-9 (count_features.py:51-83 semantics)."""
    from ml4logs_spark.operators import features as feat
    from ml4logs_spark.operators import parse

    counts = feat.conv_tool_counts(parse.parsed_turns(turns))
    got = feat.apply_tfidf(counts, feat.fit_idf(counts)).toPandas()

    exp = turns_pdf.assign(template=turns_pdf.text.map(_mask))
    tid = {t: i + 1 for i, t in enumerate(sorted(exp.template.unique()))}
    exp["template_id"] = exp.template.map(tid)
    cnt = exp.groupby(["conv_id", "tool", "template_id"], dropna=False).size()
    cnt = cnt.rename("cnt").reset_index()
    fit = cnt[cnt.conv_id.map(_train)]
    b = fit.conv_id.nunique()
    df_e = fit.groupby("template_id").conv_id.nunique()
    idf = np.log(b / df_e)

    merged = got.merge(cnt, on=["conv_id", "tool", "template_id"], how="outer",
                       suffixes=("_got", "_exp"))
    assert len(merged) == len(got) == len(cnt)
    assert (merged.cnt_got == merged.cnt_exp).all()
    exp_tfidf = merged.template_id.map(idf) * merged.cnt_exp
    both = merged.tfidf.notna() & exp_tfidf.notna()
    assert (merged.tfidf.isna() == exp_tfidf.isna()).all()
    assert np.allclose(merged.tfidf[both], exp_tfidf[both], atol=1e-9)


def test_timedeltas_match_pandas_oracle(spark, turns, turns_pdf):
    """log10(1 + Δs), first turn 0.0 (extract_timedeltas.py:70-81)."""
    from ml4logs_spark.operators import windows

    got = (
        windows.with_timedeltas(turns)
        .select("conv_id", "turn_idx", "td").toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    exp_rows = []
    for conv, g in turns_pdf.sort_values(["conv_id", "turn_idx"]).groupby("conv_id"):
        ts = g.ts.values.astype("datetime64[us]").astype(np.int64)
        td = np.ones(len(g), dtype=np.float64)
        td[1:] += np.diff(ts) / 1e6
        exp_rows.append(pd.DataFrame({
            "conv_id": conv, "turn_idx": g.turn_idx.values, "td": np.log10(td)
        }))
    exp = pd.concat(exp_rows).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert np.allclose(got.td, exp.td, atol=1e-9)
    # single-turn conversation -> exactly one row, td == 0
    assert got[got.conv_id == "conv-sing0001"].td.tolist() == [0.0]
    # duplicate-ts conv: second turn Δ=0 -> td 0
    assert got[got.conv_id == "conv-dupts001"].td.tolist()[1] == 0.0


def test_minmax_clip_and_degenerate_span(spark):
    from ml4logs_spark.operators import features as feat

    df = spark.createDataFrame(
        [("conv-a", 1.0), ("conv-a", 3.0), ("conv-d", 10.0)], "conv_id string, v double"
    )
    # md5('conv-a')[0]='9' -> train; md5('conv-d')[0]='e' -> apply-only
    out = feat.minmax_scale(df, "v", keys=[]).toPandas().sort_values("v")
    assert out.v_scaled.tolist() == [0.0, 1.0, 1.0]  # 10.0 clipped to 1


def test_stable_ordering_not_file_order(spark, tmp_path):
    """Write shuffled, read back, window features must be unchanged —
    the distributed replacement for the reference's order-alignment
    asserts (data/hdfs.py:139-143)."""
    from ml4logs_spark.datagen import transcripts as tx
    from ml4logs_spark.operators import windows
    from tests.conftest import SF_DIR

    out = tx.materialize(spark, SF_DIR, str(tmp_path / "mat"), buckets=7)
    t2 = tx.read_materialized(spark, out)
    a = (
        windows.with_timedeltas(tx.transcripts(spark, SF_DIR))
        .select("conv_id", "turn_idx", "td").toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    b = (
        windows.with_timedeltas(t2)
        .select("conv_id", "turn_idx", "td").toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)
