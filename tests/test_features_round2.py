"""Round-2 operator tests: array max-pool (A6 full), feature merge (J3
full), embedding production (F2), dense fit-schema counts."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ml4logs_spark.operators import encode, features as feat

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_array_maxpool_matches_numpy(spark, emb):
    out = feat.array_maxpool(emb, "label", "embedding", dim=64).toPandas()
    pdf = emb.toPandas()
    for _, row in out.iterrows():
        mats = np.stack(pdf[pdf.label == row.label].embedding.values).astype("float64")
        np.testing.assert_allclose(
            np.asarray(row.max_embedding), mats.max(axis=0), rtol=1e-12
        )


def test_merge_features_hstack(spark):
    schema = "conv_id string, turn_idx int, features array<double>"
    a = spark.createDataFrame(
        [("c1", 0, [1.0, 2.0]), ("c1", 1, [3.0, 4.0]), ("c2", 0, [5.0, 6.0])], schema
    )
    # c2/0 missing on b -> dropped (reference same-length assert analog)
    b = spark.createDataFrame([("c1", 0, [10.0]), ("c1", 1, [20.0])], schema)
    out = feat.merge_features(a, b, ["conv_id", "turn_idx"]).toPandas()
    got = {
        (r.conv_id, r.turn_idx): list(r.features) for _, r in out.iterrows()
    }
    assert got == {("c1", 0): [1.0, 2.0, 10.0], ("c1", 1): [3.0, 4.0, 20.0]}


def test_turn_embeddings_deterministic_stub(spark, turns):
    out = encode.turn_embeddings(turns.limit(20), dim=8).toPandas()
    assert len(out) == 20
    ref = encode.HashEncoder(8)
    src = turns.limit(20).select("conv_id", "turn_idx", "text").toPandas()
    expected = {
        (r.conv_id, r.turn_idx): ref.encode_batch([r.text])[0]
        for _, r in src.iterrows()
    }
    for _, r in out.iterrows():
        assert list(r.embedding) == expected[(r.conv_id, r.turn_idx)]
        assert len(r.embedding) == 8


def test_encoder_factory_once_per_task(spark):
    """The encoder must be constructed once per executor task, never per
    batch/row — the pandas_udf iterator form guarantees it."""
    from pyspark.sql import SparkSession

    inits = spark.sparkContext.accumulator(0)

    class CountingEncoder(encode.HashEncoder):
        def __init__(self, dim):
            super().__init__(dim)
            inits.add(1)

    df = spark.range(500).select(
        F.concat(F.lit("text "), F.col("id").cast("string")).alias("text"),
        F.lit("c").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
    ).coalesce(1)
    # small arrow batches force multiple batches through one task
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        out = encode.turn_embeddings(
            df, dim=4, encoder_factory=lambda: CountingEncoder(4)
        )
        # count() would let Catalyst PRUNE the udf column (inits stays 0)
        # — force full computation through a noop sink instead.
        out.write.format("noop").mode("overwrite").save()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    # one partition -> one task -> exactly one model construction even
    # though ~10 Arrow batches streamed through it
    assert inits.value == 1


def test_dense_fit_counts_schema_evolution(spark):
    """Zero-fill unseen-at-transform; drop unseen-at-fit
    (count_features.py:46-49, 72-76)."""
    # conv_id 'zz...' hashes outside the train split (md5 prefix > 'b')
    # -> template 99 is apply-only and must be dropped from the schema.
    rows = [
        ("conv-a", "t", 1, 2),   # train (md5('conv-a') starts <= 'b')
        ("conv-a", "t", 2, 1),
        ("conv-d", "t", 1, 5),
    ]
    import hashlib

    train = [r for r in rows if hashlib.md5(r[0].encode()).hexdigest()[0] <= "b"]
    assert train, "fixture needs at least one train conv"
    apply_only_conv = "conv-x"
    while hashlib.md5(apply_only_conv.encode()).hexdigest()[0] <= "b":
        apply_only_conv += "x"
    rows.append((apply_only_conv, "t", 99, 7))
    counts = spark.createDataFrame(
        rows, "conv_id string, tool string, template_id long, cnt long"
    )
    out = feat.dense_fit_counts(counts).toPandas()
    fit_templates = {r[2] for r in rows if hashlib.md5(r[0].encode()).hexdigest()[0] <= "b"}
    assert 99 not in fit_templates  # planted apply-only template
    assert set(out.template_id) == fit_templates
    n_convs = len({r[0] for r in rows})
    assert len(out) == n_convs * len(fit_templates)  # dense grid
    # zero-fill: apply-only conv has rows for every fit template, cnt 0
    z = out[out.conv_id == apply_only_conv]
    assert len(z) == len(fit_templates) and (z.cnt == 0).all()


def test_rolling_fingerprint_winnowing_property(spark):
    from ml4logs_spark.operators import textqa

    x = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [(1, x), (2, x), (3, "zzz " + x + " qqq"), (4, "totally different words here")],
        "doc_id long, text string",
    )
    fp = textqa.doc_rolling_fingerprint(docs).toPandas().set_index("doc_id").roll_fp
    assert fp[1] == fp[2]            # identical content -> identical fp
    assert fp[3] <= fp[1]            # superset windows -> min can only drop
    assert (fp >= 0).all()
