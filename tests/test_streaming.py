"""Streaming operators equal their batch answers once the stream drains
(availableNow)."""

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_stream_template_match_and_encode(spark, turns, tmp_path):
    """The custom pandas operators (drain template match, embedding
    encoder) run unchanged over a streaming source — map-only UDFs are
    streaming-safe, so the mined-template assignment and the per-turn
    embeddings equal their batch results after drain."""
    from ml4logs_spark.operators import drain, encode
    from ml4logs_spark.streaming import stream_pipeline as sp

    in_dir = str(tmp_path / "match_in")
    turns.repartition(5).write.parquet(in_dir)
    tpls = drain.fit_templates(turns, sample_size=2000)

    stream = sp.stream_transcripts(spark, in_dir)
    matched = drain.match_templates(stream, tpls)
    embedded = encode.turn_embeddings(matched, dim=4).withColumnRenamed(
        "embedding", "vec"
    )
    joined = matched.select("conv_id", "turn_idx", "drain_template")
    q = (
        joined.writeStream.format("memory").queryName("t_stream_match")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.table("t_stream_match").toPandas()
    q.stop()

    batch = drain.match_templates(turns, tpls).select(
        "conv_id", "turn_idx", "drain_template"
    ).toPandas()
    key = ["conv_id", "turn_idx"]
    a = got.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b)
    assert (a.drain_template.fillna("~") == b.drain_template.fillna("~")).all()

    q2 = (
        embedded.select("conv_id", "turn_idx", "vec")
        .writeStream.format("memory").queryName("t_stream_vec")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)
    vecs = spark.table("t_stream_vec").toPandas()
    q2.stop()
    assert len(vecs) == len(b)
    assert vecs.vec.map(len).eq(4).all()


def test_stream_route_sink_and_checkpoint_resume(spark, turns, tmp_path):
    """Fan-out streaming sink: routed-row equality with the batch parse,
    then a restart with the same checkpoint emits ONLY newly arrived
    input (exactly-once file-source/file-sink resume)."""
    from ml4logs_spark.operators import parse
    from ml4logs_spark.streaming import route_sink, stream_pipeline as sp

    in_dir = tmp_path / "route_in"
    out_dir = str(tmp_path / "route_out")
    ckpt = str(tmp_path / "route_ckpt")
    first = turns.filter(F.col("turn_idx") % 2 == 0)
    second = turns.filter(F.col("turn_idx") % 2 == 1)
    first.repartition(3).write.parquet(str(in_dir))

    dim = parse.template_dim(turns)
    q = route_sink.start_route_sink(
        sp.stream_transcripts(spark, str(in_dir)), dim, out_dir, ckpt
    )
    q.awaitTermination(120); q.stop()
    got1 = spark.read.parquet(out_dir)
    assert got1.count() == first.count()
    # routed-row equality vs the batch parse on the same slice
    batch = parse.parsed_turns(first, dim).withColumn(
        "template_bucket", F.pmod("template_id", F.lit(8))
    )
    key = ["conv_id", "turn_idx"]
    a = got1.select(*key, "template_id").toPandas().sort_values(key)
    b = batch.select(*key, "template_id").toPandas().sort_values(key)
    assert a.template_id.tolist() == b.template_id.tolist()
    # partition layout: fan-out directories by bucket exist
    import os
    assert any(d.startswith("template_bucket=") for d in os.listdir(out_dir))

    # late arrivals: add the second half, restart with SAME checkpoint
    second.repartition(2).write.mode("append").parquet(str(in_dir))
    q2 = route_sink.start_route_sink(
        sp.stream_transcripts(spark, str(in_dir)), dim, out_dir, ckpt
    )
    q2.awaitTermination(120); q2.stop()
    got2 = spark.read.parquet(out_dir)
    # only the delta was appended — no double-processing of batch one
    assert got2.count() == turns.count()


def test_stream_scrub_and_chunk_match_batch(spark, tmp_path):
    """The map-only curation steps (PII scrub, token-window chunking)
    run unchanged over a streaming source and equal their batch
    results — pure Catalyst projections/explodes are streaming-safe."""
    from ml4logs_spark.operators import textqa

    docs = spark.createDataFrame(
        [(i, f"tok{i} " * (i % 7 + 1) + f"mail{i}@example.com end", f"s{i % 2}")
         for i in range(40)],
        "doc_id long, text string, source string",
    )
    in_dir = str(tmp_path / "docs_in")
    docs.repartition(3).write.parquet(in_dir)

    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .parquet(in_dir)
    )
    chunked = textqa.chunk_documents(
        textqa.mask_pii(stream).select(
            "doc_id", textqa.F.col("masked_text").alias("text")
        ),
        chunk_tokens=4,
        overlap=1,
    )
    q = (
        chunked.writeStream.format("memory").queryName("t_stream_chunks")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.table("t_stream_chunks").toPandas()
    q.stop()

    batch = textqa.chunk_documents(
        textqa.mask_pii(docs).select(
            "doc_id", textqa.F.col("masked_text").alias("text")
        ),
        chunk_tokens=4,
        overlap=1,
    ).toPandas()
    key = ["doc_id", "chunk_idx"]
    a = got.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) > 0
    assert (a.chunk_text == b.chunk_text).all()
    assert a.chunk_text.str.contains("<EMAIL>").any()


def test_stream_quality_gate_and_mix_sample_match_batch(spark, tmp_path):
    """The curation gate + data-mixing draw are stateless (map-only
    filter/broadcast-join), so they run unchanged over a streaming
    source and equal their batch results — a streaming ingest can apply
    the SAME mixture policy as the batch curation pass."""
    from ml4logs_spark.operators import textqa

    docs = spark.createDataFrame(
        [(i, ("the quick token " * (i % 9 + 1)).strip(), f"s{i % 3}")
         for i in range(60)],
        "doc_id long, text string, source string",
    )
    in_dir = str(tmp_path / "gate_in")
    docs.repartition(3).write.parquet(in_dir)
    weights = {"s0": "c0", "s1": "40"}  # s2 dropped

    def chain(df):
        gated = textqa.quality_filter(
            df, min_score=0.3, min_tokens=4, keep_cols=("source",)
        )
        return textqa.source_mix_sample(gated, weights).select(
            "doc_id", "source"
        )

    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .parquet(in_dir)
    )
    q = (
        chain(stream).writeStream.format("memory")
        .queryName("t_stream_gate_mix").outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.table("t_stream_gate_mix").toPandas()
    q.stop()

    batch = chain(docs).toPandas()
    a = got.sort_values("doc_id").reset_index(drop=True)
    b = batch.sort_values("doc_id").reset_index(drop=True)
    assert len(a) == len(b) > 0
    assert (a.doc_id == b.doc_id).all() and (a.source == b.source).all()
    assert set(a.source) <= {"s0", "s1"}
