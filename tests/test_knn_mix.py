"""kNN label vote + temperature-scaled source mixing.

Both operators are pinned against independent pure-Python references
(hashlib md5 / math, no Spark) so a plan change can never silently
shift semantics, plus partition-invariance and edge-case checks.
"""
import hashlib
import math

import pytest
from pyspark.sql import functions as F

from ml4logs_spark.operators import similarity, textqa


def _md5_prefix(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()[:4]


# ------------------------------------------------------------ kNN vote

def _py_knn(rows, k, rate="8000"):
    """Reference: rank seeds by (round(cos,6) DESC, sid ASC); majority
    vote over the top k, ties toward the smallest label."""
    seeds = [r for r in rows if _md5_prefix(str(r[0])) < rate]
    rest = [r for r in rows if _md5_prefix(str(r[0])) >= rate]
    out = {}
    for vid, lab, v in rest:
        scored = []
        for sid, slab, sv in seeds:
            dot = sum(a * b for a, b in zip(v, sv))
            c = round(
                dot
                / (
                    math.sqrt(sum(a * a for a in v))
                    * math.sqrt(sum(a * a for a in sv))
                ),
                6,
            )
            scored.append((-c, sid, slab))
        scored.sort()
        labs = [s[2] for s in scored[:k]]
        votes = sorted(
            ((-labs.count(l), l) for l in set(labs))
        )
        out[vid] = (lab, votes[0][1], -votes[0][0])
    return out


@pytest.fixture(scope="module")
def knn_rows():
    # 30 vectors in 3 label-direction clusters + noise dims; values are
    # small integers so double cosines are exact enough to round stably
    rows = []
    for i in range(30):
        lab = i % 3
        base = {0: [9, 1, 0, 1], 1: [1, 9, 1, 0], 2: [0, 1, 9, 1]}[lab]
        v = [float(b + ((i * 7 + j) % 3)) for j, b in enumerate(base)]
        rows.append((i, lab, v))
    return rows


def test_knn_label_vote_matches_python_reference(spark, knn_rows):
    emb = spark.createDataFrame(
        knn_rows, "vec_id long, label int, embedding array<double>"
    )
    got = {
        r["vec_id"]: (r["label"], r["pred_label"], r["n_votes"])
        for r in similarity.knn_label_vote(emb, k=3, seed_rate_hex="8000").collect()
    }
    assert got == _py_knn(knn_rows, k=3)
    # sanity: at k=3 the clustered geometry classifies perfectly (the
    # md5 seed draw leaves label 1 only 2 seeds, so k=5 would let the
    # bigger labels outvote it — the classic imbalanced-k effect)
    assert all(pred == lab for lab, pred, _ in got.values())
    assert len(got) > 0 and len(got) < len(knn_rows)  # both sides non-empty


def test_knn_label_vote_partition_invariant(spark, knn_rows):
    emb = spark.createDataFrame(
        knn_rows, "vec_id long, label int, embedding array<double>"
    )
    a = sorted(map(tuple, similarity.knn_label_vote(emb, k=3).collect()))
    b = sorted(
        map(tuple, similarity.knn_label_vote(emb.repartition(7), k=3).collect())
    )
    assert a == b


def test_knn_vote_tie_breaks_to_smallest_label(spark):
    # find one non-seed id and two seed ids under the default 2000 draw
    seeds = [i for i in range(200) if _md5_prefix(str(i)) < "2000"][:2]
    rest = [i for i in range(200) if _md5_prefix(str(i)) >= "2000"][0]
    rows = [
        (seeds[0], 7, [1.0, 0.0]),
        (seeds[1], 3, [0.0, 1.0]),
        (rest, 0, [1.0, 1.0]),  # equal cosine to both seeds
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    out = similarity.knn_label_vote(emb, k=2).collect()
    assert len(out) == 1
    assert out[0]["pred_label"] == 3  # 1-1 vote -> smallest label
    assert out[0]["n_votes"] == 1


def test_knn_k_larger_than_seed_set(spark, knn_rows):
    # rows 0..9 contain seeds {6, 9} under the 8000 draw; k=50 must
    # degrade gracefully to "vote over all seeds"
    emb = spark.createDataFrame(
        knn_rows[:10], "vec_id long, label int, embedding array<double>"
    )
    out = similarity.knn_label_vote(emb, k=50, seed_rate_hex="8000")
    assert out.count() == 8
    assert out.filter(F.col("pred_label").isNull()).count() == 0


def test_knn_empty_seed_set_yields_null_preds(spark, knn_rows):
    # ids 0..5 have no member below the 8000 md5 draw: with zero
    # labeled seeds there is nothing to vote — pred_label is NULL for
    # every row (documented edge; callers gate on seed availability)
    emb = spark.createDataFrame(
        knn_rows[:6], "vec_id long, label int, embedding array<double>"
    )
    out = similarity.knn_label_vote(emb, k=5, seed_rate_hex="8000")
    assert out.count() == 6
    assert out.filter(F.col("pred_label").isNull()).count() == 6


@pytest.mark.parametrize("bad", ["B000", "200", "G0", "20000", ""])
def test_knn_rejects_malformed_seed_rate(spark, knn_rows, bad):
    # the md5 prefix is lowercase hex: "B000" would compare above every
    # "a..." prefix and seed 62.6 % instead of 68.8 %; "G0" is no rate
    emb = spark.createDataFrame(
        knn_rows, "vec_id long, label int, embedding array<double>"
    )
    with pytest.raises(ValueError, match="seed_rate_hex"):
        similarity.knn_label_vote(emb, seed_rate_hex=bad)


def test_knn_two_char_seed_rate_selects_same_seeds(spark, knn_rows):
    emb = spark.createDataFrame(
        knn_rows, "vec_id long, label int, embedding array<double>"
    )
    a, b = (
        sorted(map(tuple, similarity.knn_label_vote(emb, k=3, seed_rate_hex=r)
                   .collect()))
        for r in ("20", "2000")
    )
    assert a == b and len(a) < len(knn_rows)


# ------------------------------------------- temperature-scaled mixing

def _py_rates(counts: dict, alpha=0.75):
    n_min = min(counts.values())
    out = {}
    for s, n in counts.items():
        rate = (n_min / n) ** (1 - alpha)
        out[s] = math.floor(rate * 65536)
    return out


@pytest.fixture(scope="module")
def mix_docs(spark):
    # skewed sources: a 60, b 30, c 10 docs
    rows = [(i, f"s{i}", "a" if i < 60 else ("b" if i < 90 else "c"))
            for i in range(100)]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_temperature_rates_match_python(mix_docs):
    got = {
        r["source"]: (r["n_docs"], r["rate_int"])
        for r in textqa.temperature_mix_rates(mix_docs, alpha=0.75).collect()
    }
    exp = _py_rates({"a": 60, "b": 30, "c": 10})
    assert {s: n for s, (n, _) in got.items()} == {"a": 60, "b": 30, "c": 10}
    assert {s: ri for s, (_, ri) in got.items()} == exp
    # smallest source keeps everything
    assert got["c"][1] == 65536


def test_temperature_alpha_one_is_identity(mix_docs):
    sampled = textqa.temperature_mix_sample(mix_docs, alpha=1.0)
    assert sampled.count() == mix_docs.count()


def test_temperature_sample_matches_python_draw(mix_docs):
    rates = _py_rates({"a": 60, "b": 30, "c": 10})
    exp = set()
    for r in mix_docs.select("doc_id", "source").collect():
        ri = rates[r["source"]]
        if ri >= 65536 or _md5_prefix(f"{r['source']}:{r['doc_id']}") < format(
            min(ri, 65535), "04x"
        ):
            exp.add((r["doc_id"], r["source"]))
    got = {
        (r["doc_id"], r["source"])
        for r in textqa.temperature_mix_sample(mix_docs, alpha=0.75).collect()
    }
    assert got == exp
    # the head source actually thinned, the tail source did not
    by_src = {}
    for _, s in got:
        by_src[s] = by_src.get(s, 0) + 1
    assert by_src["c"] == 10
    assert by_src.get("a", 0) < 60


def test_temperature_sample_partition_invariant(mix_docs):
    a = sorted(
        map(tuple, textqa.temperature_mix_sample(mix_docs, alpha=0.5).collect())
    )
    b = sorted(
        map(
            tuple,
            textqa.temperature_mix_sample(
                mix_docs.repartition(7), alpha=0.5
            ).collect(),
        )
    )
    assert a == b


# -------------------------------------- embedding-space decontamination

def test_embedding_decontaminate_properties(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    # benchmark = 5 vectors; corpus = 40 vectors, 10 of which are noisy
    # copies of benchmark vectors (semantic leaks), the rest random
    bench_rows = [(1000 + i, [float(x) for x in rng.normal(size=8)])
                  for i in range(5)]
    corpus_rows = []
    for i in range(40):
        if i < 10:
            base = np.array(bench_rows[i % 5][1])
            v = base + 0.05 * rng.normal(size=8)
        else:
            v = rng.normal(size=8)
        corpus_rows.append((i, [float(x) for x in v]))
    mk = lambda rows: spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    corpus, bench = mk(corpus_rows), mk(bench_rows)
    kw = dict(threshold=0.9, n_planes=8, n_bands=4, dim=8)
    dirty = {
        r["vec_id"]
        for r in similarity.embedding_contaminated_ids(
            corpus, bench, **kw
        ).collect()
    }
    kept = {
        r["vec_id"]
        for r in similarity.embedding_decontaminate(corpus, bench, **kw)
        .select("vec_id")
        .collect()
    }
    # partition: survivors + dirty = corpus, disjoint
    assert kept | dirty == set(range(40))
    assert kept & dirty == set()
    # no false positives: every dirty id truly has cosine >= threshold
    # to some benchmark vector (verify step is exact)
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    cvec = dict(corpus_rows)
    for vid in dirty:
        assert any(
            round(cos(cvec[vid], bv), 6) >= 0.9 for _, bv in bench_rows
        ), vid
    # the planted leaks collide in some band with their source with
    # overwhelming probability; at least most of them must be caught
    assert len(dirty & set(range(10))) >= 8


def test_embedding_decontaminate_partition_invariant(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    bench = emb.filter("vec_id < 5")
    corpus = emb.filter("vec_id >= 5")
    kw = dict(threshold=0.3, n_planes=8, n_bands=4, dim=8)
    a = sorted(
        r["vec_id"]
        for r in similarity.embedding_decontaminate(corpus, bench, **kw).collect()
    )
    b = sorted(
        r["vec_id"]
        for r in similarity.embedding_decontaminate(
            corpus.repartition(7), bench.repartition(3), **kw
        ).collect()
    )
    assert a == b


# ------------------------------------------------- IVF cell diagnostics

def test_ivf_cell_summary_properties(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    centers = rng.normal(size=(4, 8))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(80):
        v = centers[i % 4] + 0.05 * rng.normal(size=8)
        rows.append((i, i % 4, [float(x) for x in v]))
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    out = similarity.ivf_cell_summary(emb, n_centroids=4).collect()
    # partition of the corpus: cell sizes sum to N
    assert sum(r["n_vecs"] for r in out) == 80
    for r in out:
        assert r["n_top"] <= r["n_vecs"]
        assert abs(r["purity"] - round(r["n_top"] / r["n_vecs"], 6)) < 1e-12
        assert -1.0 <= r["mean_cos"] <= 1.0
    # tight angular clusters + matching labels => every cell pure and
    # tight (the fit seeds from the sample, one center per true cluster)
    assert all(r["purity"] == 1.0 for r in out)
    assert all(r["mean_cos"] > 0.9 for r in out)
    # exact micro-unit mean: identical under any partitioning
    out2 = similarity.ivf_cell_summary(emb.repartition(7), n_centroids=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


# --------------------------- day-2 embedding near-dups over int8 state

def _day2_fixture(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    rows = []
    for i in range(40):
        rows.append((i, [float(x) for x in rng.normal(size=8)]))
    # plant: new vec 21 duplicates historical vec 20 (cross-boundary),
    # new vec 23 duplicates new vec 25 (within-batch)
    rows[21] = (21, rows[20][1])
    rows[25] = (25, rows[23][1])
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _day2_run(spark, emb):
    hist = emb.filter("vec_id % 2 = 0")
    new = emb.filter("vec_id % 2 = 1")
    quant = similarity.fit_quantizer(hist)
    return similarity.incremental_embedding_near_dups(
        new,
        band_state=similarity.band_signatures(hist, n_planes=8, n_bands=4, dim=8),
        code_state=similarity.quantize_embeddings(hist, quant),
        quant=quant,
        threshold=0.98,
        dim=8,
    )


def test_incremental_embedding_near_dups_finds_planted(spark):
    emb = _day2_fixture(spark)
    pairs = {(r["vec_a"], r["vec_b"]) for r in _day2_run(spark, emb).collect()}
    # cross-boundary duplicate: the int8 round-trip keeps an exact
    # duplicate's cosine near 1, far above 0.98
    assert (20, 21) in pairs
    # within-batch duplicate verifies exact-exact
    assert (23, 25) in pairs
    # at 0.98 on 8-dim gaussians nothing unrelated should pair
    assert pairs == {(20, 21), (23, 25)}


def test_incremental_embedding_near_dups_replay_safe(spark):
    emb = _day2_fixture(spark)
    a = sorted(map(tuple, _day2_run(spark, emb).collect()))
    b = sorted(map(tuple, _day2_run(spark, emb.repartition(7)).collect()))
    assert a == b and len(a) == 2


def test_incremental_embedding_history_never_needs_vectors(spark):
    # the op must run with ONLY the three state tables for history —
    # simulate by materializing state then dropping the history frame
    emb = _day2_fixture(spark)
    hist = emb.filter("vec_id % 2 = 0")
    new = emb.filter("vec_id % 2 = 1")
    quant = spark.createDataFrame(
        similarity.fit_quantizer(hist).collect(), "dim_idx int, lo double, hi double"
    )
    bands = spark.createDataFrame(
        similarity.band_signatures(
            hist, n_planes=8, n_bands=4, dim=8
        ).collect(),
        "vec_id long, band int, sig int",
    )
    codes = spark.createDataFrame(
        similarity.quantize_embeddings(hist, quant).collect(),
        "vec_id long, codes array<int>",
    )
    out = similarity.incremental_embedding_near_dups(
        new, bands, codes, quant, threshold=0.98, dim=8
    )
    pairs = {(r["vec_a"], r["vec_b"]) for r in out.collect()}
    assert (20, 21) in pairs and (23, 25) in pairs


# ------------------------------------------- day-2 vocabulary state

def test_merge_vocab_counts_chains_to_batch(spark):
    rows = [
        (0, "the cat sat", "s"), (1, "the dog ran", "s"),
        (2, "a cat ran", "s"), (3, "the the the", "s"),
        (4, "", "s"), (5, None, "s"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    state = textqa.vocab_counts(docs.filter("doc_id % 3 = 0"))
    state = textqa.merge_vocab_counts(state, docs.filter("doc_id % 3 = 1"))
    state = textqa.merge_vocab_counts(state, docs.filter("doc_id % 3 = 2"))
    merged = {r["token"]: (r["df"], r["tf"]) for r in state.collect()}
    batch = {
        r["token"]: (r["df"], r["tf"])
        for r in textqa.vocab_counts(docs).collect()
    }
    assert merged == batch
    assert merged["the"] == (3, 5)  # df counts docs, tf counts tokens


# ------------------------------------------------ empty-input behavior

def test_new_ops_handle_empty_inputs(spark):
    e_emb = spark.createDataFrame(
        [], "vec_id long, label int, embedding array<double>"
    )
    e_docs = spark.createDataFrame(
        [], "doc_id long, text string, source string"
    )
    assert similarity.knn_label_vote(e_emb, k=3).count() == 0
    assert textqa.temperature_mix_rates(e_docs).count() == 0
    assert textqa.temperature_mix_sample(e_docs).count() == 0
    assert textqa.vocab_counts(e_docs).count() == 0
    assert (
        textqa.merge_vocab_counts(textqa.vocab_counts(e_docs), e_docs).count()
        == 0
    )
    assert similarity.embedding_decontaminate(e_emb, e_emb, dim=8).count() == 0
    # empty NEW batch against non-empty state: no pairs, no error
    rows = [(2 * i, [float(i), 1.0]) for i in range(6)]
    hist = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    quant = similarity.fit_quantizer(hist)
    out = similarity.incremental_embedding_near_dups(
        e_emb.drop("label"),
        band_state=similarity.band_signatures(hist, n_planes=8, n_bands=4, dim=2),
        code_state=similarity.quantize_embeddings(hist, quant),
        quant=quant,
        dim=2,
    )
    assert out.count() == 0


# --------------------------------------------------------- SemDeDup

def test_semantic_dedup_keeps_lowest_id(spark):
    import numpy as np

    rng = np.random.default_rng(13)
    centers = rng.normal(size=(4, 8))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(40):
        v = centers[i % 4] + 0.1 * rng.normal(size=8)
        rows.append((i, [float(x) for x in v]))
    # exact duplicate pair inside one cluster: 7 and 31 (both i%4==3)
    rows[31] = (31, rows[7][1])
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = {
        r["vec_id"]
        for r in similarity.semantic_dedup_survivors(
            emb, threshold=0.999, n_centroids=4
        ).collect()
    }
    assert 7 in kept and 31 not in kept  # greedy keeps the lower id
    # nothing else is a 0.999-duplicate
    assert kept == set(range(40)) - {31}
    # impossible threshold -> identity
    all_kept = similarity.semantic_dedup_survivors(
        emb, threshold=1.01, n_centroids=4
    )
    assert all_kept.count() == 40
    # at a loose threshold most cellmates collapse onto the cell's
    # early ids (within-cluster cosines run 0.76-0.998 at this noise,
    # cross-cluster max 0.92 — so 0.7 prunes hard but not to exactly
    # one per cell)
    few = similarity.semantic_dedup_survivors(
        emb, threshold=0.7, n_centroids=4
    )
    assert 4 <= few.count() <= 12


def test_semantic_dedup_partition_invariant(spark):
    import numpy as np

    rng = np.random.default_rng(17)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(
        r["vec_id"]
        for r in similarity.semantic_dedup_survivors(
            emb, threshold=0.3, n_centroids=4
        ).collect()
    )
    b = sorted(
        r["vec_id"]
        for r in similarity.semantic_dedup_survivors(
            emb.repartition(7), threshold=0.3, n_centroids=4
        ).collect()
    )
    assert a == b


# --------------------------------------------- conversation-level dedup

def test_conv_dedup_survivors(spark):
    from ml4logs_spark.operators import dedup

    rows = [
        # conv a and conv c are the same conversation re-ingested with
        # different ids and timestamps; conv b differs in one turn
        ("a", 0, "user", "hello", "t1", "2024-01-01 00:00:00"),
        ("a", 1, "assistant", "hi", "t1", "2024-01-01 00:00:01"),
        ("b", 0, "user", "hello", "t1", "2024-01-01 00:00:00"),
        ("b", 1, "assistant", "bye", "t1", "2024-01-01 00:00:01"),
        ("c", 0, "user", "hello", "t2", "2024-02-02 09:00:00"),
        ("c", 1, "assistant", "hi", "t2", "2024-02-02 09:00:05"),
        # NULL text folds to '' — conv d == conv e
        ("d", 0, "user", None, "t1", "2024-01-01 00:00:00"),
        ("e", 0, "user", "", "t1", "2024-03-01 00:00:00"),
    ]
    turns = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = dedup.conv_dedup_survivors(turns)
    kept = {r["conv_id"] for r in out.select("conv_id").distinct().collect()}
    assert kept == {"a", "b", "d"}  # c dups a; e dups d; lowest id wins
    # survivors keep their full turn rows
    assert out.count() == 5
    # partition invariance
    kept2 = {
        r["conv_id"]
        for r in dedup.conv_dedup_survivors(turns.repartition(7))
        .select("conv_id").distinct().collect()
    }
    assert kept2 == kept
