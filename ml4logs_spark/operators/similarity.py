"""Similarity search over the embeddings table (array<float> column).

- brute-force cosine top-k: the exactness baseline. Q query vectors x N
  candidates via broadcast of the (small) query side; the dot product is
  a JVM higher-order fn (zip_with + aggregate) in float64 — no UDF, no
  Python. At 100 TB the candidate scan is embarrassingly parallel;
  the top-k per query is a windowed rank over Q x N scored rows,
  shuffled by query_id (Q keys -> fine for small Q; for large Q use
  repartition on query_id).
- LSH bucket variant (scale path): deterministic random-hyperplane
  signatures from md5-nibble weights; candidates = bucket collisions,
  exact cosine re-rank inside buckets. Signature is map-only; the join
  is equi on (signature) instead of a cross product.

Every cosine here is ``_cos`` over ``_norm``-hoisted norms, and every
per-query top-k ranks through ``_topk`` (candidate paths: ``_rerank``).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ml4logs_spark import cache
from ml4logs_spark.operators.dedup import bucket_pairs, connected_components
from ml4logs_spark.operators.textqa import _norm_rate_hex


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _spread(df: DataFrame) -> DataFrame:
    """Partition floor for the corpus side of map-heavy scoring stages
    (guide §2.5 'input skew: one huge unsplittable file'): a corpus read
    from a single parquet split would run every interpreted higher-order
    cosine/signature lambda in ONE task — measured 29s single-task vs
    ~1s spread for the kNN vote at sf0.1/32 cores. Round-robin
    repartition to the session default parallelism ONLY when the
    planned input has fewer partitions; at cluster scale the corpus
    arrives in many splits and this is a no-op (no shuffle added).
    Row order within partitions changes, but every consumer aggregates
    order-insensitively (rounded-then-ranked scores, min/max/integer
    sums — the repo determinism rule), so results are unchanged."""
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target) if n < target else df


def _norm(v: Column) -> Column:
    return F.sqrt(_dot(v, v))


def _cos(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """The one cosine of this module: dot(a, b) over the hoisted norms
    ``na``/``nb``, rounded to 6dp BEFORE any rank or threshold —
    fold-order double noise (~1e-15) can differ between engines and
    flip near-ties, while round(cos, 6) + id ranks identically
    everywhere. A zero vector has norm 0: ``try_divide`` gives its
    pairs a NULL cosine (DuckDB's ``x / 0.0``), which fails every
    ``>=`` threshold and ranks last under ``F.desc``, where a plain
    divide raises DIVIDE_BY_ZERO under ANSI."""
    return F.round(F.try_divide(_dot(a, b), na * nb), 6)


def _side(df: DataFrame, id_as: str, vec_as: str, norm_as: str,
          vec_col: str) -> DataFrame:
    """(id, vector, norm) projection of ``df``. The norm hoists per ROW
    before any pair join: the scoring stages are quadratic, and
    recomputing both O(dim) norms per PAIR would triple the
    interpreted higher-order arithmetic (same doubles either way —
    sqrt is deterministic)."""
    v = F.col(vec_col)
    return df.select(
        F.col("vec_id").alias(id_as), v.alias(vec_as), _norm(v).alias(norm_as)
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of (query_id, cand_id, cosine) rows: row_number
    over (query_id; cosine DESC, cand_id ASC) — NULL cosines last."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", "cosine")
    )


def _rerank(pairs: DataFrame, emb: DataFrame, query_ids: list[int], k: int,
            vec_col: str) -> DataFrame:
    """Exact cosine re-rank of (query_id, cand_id) candidate pairs: the
    broadcast query vectors and the candidate vectors join onto the
    pairs by id (vectors travel once, not per collision), then score
    and rank."""
    q = _side(emb.filter(F.col("vec_id").isin(query_ids)),
              "query_id", "qvec", "_qn", vec_col)
    c = _side(emb, "cand_id", "cvec", "_cn", vec_col)
    scored = (
        pairs.join(F.broadcast(q), "query_id")
        .join(c, "cand_id")
        .withColumn("cosine", _cos(F.col("qvec"), F.col("cvec"),
                                   F.col("_qn"), F.col("_cn")))
    )
    return _topk(scored, k)


def with_norm(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return emb.withColumn("l2_norm", _norm(F.col(vec_col)))


def cosine_topk(
    emb: DataFrame, query_ids: list[int], k: int = 10, vec_col: str = "embedding"
) -> DataFrame:
    """Exact top-k cosine neighbours for each query vector (brute force)."""
    q = _side(emb.filter(F.col("vec_id").isin(query_ids)),
              "query_id", "qvec", "_qn", vec_col)
    c = _side(_spread(emb), "cand_id", "cvec", "_cn", vec_col)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .withColumn("cosine", _cos(F.col("qvec"), F.col("cvec"),
                                   F.col("_qn"), F.col("_cn")))
    )
    return _topk(scored, k)


def _hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from md5 nibbles (public
    construction: sign-random-projection LSH, Charikar STOC'02)."""
    w = []
    for d in range(dim):
        h = hashlib.md5(f"{plane}:{d}".encode()).hexdigest()
        w.append((int(h[:2], 16) - 127.5) / 127.5)
    return w


def band_signatures(
    emb: DataFrame,
    n_planes: int = 8,
    n_bands: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-band hyperplane signatures, exploded to (vec_id, band, sig).

    OR-amplification (multi-table LSH): the plane set splits into
    ``n_bands`` independent hash tables; a pair is a candidate if it
    collides in ANY band. Fewer bits per table -> higher per-table
    collision rate -> recall rises at the cost of more (still bucketed,
    never all-pairs) candidates. Map-only."""
    if n_planes % n_bands != 0:
        raise ValueError(
            f"n_planes ({n_planes}) must be divisible by n_bands ({n_bands}); "
            "a remainder would silently drop planes and change recall"
        )
    r = n_planes // n_bands
    bands = []
    for b in range(n_bands):
        bits = []
        for j in range(r):
            w = F.array(*[F.lit(x) for x in _hyperplane(b * r + j, dim)])
            bits.append(
                F.when(_dot(F.col(vec_col), w) >= 0, F.lit(1)).otherwise(F.lit(0))
                * (2**j)
            )
        sig = bits[0]
        for x in bits[1:]:
            sig = sig + x
        bands.append(
            F.struct(F.lit(b).alias("band"), sig.cast("int").alias("sig"))
        )
    return _spread(emb).select(
        "vec_id", F.explode(F.array(*bands)).alias("bs")
    ).select("vec_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def _lsh_candidates(
    emb: DataFrame,
    query_ids: list[int],
    n_planes: int,
    n_bands: int,
    dim: int,
    vec_col: str,
) -> DataFrame:
    """Shared LSH candidate generation: (query_id, cand_id) pairs that
    collide in any band, the query bands broadcast into the bucket
    equi-join. One definition keeps lsh_topk and lsh_candidate_fraction
    grading the SAME candidate set (the _ivf_candidates pattern)."""
    bs = band_signatures(emb, n_planes=n_planes, n_bands=n_bands,
                         dim=dim, vec_col=vec_col)
    qb = bs.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), "band", "sig"
    )
    cb = bs.select(F.col("vec_id").alias("cand_id"), "band", "sig")
    return (
        cb.join(F.broadcast(qb), ["band", "sig"])
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id")
        .distinct()
    )


def lsh_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_planes: int = 8,
    n_bands: int = 4,
    dim: int = 64,
) -> DataFrame:
    """ANN top-k: candidates collide in any LSH band; exact cosine
    re-rank over the candidate set only. Recall < 1 by construction —
    measured against the brute-force baseline in tests AND emitted as
    ``ann_recall`` in the bench output (bench.py).

    Knobs trade recall vs candidate volume (recall / candidate fraction
    measured on the sf0.1 synthetic embeddings; bench.py emits both as
    ann_recall_at_10 / ann_candidate_fraction): 8 planes x 4 bands =
    0.92 / 0.68; 16x4 = 0.38 / 0.23; 24x4 = 0.22 / 0.06. The synthetic
    vectors are ISOTROPIC gaussians — the worst case for any LSH (true
    neighbors are barely more similar than random, so aggressive
    pruning must lose them). Real embedding corpora are angularly
    clustered, where the same construction prunes hard at high recall —
    bench.py's clustered fixture measures 24x4 at recall 0.96 with
    candidate fraction 0.20; defaults favor recall.

    Scale shape: candidate generation is an equi-join on (band, sig)
    buckets (never a cross product); scoring joins embeddings back by
    id, so vectors travel once, not per-collision."""
    pairs = _lsh_candidates(emb, query_ids, n_planes, n_bands, dim, "embedding")
    return _rerank(pairs, emb, query_ids, k, "embedding")


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.3,
    n_planes: int = 8,
    n_bands: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    bands: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the vector analog of
    dedup.near_dups: candidates collide in any LSH band (equi-join on
    buckets, O(n x bands), never all-pairs), then exact cosine verify
    against the threshold. Symmetric (vec_a < vec_b), whole-corpus; the
    band frame's persist and the pair join are ``dedup.bucket_pairs``."""
    bs = (
        bands
        if bands is not None
        else band_signatures(emb, n_planes=n_planes, n_bands=n_bands,
                             dim=dim, vec_col=vec_col)
    )
    pairs = bucket_pairs(bs, ["band", "sig"], ids=("vec_id", "vec_a", "vec_b"))
    ea = _side(emb, "vec_a", "va", "_na", vec_col)
    eb = _side(emb, "vec_b", "vb", "_nb", vec_col)
    scored = pairs.join(ea, "vec_a").join(eb, "vec_b").withColumn(
        "cosine", _cos(F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb"))
    )
    return scored.filter(F.col("cosine") >= threshold).select(
        "vec_a", "vec_b", "cosine"
    )


def embedding_near_dup_clusters(
    emb: DataFrame, threshold: float = 0.3, max_iter: int = 25
) -> DataFrame:
    """Connected components over the embedding-cosine near-dup graph:
    ``(vec_id, cluster_id)`` with cluster_id = min reachable vec_id —
    the vector analog of dedup.near_dup_clusters, sharing the same
    min-label-propagation operator (semantic dedup collapses chains
    a~b~c that pairwise similarity alone under-deletes)."""
    return connected_components(
        embedding_near_dups(emb, threshold),
        src="vec_a",
        dst="vec_b",
        max_iter=max_iter,
    ).withColumnRenamed("doc_id", "vec_id")


def _cell_scores(vecs: DataFrame, codebook: DataFrame, *aggs: Column) -> DataFrame:
    """argmax-cosine cell of each (vec_id, v) against a broadcast
    (cent_id, centvec) codebook via ``max_by`` — ONE hash aggregate, no
    window sort; the only shuffle is the group-by of N x k scored rows
    with map-side combine. Tie-break: max struct (sim, -cent_id) ==
    ORDER BY sim DESC, cent_id ASC. Both norms hoist per ROW (each
    vector scores against k centroids); ``aggs`` ride in the same
    aggregate over the scored rows (columns of ``vecs``, ``sim``)."""
    cn = codebook.withColumn("_cn", _norm(F.col("centvec")))
    scored = (
        vecs.withColumn("_vn", _norm(F.col("v")))
        .crossJoin(F.broadcast(cn))
        .withColumn("sim", _cos(F.col("v"), F.col("centvec"),
                                F.col("_vn"), F.col("_cn")))
    )
    ord_key = F.struct(F.col("sim").alias("s"), (-F.col("cent_id")).alias("c"))
    return scored.groupBy("vec_id").agg(
        F.max_by("cent_id", ord_key).alias("cell"), *aggs
    )


def _assign_cells(vecs: DataFrame, codebook: DataFrame) -> DataFrame:
    """(vec_id, cell) argmax-cosine assignment (``_cell_scores``)."""
    return _cell_scores(_spread(vecs), codebook)


def fit_ivf_codebook(
    emb: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 2,
    sample_mod: int = 5,
    vec_col: str = "embedding",
) -> DataFrame:
    """Trained IVF codebook: deterministic Lloyd k-means (spherical —
    cosine assignment, mean re-estimation) -> (cent_id, centvec).

    Fit is model state like the TF-IDF idf table, and every step is
    deterministic + SQL-expressible so the whole fit is oracle-checked
    (no RNG, no driver-side numpy):

    - bounded sample: vec_id % sample_mod == 0 — the fit never scans the
      full corpus (at 100 TB, raise sample_mod so the sample fits the
      shuffle budget; assignment cost is |sample| x k per iteration);
    - seed: the n_centroids lowest sampled vec_ids (TakeOrdered — cheap);
    - iterate: argmax-cosine assignment, then element-wise mean per cell
      ROUNDED to 6dp — the rounding pins fold-order float noise so both
      engines iterate from bit-identical centroids;
    - a cell that loses all members drops out (both engines agree).

    Each iteration is lazy plan composition (posexplode -> two hash
    aggregates); nothing is collected to the driver."""
    sample = emb.filter(F.col("vec_id") % sample_mod == 0).select(
        "vec_id",
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    codebook = (
        sample.orderBy("vec_id")
        .limit(n_centroids)
        .select(F.col("vec_id").alias("cent_id"), F.col("v").alias("centvec"))
    )
    for _ in range(n_iters):
        assigned = _assign_cells(sample, codebook).join(sample, "vec_id")
        codebook = (
            assigned.select("cell", F.posexplode("v").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.round(F.avg("val"), 6).alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("centvec")
            )
            .select(F.col("cell").alias("cent_id"), "centvec")
        )
    return codebook


def ivf_cells(
    emb: DataFrame,
    codebook: DataFrame | None = None,
    n_centroids: int = 16,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse-quantizer assignment: (vec_id, cell) against the
    trained (fit_ivf_codebook) or caller-provided codebook dim."""
    if codebook is None:
        codebook = fit_ivf_codebook(emb, n_centroids, vec_col=vec_col)
    vecs = emb.select("vec_id", F.col(vec_col).alias("v"))
    return _assign_cells(vecs, codebook)


def _ivf_candidates(
    emb: DataFrame,
    query_ids: list[int],
    n_centroids: int,
    n_probes: int,
    vec_col: str,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Shared IVF candidate generation: probe selection (top-n_probes
    cells per query by centroid cosine, cent_id tie-break) + the cell
    equi-join. One definition keeps ivf_topk and ivf_candidate_fraction
    grading the SAME candidate set; ``codebook=None`` fits fresh."""
    if codebook is None:
        codebook = cache.track(fit_ivf_codebook(emb, n_centroids, vec_col=vec_col))
    cells = ivf_cells(emb, codebook, vec_col=vec_col)
    q_scored = (
        emb.filter(F.col("vec_id").isin(query_ids))
        .select(F.col("vec_id").alias("query_id"), F.col(vec_col).alias("qv"))
        .crossJoin(F.broadcast(codebook))
        .withColumn("sim", _cos(F.col("qv"), F.col("centvec"),
                                _norm(F.col("qv")), _norm(F.col("centvec"))))
    )
    w_p = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cent_id"))
    probes = (
        q_scored.withColumn("rn", F.row_number().over(w_p))
        .filter(F.col("rn") <= n_probes)
        .select("query_id", F.col("cent_id").alias("cell"))
    )
    return (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("cand_id"))
        .distinct()
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_centroids: int = 16,
    n_probes: int = 4,
    vec_col: str = "embedding",
    codebook: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: each query probes its ``n_probes`` nearest
    centroid cells; candidates = vectors assigned to those cells; exact
    cosine re-rank. The complement of the LSH path: data-adaptive cells
    (trained Lloyd codebook, fit_ivf_codebook) vs data-oblivious
    hyperplanes. Candidate generation is an equi-join on cell ids —
    never all-pairs. The codebook is fit once and reused for both cell
    assignment and query probing; pass a pre-fit ``codebook`` to share
    one fit across topk/recall/fraction calls."""
    pairs = _ivf_candidates(
        emb, query_ids, n_centroids, n_probes, vec_col, codebook=codebook
    )
    return _rerank(pairs, emb, query_ids, k, vec_col)


def _recall_vs_exact(emb: DataFrame, approx: DataFrame,
                     query_ids: list[int], k: int) -> float:
    exact = cosine_topk(emb, query_ids, k).select("query_id", "cand_id")
    denom = exact.count()
    if denom == 0:
        return 0.0
    hits = approx.select("query_id", "cand_id").join(
        exact, ["query_id", "cand_id"]
    ).count()
    return round(hits / denom, 4)


def ann_recall(emb: DataFrame, query_ids: list[int], k: int = 10, **lsh_kw) -> float:
    """Recall@k of the LSH path vs the exact brute-force baseline."""
    return _recall_vs_exact(emb, lsh_topk(emb, query_ids, k, **lsh_kw), query_ids, k)


def ivf_recall(emb: DataFrame, query_ids: list[int], k: int = 10, **ivf_kw) -> float:
    """Recall@k of the trained-codebook IVF path vs brute force."""
    return _recall_vs_exact(emb, ivf_topk(emb, query_ids, k, **ivf_kw), query_ids, k)


def _candidate_fraction(pairs: DataFrame, emb: DataFrame,
                        query_ids: list[int]) -> float:
    """Candidate pairs over the Q x (N - 1) an exact scan would score."""
    n_cand = pairs.count()
    denom = len(query_ids) * max(emb.count() - 1, 1)
    return round(n_cand / denom, 4)


def ivf_candidate_fraction(
    emb: DataFrame,
    query_ids: list[int],
    n_centroids: int = 16,
    n_probes: int = 4,
    vec_col: str = "embedding",
    codebook: DataFrame | None = None,
) -> float:
    """Fraction of the corpus each query exactly re-ranks under IVF
    probing — the pruning counterpart of lsh_candidate_fraction (with a
    uniform codebook it approaches n_probes/n_centroids; skewed cells
    push it higher). Defaults mirror ivf_topk's."""
    return _candidate_fraction(
        _ivf_candidates(emb, query_ids, n_centroids, n_probes, vec_col,
                        codebook=codebook),
        emb, query_ids,
    )


def lsh_candidate_fraction(
    emb: DataFrame,
    query_ids: list[int],
    n_planes: int = 8,
    n_bands: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
) -> float:
    """Fraction of the corpus each query exactly re-ranks under the LSH
    bands — the pruning number that matters at 100 TB (recall alone can
    be earned by brute force when buckets barely prune). Defaults MUST
    mirror lsh_topk's so the fraction grades the same config the recall
    was measured on (band_signatures' own default is n_bands=2)."""
    return _candidate_fraction(
        _lsh_candidates(emb, query_ids, n_planes, n_bands, dim, vec_col),
        emb, query_ids,
    )


# ------------------------------------------------------ int8 quantization

def fit_quantizer(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension affine int8 quantizer parameters: (dim_idx, lo,
    hi) from the corpus-wide min/max of each embedding dimension — the
    memory-footprint scale path for similarity search (float32 -> int8
    is 4x smaller state; at 10^10 x 64-dim vectors that is the
    difference between codes fitting in executor memory or not).

    Shape at scale: map-side posexplode -> partial+final min/max hash
    aggregate keyed by dim_idx; the result is DIM rows — broadcastable
    by construction. min/max are fold-order-independent, so the fit is
    deterministic under any partitioning (unlike mean/variance-based
    scaling, there is no float-summation nondeterminism to pin)."""
    d = emb.select(F.posexplode(vec_col).alias("dim_idx", "v"))
    return d.groupBy("dim_idx").agg(
        F.min(F.col("v").cast("double")).alias("lo"),
        F.max(F.col("v").cast("double")).alias("hi"),
    )


def _params_row(quant: DataFrame) -> DataFrame:
    """Collapse the dim-sized quantizer frame into ONE row of aligned
    (los, his) arrays for crossJoin(broadcast(...)) application."""
    p = F.array_sort(F.collect_list(F.struct("dim_idx", "lo", "hi")))
    return quant.agg(
        F.transform(p, lambda s: s["lo"]).alias("_los"),
        F.transform(p, lambda s: s["hi"]).alias("_his"),
    )


def quantize_embeddings(
    emb: DataFrame, quant: DataFrame | None = None, vec_col: str = "embedding"
) -> DataFrame:
    """Affine int8 codes per vector: code_i = floor((v_i - lo_i) /
    (hi_i - lo_i) * 255 + 0.5) - 128, clamped to a constant 0 when the
    dimension is degenerate (hi == lo). floor(x + 0.5) rather than
    round() because half-up double rounding is engine-defined; the
    floor form is the same IEEE expression tree on both engines.

    The parameter frame rides as a broadcast single-row (los, his)
    array pair, so the corpus side stays map-only: explode-free
    transform-with-index inside whole-stage codegen, no shuffle."""
    q = quant if quant is not None else fit_quantizer(emb, vec_col)
    out = emb.crossJoin(F.broadcast(_params_row(q)))
    codes = F.transform(
        F.col(vec_col),
        lambda v, i: F.when(
            F.element_at("_his", i + 1) == F.element_at("_los", i + 1),
            F.lit(0),
        ).otherwise(
            F.floor(
                (v.cast("double") - F.element_at("_los", i + 1))
                / (F.element_at("_his", i + 1) - F.element_at("_los", i + 1))
                * 255
                + 0.5
            ).cast("int")
            - 128
        ),
    )
    return out.select("vec_id", codes.alias("codes"))


def dequantize(
    codes: DataFrame, quant: DataFrame, out_col: str = "qvec"
) -> DataFrame:
    """Reconstruct approximate vectors from int8 codes:
    v'_i = lo_i + (code_i + 128) / 255 * (hi_i - lo_i). Same broadcast
    single-row parameter shape as quantize_embeddings; map-only."""
    out = codes.crossJoin(F.broadcast(_params_row(quant)))
    deq = F.transform(
        F.col("codes"),
        lambda c, i: F.element_at("_los", i + 1)
        + (c.cast("double") + 128)
        / 255
        * (F.element_at("_his", i + 1) - F.element_at("_los", i + 1)),
    )
    return out.select("vec_id", deq.alias(out_col))


def quantized_topk(
    emb: DataFrame, query_ids: list[int], k: int = 10, vec_col: str = "embedding"
) -> DataFrame:
    """Brute-force cosine top-k over the int8-dequantized corpus — the
    accuracy probe for the quantized scale path (bench.py reports its
    recall vs the float32 exact baseline). Fit -> quantize ->
    dequantize -> the same rounded-cosine ranking as cosine_topk, so
    the ONLY difference from the exact path is the representation."""
    q = fit_quantizer(emb, vec_col)
    deq = dequantize(quantize_embeddings(emb, q, vec_col), q)
    return cosine_topk(deq, query_ids, k, vec_col="qvec")


def quantized_recall(emb: DataFrame, query_ids: list[int], k: int = 10) -> float:
    """Recall@k of the int8 path vs the float32 exact baseline."""
    return _recall_vs_exact(emb, quantized_topk(emb, query_ids, k), query_ids, k)


# ------------------------------------------------------ kNN label vote

def knn_label_vote(
    emb: DataFrame,
    k: int = 5,
    seed_rate_hex: str = "2000",
    vec_col: str = "embedding",
) -> DataFrame:
    """Classify every unlabeled-treated vector by majority label of its
    k nearest labeled seed vectors (cosine) — the embedding-space
    analog of the fastText quality/domain classifier a curation
    pipeline runs to tag crawl documents (reference analog: the
    feature->classifier handoff its count/TF-IDF matrices feed,
    src/features ml4logs scripts; here the engine keeps the scoring
    in-plan instead of exporting matrices).

    The seed set is the deterministic md5-prefix draw of ``vec_id``
    (``seed_rate_hex``/0x10000 of the corpus, the rate 2 or 4 lowercase
    hex chars — same draw family as textqa.hash_sample, so the split is
    reproducible under any partitioning); seeds keep their ``label``, every other vector gets
    ``pred_label`` = the label with the most votes among its k nearest
    seeds, ranked by round(cosine, 6) DESC then seed vec_id ASC, vote
    ties broken toward the smallest label.

    Shape at scale: the seed set collapses to ONE broadcast row of
    (sid, label, vec) structs (labeled sets are small by construction
    — they are the expensive human/LM-annotated fraction), so the
    corpus side is map-only whole-stage codegen: per row, one
    higher-order transform scores all seeds, an array_sort picks the
    top k, and the vote is an O(k^2) array fold — no shuffle of the
    corpus, no per-query window. Output: (vec_id, label, pred_label,
    n_votes). Edge: an EMPTY seed set (nothing under the draw) yields
    NULL pred_label for every row — callers gate on seed availability
    rather than this function guessing a label."""
    rate = _norm_rate_hex(seed_rate_hex, "seed_rate_hex")
    is_seed = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4) < F.lit(rate)
    seeds = emb.filter(is_seed)
    rest = emb.filter(~is_seed)
    srow = seeds.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("vec_id").alias("sid"),
                    F.col("label").alias("lab"),
                    F.col(vec_col).alias("v"),
                    # seed norm precomputed once at collect time —
                    # transform lambdas get no cross-iteration CSE, so
                    # recomputing it per (row x seed) would triple the
                    # O(dim) arithmetic on the hot map-only path
                    _norm(F.col(vec_col)).alias("sn"),
                )
            )
        ).alias("_seeds")
    )
    scored = F.transform(
        F.col("_seeds"),
        lambda s: F.struct(
            # a NULL cosine (zero vector) ranks last, as the oracle's
            # DESC NULLS LAST; a NULL field would sort first
            F.coalesce(
                -_cos(F.col(vec_col), s["v"], F.col("_qn"), s["sn"]),
                F.lit(float("inf")),
            ).alias("negc"),
            s["sid"].alias("sid"),
            s["lab"].alias("lab"),
        ),
    )
    # struct order == (cosine DESC, sid ASC); vote tie -> smallest label
    topk = F.slice(F.array_sort(scored), 1, k)
    labs = F.transform(topk, lambda x: x["lab"])
    best = F.array_min(
        F.transform(
            F.array_distinct(labs),
            lambda l: F.struct(
                (-F.size(F.filter(labs, lambda y: y == l))).alias("negn"),
                l.alias("lab"),
            ),
        )
    )
    return (
        _spread(rest)
        .withColumn("_qn", _norm(F.col(vec_col)))
        .crossJoin(F.broadcast(srow))
        .select(
            "vec_id",
            "label",
            best["lab"].alias("pred_label"),
            (-best["negn"]).cast("int").alias("n_votes"),
        )
    )


def knn_label_accuracy(emb: DataFrame, k: int = 5) -> float:
    """Fraction of non-seed vectors whose kNN-voted label matches their
    true label — the bench probe for the classifier path."""
    preds = knn_label_vote(emb, k)
    row = preds.agg(
        F.avg((F.col("pred_label") == F.col("label")).cast("double")).alias("acc")
    ).collect()[0]
    return round(row["acc"] or 0.0, 4)


# --------------------------------------- embedding-space decontamination

def embedding_contaminated_ids(
    emb: DataFrame,
    bench: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 8,
    n_bands: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus vectors semantically too close to ANY benchmark vector:
    cosine >= threshold against the eval set — the embedding-space
    analog of dedup.contaminated_ids (shingle overlap catches verbatim
    leakage; this catches paraphrased/near-verbatim leakage the
    n-grams miss, the semantic-decontamination step of modern
    training-data pipelines).

    Shape at scale: both sides get banded hyperplane signatures; the
    benchmark side (eval sets are small by construction) is BROADCAST
    for both the candidate equi-join on (band, sig) and the verify
    join, so the corpus never shuffles — candidates are generated
    bucket-wise (O(corpus x bands), never all-pairs), verified by
    exact cosine, and reduced to distinct corpus ids bounded by
    contamination volume."""
    cb = band_signatures(emb, n_planes=n_planes, n_bands=n_bands,
                         dim=dim, vec_col=vec_col)
    bb = band_signatures(bench, n_planes=n_planes, n_bands=n_bands,
                         dim=dim, vec_col=vec_col).select(
        "band", "sig", F.col("vec_id").alias("bench_id")
    )
    cand = (
        cb.join(F.broadcast(bb), ["band", "sig"])
        .select("vec_id", "bench_id")
        .distinct()
    )
    bv = _side(bench, "bench_id", "bvec", "_bn", vec_col)
    scored = cand.join(_side(emb, "vec_id", "cvec", "_cn", vec_col), "vec_id").join(
        F.broadcast(bv), "bench_id"
    )
    dirty = scored.filter(
        _cos(F.col("cvec"), F.col("bvec"), F.col("_cn"), F.col("_bn")) >= threshold
    )
    return dirty.select("vec_id").distinct()


def embedding_decontaminate(
    emb: DataFrame, bench: DataFrame, threshold: float = 0.4, **lsh_kw
) -> DataFrame:
    """Corpus rows surviving embedding-space decontamination (anti-join
    of embedding_contaminated_ids — same shape as dedup.decontaminate:
    the corpus shuffles once on vec_id for the anti-join, the dirty
    set is bounded by contamination volume)."""
    return emb.join(
        embedding_contaminated_ids(emb, bench, threshold, **lsh_kw),
        "vec_id",
        "left_anti",
    )


def ivf_cell_summary(
    emb: DataFrame,
    codebook: DataFrame | None = None,
    n_centroids: int = 16,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell diagnostics over the trained IVF codebook — the
    cluster-level report a curation pipeline reads to discover domains
    and judge clustering quality (the SemDeDup-style "what lives in
    each cluster" view): (cell, n_vecs, top_label, n_top, purity,
    mean_cos) where top_label is the cell's most frequent label (ties
    toward the smallest), purity its share, and mean_cos the average
    cosine of members to their OWN centroid (cluster tightness).

    Shape at scale: ONE corpus pass — the argmax-cosine assignment is
    fused with the per-vector stats (cell via max_by, member cosine =
    the max sim, label constant per vec) in a single N x k scored
    aggregate against the broadcast codebook (same shape as
    _assign_cells), then two cell-keyed aggregates over
    codebook-sized frames. The corpus never self-joins."""
    if codebook is None:
        codebook = cache.track(
            fit_ivf_codebook(emb, n_centroids, vec_col=vec_col)
        )
    vecs = emb.select("vec_id", "label", F.col(vec_col).alias("v"))
    # tracked persist: asg is a diamond node (feeds both the per-label
    # and per-cell rollups) — without it the N x k assignment aggregate
    # runs twice
    asg = cache.track(
        _cell_scores(
            vecs, codebook, F.max("sim").alias("rcos"), F.min("label").alias("label")
        )
    )
    lab = asg.groupBy("cell", "label").agg(F.count(F.lit(1)).alias("n"))
    top = lab.groupBy("cell").agg(
        F.max_by(
            F.struct(F.col("label").alias("top_label"), F.col("n").alias("n_top")),
            F.struct(F.col("n").alias("n"), (-F.col("label")).alias("t")),
        ).alias("t")
    )
    # mean member cosine via EXACT integer micro-units: rcos is already
    # 6dp, so round(rcos * 1e6) is integer-valued and the bigint sum is
    # fold-order independent — a plain avg() of doubles can differ
    # between engines by 1 ulp exactly at a 6dp rounding boundary
    # (observed: 0.2901675 summing to either side).
    tot = asg.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.round(F.col("rcos") * 1e6, 0).cast("long")).alias("_sc"),
    )
    return tot.join(top, "cell").select(
        "cell",
        "n_vecs",
        F.col("t.top_label").alias("top_label"),
        F.col("t.n_top").alias("n_top"),
        F.round(F.col("t.n_top") / F.col("n_vecs"), 6).alias("purity"),
        F.round(F.col("_sc") / (F.lit(1e6) * F.col("n_vecs")), 6).alias(
            "mean_cos"
        ),
    )


def incremental_embedding_near_dups(
    new_emb: DataFrame,
    band_state: DataFrame,
    code_state: DataFrame,
    quant: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 8,
    n_bands: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    new_bands: DataFrame | None = None,
) -> DataFrame:
    """Day-2 embedding near-dup search over persisted state — closes
    the incremental-ingest loop for the embedding family the same way
    incremental_near_dup_verified (minhash) and
    incremental_simhash_near_dups do for text: the historical corpus
    is present ONLY as state, never rescanned.

    The state is three compact tables written at day-1 ingest:
    ``band_state`` (vec_id, band, sig) LSH buckets, ``code_state``
    (vec_id, codes) int8 quantized vectors, and the FROZEN ``quant``
    (dim_idx, lo, hi) parameters the codes were written with — 4 bytes
    + dim bytes per historical vector instead of 4*dim float32, the
    representation that keeps a 10^10-vector history in executor
    reach. New batches must be coded with the SAME frozen params
    (re-fitting would silently re-interpret every historical code).

    Candidates: new-batch band signatures equi-join the band state
    (new side BROADCAST — a day's batch is small against history) plus
    new-vs-new collisions within the batch; verify is exact cosine of
    the new vector against the DEQUANTIZED historical vector (the
    threshold applies to the dequantized value — a deterministic
    contract; bench.py's quantized_recall measures how faithful that
    representation is), new-new pairs verify exact-exact. Output
    (vec_a, vec_b, cosine) with vec_a < vec_b; replay-safe (same
    inputs -> bit-same output under any partitioning).

    Banding knob at scale: exact/near-identical duplicates collide in
    EVERY band regardless of plane count, so for dedup probing raise
    planes-per-band to prune false candidates — 16x4 (4-bit sigs)
    measured 2.2x faster than the 8x4 search default on the isotropic
    sf0.1 fixture with identical exact-dup recall (bench.py uses
    16x4); the state must be WRITTEN with the same banding it is
    probed with."""
    nb = (
        new_bands
        if new_bands is not None
        else band_signatures(new_emb, n_planes=n_planes, n_bands=n_bands,
                             dim=dim, vec_col=vec_col)
    )
    # tracked persist: hist_cand is a diamond (feeds the code-state
    # prune AND the verify join) — without it the band-state probe,
    # the dominant scan at a 10^10-vector history, would run twice
    hist_cand = cache.track(
        band_state.select(
            "band", "sig", F.col("vec_id").alias("hist_id")
        )
        .join(
            F.broadcast(
                nb.select("band", "sig", F.col("vec_id").alias("new_id"))
            ),
            ["band", "sig"],
        )
        # defensive: a re-ingested vec_id must never pair with itself
        .filter(F.col("new_id") != F.col("hist_id"))
        .select("new_id", "hist_id")
        .distinct()
    )
    nv = _side(new_emb, "new_id", "nvec", "_nn", vec_col)
    # prune history to candidate ids BEFORE dequantizing: the int8
    # reconstruction is O(dim) per row, and at a 10^10-vector history
    # paying it for every non-candidate row would dwarf the probe
    cand_ids = hist_cand.select(F.col("hist_id").alias("vec_id")).distinct()
    pruned = code_state.join(F.broadcast(cand_ids), "vec_id", "left_semi")
    hv = _side(dequantize(pruned, quant, out_col="hvec"),
               "hist_id", "hvec", "_hn", "hvec")
    cross = (
        hv.join(F.broadcast(hist_cand.join(nv, "new_id")), "hist_id")
        .withColumn("cosine", _cos(F.col("nvec"), F.col("hvec"),
                                   F.col("_nn"), F.col("_hn")))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.least("new_id", "hist_id").alias("vec_a"),
            F.greatest("new_id", "hist_id").alias("vec_b"),
            "cosine",
        )
    )
    within = embedding_near_dups(
        new_emb, threshold, n_planes, n_bands, dim, vec_col, bands=nb
    )
    return cross.unionByName(within)


def semantic_dedup_survivors(
    emb: DataFrame,
    threshold: float = 0.4,
    codebook: DataFrame | None = None,
    n_centroids: int = 16,
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public): drop semantically
    near-identical vectors WITHIN each coarse k-means cluster — the
    cluster-scoped complement of the LSH-banded embedding_near_dups
    path (cells capture the corpus's own geometry; bands are
    geometry-blind hash tables). Deterministic greedy keep rule: a
    vector drops iff ANY lower-vec_id vector in its cell has cosine >=
    threshold (no clustering fixpoint, replay-stable). Production runs
    use thresholds near 0.95 on real embeddings; the synthetic
    isotropic fixture needs lower values to exercise drops.

    Shape at scale: assignment is the broadcast-codebook aggregate
    (ivf_cells); the pair join is an equi-join on cell — candidate
    volume is sum of cell sizes squared, bounded by the codebook
    granularity (raise n_centroids to shrink cells — 64 cells measured
    1.56x faster than 16 at sf0.1 with near-identical survivors;
    bench.py uses 64), never an all-pairs product; losers reduce to a
    distinct id set and the corpus anti-joins once on vec_id."""
    if codebook is None:
        codebook = cache.track(
            fit_ivf_codebook(emb, n_centroids, vec_col=vec_col)
        )
    # tracked persist: cells feeds BOTH sides of the pair join, and it
    # embeds the N x k assignment aggregate — without the persist that
    # aggregate (and the corpus scan under it) runs twice; the cached
    # frame is two narrow columns, so vectors are not retained
    cells = cache.track(ivf_cells(emb, codebook, vec_col=vec_col))
    sided = cells.join(_side(emb, "vec_id", "_v", "_n", vec_col), "vec_id")
    a = sided.select(
        "cell", F.col("vec_id").alias("id_a"),
        F.col("_v").alias("va"), F.col("_n").alias("_na"),
    )
    b = sided.select(
        "cell", F.col("vec_id").alias("id_b"),
        F.col("_v").alias("vb"), F.col("_n").alias("_nb"),
    )
    losers = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            _cos(F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")) >= threshold
        )
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return emb.join(losers, "vec_id", "left_anti")


# ------------------------------------------------ product quantization

def _pq_subvectors(vecs: DataFrame, m: int, dsub: int,
                   vec_col: str = "v") -> DataFrame:
    """Map-side 1->m explode of (vec_id, v) into (vec_id, sub, sv) —
    one row per dim/m-wide subvector, Jegou et al. TPAMI 2011's
    decomposition. The sub-norm hoists here (see _side): each
    subvector scores against ksub centroids, so dot(sv, sv) computes
    once per ROW, not per (row, centroid) pair."""
    parts = F.array(*[
        F.struct(
            F.lit(s).alias("sub"),
            F.slice(F.col(vec_col), s * dsub + 1, dsub).alias("sv"),
        )
        for s in range(m)
    ])
    ex = _spread(vecs).select("vec_id", F.explode(parts).alias("e")).select(
        "vec_id", "e.sub", "e.sv"
    )
    return ex.withColumn("_sn", _dot(F.col("sv"), F.col("sv")))


def _pq_assign(subs: DataFrame, codebook: DataFrame) -> DataFrame:
    """Per-(vec_id, sub) argmin-L2 centroid: join the broadcast
    (sub, cent_id, cv) codebook on sub, squared distance via the
    hoisted-norms identity d = |s|^2 - 2<s,c> + |c|^2 rounded to 6dp
    BEFORE ranking (fold-order double noise must not flip near-ties
    between engines), min_by struct(d, cent_id) == ORDER BY d ASC,
    cent_id ASC. ONE hash aggregate over N x m x ksub scored rows with
    map-side combine; no window, no corpus self-join."""
    cb = codebook.withColumn("_cn2", _dot(F.col("cv"), F.col("cv")))
    scored = subs.join(F.broadcast(cb), "sub").withColumn(
        "d",
        F.round(
            F.col("_sn") - 2 * _dot(F.col("sv"), F.col("cv")) + F.col("_cn2"),
            6,
        ),
    )
    key = F.struct(F.col("d").alias("d"), F.col("cent_id").alias("c"))
    return scored.groupBy("vec_id", "sub").agg(
        F.min_by("cent_id", key).alias("code")
    )


def fit_pq_codebooks(
    emb: DataFrame,
    m: int = 4,
    ksub: int = 16,
    n_iters: int = 2,
    sample_mod: int = 5,
    dim: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks (Jegou, Douze, Schmid, TPAMI
    2011 — public): per-subspace Lloyd k-means over dim/m-wide vector
    slices -> (sub, cent_id, cv). PQ is the ANN memory end-game: a
    vector stores as m codes (m bytes at ksub<=256) instead of 4*dim
    float32 bytes — 64x smaller at dim=64/m=4, the difference between
    a 10^10-vector search state living in executor memory or not
    (int8 scalar quantization, fit_quantizer, only buys 4x).

    Deterministic + SQL-expressible like fit_ivf_codebook (the oracle
    replays every step as chained CTEs — mirrors the ALGORITHM, not
    literals):
    - bounded sample: vec_id % sample_mod == 0 — the fit never scans
      the full corpus; assignment is |sample| x m x ksub per round;
    - seeds: the ksub sampled vec_ids with the LOWEST md5(vec_id),
      each SLICED into its m subvectors (one TakeOrdered; all m
      subspaces share seed ids). md5 order rather than id order: ids
      carry corpus structure (round-robin shards, per-source ranges),
      and seeds drawn from one id range start Lloyd inside one region
      of the space — measured on the clustered fixture, id-ordered
      seeds landed in 2 of 4 clusters and left top-k cluster purity at
      0.55; md5-spread seeds recover it (the deterministic stand-in
      for kmeans++ random seeding, identical on both engines);
    - iterate: argmin-L2 assignment per subspace, then per-dim means
      in EXACT micro-units — floor(val*1e6 + 0.5) summed as bigint,
      divided and rounded at the end — so re-estimation is fold-order
      independent on both engines (avg() of raw doubles can land on
      either side of the 6dp boundary depending on partitioning; the
      ivf_cell_summary incident, hardened here from the start);
    - a subspace cell that loses all members drops out (both engines
      agree).

    All m subspaces train in ONE lazy plan: the sample explodes to
    (vec_id, sub, sv) rows and every Lloyd round is two hash
    aggregates keyed by (sub, cell[, pos]) — the m fits never
    serialize. Nothing collects to the driver."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    sample = emb.filter(F.col("vec_id") % sample_mod == 0).select(
        "vec_id",
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    seeds = sample.orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    ).limit(ksub)
    codebook = _pq_subvectors(seeds, m, dsub).select(
        "sub", F.col("vec_id").alias("cent_id"), F.col("sv").alias("cv")
    )
    subs = _pq_subvectors(sample, m, dsub)
    micro = F.floor(F.col("val") * 1e6 + F.lit(0.5)).cast("long")
    for _ in range(n_iters):
        assigned = _pq_assign(subs, codebook).join(subs, ["vec_id", "sub"])
        codebook = (
            assigned.select(
                "sub", F.col("code").alias("cell"),
                F.posexplode("sv").alias("pos", "val"),
            )
            .groupBy("sub", "cell", "pos")
            .agg(
                F.round(
                    F.sum(micro) / (F.count(F.lit(1)) * F.lit(1e6)), 6
                ).alias("m")
            )
            .groupBy("sub", "cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cv")
            )
            .select("sub", F.col("cell").alias("cent_id"), "cv")
        )
    return codebook


def pq_encode(
    emb: DataFrame,
    codebook: DataFrame | None = None,
    m: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    **fit_kw,
) -> DataFrame:
    """PQ codes for the full corpus: (vec_id, codes array<int> of
    length m, codes[s] = nearest sub-centroid id in subspace s).

    Scale shape: the corpus explodes map-side to N x m subvector rows,
    scores against the BROADCAST codebook (m x ksub rows), and two
    hash aggregates later is N rows of m ints — the corpus never
    shuffles wider than (vec_id, sub, code). This is the
    representation the day-2 embedding state would hold at 10^10+
    vectors (64x smaller than float32)."""
    if codebook is None:
        codebook = fit_pq_codebooks(emb, m=m, dim=dim, vec_col=vec_col, **fit_kw)
    vecs = emb.select(
        "vec_id",
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    asg = _pq_assign(_pq_subvectors(vecs, m, dim // m), codebook)
    return asg.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "code"))),
            lambda s: s["code"].cast("int"),
        ).alias("codes")
    )


def pq_decode(
    codes: DataFrame, codebook: DataFrame, out_col: str = "pqvec"
) -> DataFrame:
    """Reconstruct the approximation from codes: concatenate each
    code's sub-centroid in subspace order. posexplode -> broadcast
    equi-join on (sub, cent_id) -> one vec_id aggregate; centroid
    values are 6dp by construction, so the reconstruction is
    bit-identical on both engines."""
    ex = codes.select(
        "vec_id", F.posexplode("codes").alias("sub", "code")
    )
    cb = codebook.select(
        "sub", F.col("cent_id").alias("code"), "cv"
    )
    j = ex.join(F.broadcast(cb), ["sub", "code"])
    return j.groupBy("vec_id").agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "cv"))),
                lambda s: s["cv"],
            )
        ).alias(out_col)
    )


def pq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    m: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    codebook: DataFrame | None = None,
    **fit_kw,
) -> DataFrame:
    """Brute-force cosine top-k over the PQ-reconstructed corpus — the
    accuracy probe for the PQ scale path (symmetric distance: queries
    reconstruct through the same codes; bench.py reports recall vs the
    float32 exact baseline, the quantized_topk pattern). The codebook
    is a tracked diamond (encode's assign join + decode's lookup both
    consume it)."""
    if codebook is None:
        codebook = cache.track(
            fit_pq_codebooks(emb, m=m, dim=dim, vec_col=vec_col, **fit_kw)
        )
    dec = pq_decode(pq_encode(emb, codebook, m, dim, vec_col), codebook)
    return cosine_topk(dec, query_ids, k, vec_col="pqvec")


def pq_recall(emb: DataFrame, query_ids: list[int], k: int = 10,
              **pq_kw) -> float:
    """Recall@k of the PQ path vs the float32 exact baseline."""
    return _recall_vs_exact(emb, pq_topk(emb, query_ids, k, **pq_kw),
                            query_ids, k)
