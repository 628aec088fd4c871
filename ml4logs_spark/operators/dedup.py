"""Deduplication operators over the documents table.

Beyond the reference's scope (ml4logs has no corpus dedup), these are the
operations a large-scale training-data pipeline needs; all are expressed
with JVM-side built-ins — no Python in the hot path — and every hash is
md5-hex so the DuckDB oracle reproduces results exactly.

Scale notes
-----------
- exact dedup: one hash-groupBy shuffle on md5(text) — the canonical
  content-addressed dedup; at 100 TB, AQE + high shuffle parallelism on
  the digest key (uniform by construction, no skew).
- MinHash: a doc_id aggregate over ``shingle_rows``, combined map-side
  so only the signature hashes shuffle. LSH banding explodes each doc
  into #bands rows and shuffles by (band, hash) —
  candidate generation cost is O(docs x bands), never O(docs^2); only
  bucket-colliding pairs are joined and Jaccard-verified.
- every banded family (MinHash, SimHash, embedding LSH) turns its band
  table into pairs through ``bucket_pairs``: one persisted band frame,
  a self-join within the batch, a probe (never a self-join) of the
  historical bands, one final distinct. Every Jaccard verify is
  ``store_jaccard_pairs`` over distinct-set arrays.
- lexicographic min of md5 hex strings == numeric min of the 128-bit
  hash value, so signatures avoid any engine-specific int conversion.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ml4logs_spark import cache

N_MINHASH = 8
LSH_BANDS = 4  # rows-per-band = N_MINHASH / LSH_BANDS = 2
SHINGLE_K = 3


def with_text_hash(docs: DataFrame) -> DataFrame:
    return docs.withColumn("text_hash", F.md5("text"))


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Content-hash groups: (text_hash, n_docs, keep_id=min doc_id)."""
    return with_text_hash(docs).groupBy("text_hash").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("keep_id"),
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Surviving rows after exact dedup (keep lowest doc_id per hash).

    Implemented as a min-aggregate + semi join rather than a window so
    the heavy side only shuffles once on the digest.
    """
    keep = exact_dup_groups(docs).select(F.col("keep_id").alias("doc_id"))
    return docs.join(keep, "doc_id", "left_semi")


def shingle_rows(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, gram): one row per k-word shingle position 1..max(L-k+1, 1)
    of the space-split tokens, k = SHINGLE_K (the DuckDB oracle's
    generate_series bound), within-doc repeats kept. The frame MinHash, the verify sets,
    the hashed store and decontamination all build on; built-ins only,
    so whole-stage codegen compiles it. ``get`` is the null-safe index
    (ANSI element_at throws past the end) and ``concat_ws`` skips its
    NULLs, so short docs give one shorter gram; NULL text gives one row
    with a NULL gram, so no doc drops out at the explode."""
    toks, p = F.col("_toks"), F.col("_p")
    n = F.greatest(F.size(toks) - F.lit(SHINGLE_K - 1), F.lit(1))
    pos = docs.select("doc_id", F.split(F.col(text_col), " ").alias("_toks")).select(
        "doc_id", "_toks", F.posexplode_outer(F.slice(toks, 1, n)).alias("_p", "_t")
    )
    gram = F.concat_ws(" ", *[F.get(toks, p + j) for j in range(SHINGLE_K)])
    return pos.select("doc_id", F.when(p.isNotNull(), gram).alias("gram"))


def _gram_sets(
    docs: DataFrame, value: Column, name: str, text_col: str = "text"
) -> DataFrame:
    """(doc_id, <name>): the distinct ``value``s of each doc's grams,
    NULL (not empty) for NULL text. Aggregates on doc_id, the row key."""
    return shingle_rows(docs, text_col).groupBy("doc_id").agg(
        F.when(F.count("gram") > 0, F.collect_set(value)).alias(name)
    )


def minhash_signatures(docs: DataFrame, n: int = N_MINHASH) -> DataFrame:
    """(doc_id, mh0..mh{n-1}): mh{i} = min of md5('{i}:' || gram) over
    the doc's shingle_rows, NULL for NULL text. Aggregates on doc_id,
    which must be the row key (it is in documents, heldout and
    conv_text_docs); partial aggregation runs map-side, so the shuffle
    carries n hashes per doc, never text or grams."""
    g = F.col("gram")
    return shingle_rows(docs).groupBy("doc_id").agg(
        *[F.min(F.md5(F.concat(F.lit(f"{i}:"), g))).alias(f"mh{i}") for i in range(n)]
    )


def lsh_bands(sig: DataFrame, bands: int = LSH_BANDS, n: int = N_MINHASH) -> DataFrame:
    """Fold the signature into band hashes and explode to (doc_id, band, h)."""
    if n % bands != 0:
        raise ValueError(
            f"signature length ({n}) must be divisible by bands ({bands}); "
            "a remainder would silently drop hashes and change recall"
        )
    r = n // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat(*[F.col(f"mh{b * r + j}") for j in range(r)])).alias("h"),
        )
        for b in range(bands)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bh")
    ).select("doc_id", F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))


def bucket_pairs(
    bands: DataFrame,
    keys: list[str],
    seen: DataFrame | None = None,
    ids: tuple[str, str, str] = ("doc_id", "doc_a", "doc_b"),
    score: Callable[[str, str], Column] | None = None,
) -> DataFrame:
    """Distinct canonical pairs (lo < hi) of rows that share the bucket
    ``keys`` — the candidate step of every banded near-dup family.
    ``ids`` = (row id column, lo output, hi output). Within ``bands``
    the table self-joins with ``a < b``; given ``seen`` (a historical
    band table) ``bands`` also probes it with ``a != b`` (a replayed
    row never pairs with itself) and the pair is ordered by
    least/greatest — history is probed, never self-joined. ``score``
    maps the two join aliases to a named, symmetric pair column
    (SimHash's hamming distance) carried into the output.

    ``bands`` feeds both sides of the self-join and the probe, so it is
    tracked-persisted (guide §2.4: no cross-branch CSE; without it the
    upstream signature pipeline runs once per consumer); re-persisting
    a frame the caller already holds is a no-op. One final distinct
    dedups a pair that collides in several bands or on both sides; a
    caller's filter on a pair column (hamming <= r) is pushed below it
    by Catalyst, so only surviving pairs reach that shuffle."""
    i, lo, hi = ids
    a, b = F.col(f"a.{i}"), F.col(f"b.{i}")
    extra = [score("a", "b")] if score is not None else []
    bands = cache.track(bands)
    pairs = (
        bands.alias("a").join(bands.alias("b"), keys)
        .filter(a < b)
        .select(a.alias(lo), b.alias(hi), *extra)
    )
    if seen is not None:
        pairs = pairs.unionByName(
            bands.alias("a").join(seen.alias("b"), keys)
            .filter(a != b)
            .select(F.least(a, b).alias(lo), F.greatest(a, b).alias(hi), *extra)
        )
    return pairs.distinct()


def lsh_candidate_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup candidate pairs: docs sharing any LSH band bucket."""
    return bucket_pairs(lsh_bands(minhash_signatures(docs)), ["band", "h"])


def jaccard_pairs(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs (verification step):
    ``store_jaccard_pairs`` over the docs' distinct shingle sets."""
    return store_jaccard_pairs(_gram_sets(docs, F.col("gram"), "sh_sig"), pairs)


def near_dups(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """LSH candidates -> exact-Jaccard verify -> thresholded pairs."""
    return jaccard_pairs(docs, lsh_candidate_pairs(docs)).filter(
        F.col("jaccard") >= threshold
    )


def span_blocks(
    docs: DataFrame, span_tokens: int = 16, text_col: str = "text"
) -> DataFrame:
    """Non-overlapping ``span_tokens``-token blocks per doc:
    (doc_id, block_idx, block_text, block_hash). The unit of span-level
    dedup; the trailing partial block keeps its tail. NULL text is
    treated as empty (coalesce — same convention as textqa._toks_lower
    and simhash64) so NULL-text rows dedup alongside empty-text rows
    instead of silently vanishing at the explode. Map-side 1->N
    explode, no shuffle."""
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    n = F.size(toks)
    n_blocks = F.greatest(
        ((n + F.lit(span_tokens - 1)) / F.lit(span_tokens)).cast("int"), F.lit(1)
    )
    blocks = F.transform(
        F.sequence(F.lit(0), n_blocks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * span_tokens + 1, span_tokens)
        ),
    )
    return docs.select(
        "doc_id", F.posexplode(blocks).alias("block_idx", "block_text")
    ).withColumn("block_hash", F.md5("block_text"))


def span_dedup(
    docs: DataFrame, span_tokens: int = 16, text_col: str = "text"
) -> DataFrame:
    """Span-level (sub-document) deduplication: remove exact repeated
    token spans CORPUS-WIDE while keeping the documents — the
    block-hash approximation of ExactSubstr dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"), which
    showed boilerplate repeated across otherwise-distinct documents
    (headers, licenses, templates) is what document-level dedup misses.

    Each doc splits into non-overlapping ``span_tokens``-token blocks;
    a block whose content appears anywhere else in the corpus survives
    only at its canonical first occurrence (minimum (doc_id,
    block_idx)); surviving blocks reassemble in order. Docs whose every
    block is a non-canonical duplicate drop out entirely (their content
    fully exists elsewhere).

    Shape at scale: map-side 1->N block explode, ONE shuffle on the
    uniform block_hash for canonical-winner selection (partial+final
    min aggregate), a semi-join shaped filter, then one doc_id shuffle
    to reassemble — O(tokens/span) rows throughout, no all-pairs
    anything. The reassembly collect_list is bounded by doc length
    (blocks-per-doc), not corpus size."""
    kept = _first_blocks(span_blocks(docs, span_tokens, text_col), "block_hash")
    return _reassemble_blocks(kept, text_col)


def _first_blocks(b: DataFrame, key: str) -> DataFrame:
    """Rows of block frame ``b`` at the canonical first occurrence
    (minimum (doc_id, block_idx)) of their ``key`` — the winner
    aggregate shuffled on the uniform block hash, joined back and
    filtered; shared by span_dedup and incremental_span_dedup."""
    winners = b.groupBy(key).agg(
        F.min(F.struct("doc_id", "block_idx")).alias("w")
    ).select(
        key, F.col("w.doc_id").alias("_wdoc"), F.col("w.block_idx").alias("_widx"),
    )
    return b.join(winners, key).filter(
        (F.col("doc_id") == F.col("_wdoc")) & (F.col("block_idx") == F.col("_widx"))
    )


def _reassemble_blocks(kept: DataFrame, text_col: str = "text") -> DataFrame:
    """Rebuild (doc_id, text) from surviving span blocks in block_idx
    order — the closing shuffle shared by span_dedup and
    boilerplate_span_filter. The collect_list is bounded by blocks per
    doc (doc length / span_tokens), never by corpus size."""
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("block_idx", "block_text"))),
                lambda s: s["block_text"],
            ),
            " ",
        ).alias(text_col)
    )


def boilerplate_span_filter(
    docs: DataFrame,
    max_doc_freq: int = 2,
    span_tokens: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-frequency boilerplate removal: drop EVERY occurrence of
    any ``span_tokens``-token block that appears in more than
    ``max_doc_freq`` distinct documents, then reassemble the surviving
    blocks per doc — the C4/CCNet-style line-frequency filter
    re-expressed over the same non-overlapping block units as
    ``span_dedup``. The two are complements: span_dedup KEEPS one
    canonical copy of every duplicated span (dedup), this removes ALL
    copies of spans frequent enough to be boilerplate (headers,
    license blocks, navigation chrome) while leaving rare duplicates
    alone. Docs that are pure boilerplate drop out entirely.

    Shape at scale: map-side block explode -> one partial+final
    distinct-count aggregate shuffled on the uniform block_hash -> an
    anti-join against the frequent-block set (bounded by the number of
    distinct blocks over the threshold — boilerplate vocabulary, not
    corpus volume, so AQE broadcasts it) -> the shared per-doc
    reassembly shuffle. No all-pairs anything."""
    b = span_blocks(docs, span_tokens, text_col)
    boiler = (
        b.groupBy("block_hash")
        .agg(F.countDistinct("doc_id").alias("_df"))
        .filter(F.col("_df") > max_doc_freq)
        .select("block_hash")
    )
    kept = b.join(boiler, "block_hash", "left_anti")
    return _reassemble_blocks(kept, text_col)


BLOCK_STORE_HASH_CHARS = 16  # 64-bit block hashes in the span-dedup state


def block_store(
    docs: DataFrame,
    span_tokens: int = 16,
    text_col: str = "text",
    hash_chars: int = BLOCK_STORE_HASH_CHARS,
) -> DataFrame:
    """Day-2 state for span-level dedup: the distinct set of block
    hashes ever seen, as ``hash_chars``-hex md5 prefixes (one
    ``block_hash`` column). 16 hex chars = 64 bits: at 10^12 historical
    blocks the birthday-collision expectation is ~0.03 merged pairs —
    and a collision only drops one more span, it never corrupts a doc.
    Fixed-width hex state with NO text, the same keep-the-hashes-only
    contract as ``shingle_store`` / the simhash signature table.

    Advance the frontier after an ingest by unioning
    ``block_store(new_batch)`` (every block of the batch is "seen"
    after the batch lands, whether its canonical copy survived in
    history or in the batch) and re-distincting — a set union on the
    uniform hash key, history never rescanned."""
    return (
        span_blocks(docs, span_tokens, text_col)
        .select(F.substring("block_hash", 1, hash_chars).alias("block_hash"))
        .distinct()
    )


def incremental_span_dedup(
    new_docs: DataFrame,
    store: DataFrame,
    span_tokens: int = 16,
    text_col: str = "text",
    hash_chars: int = BLOCK_STORE_HASH_CHARS,
) -> DataFrame:
    """Cross-batch span-level dedup — the day-2 ingest path of
    ``span_dedup`` (Lee et al. 2021 block-hash ExactSubstr
    approximation), closing the incremental loop for the span family
    like exact / minhash / simhash / embedding have theirs.

    A block of the new batch survives iff its hash is NOT in the
    historical ``block_store`` AND it is the batch-canonical occurrence
    (min (doc_id, block_idx)) of its hash; survivors reassemble per doc
    in block order. Docs whose every block is historical drop out
    entirely. When history ids precede batch ids this equals
    ``span_dedup(history UNION batch)`` restricted to the batch
    (pytest-pinned); a replayed batch whose blocks were already
    absorbed into the store emits NOTHING (no duplicate spans ever
    re-enter the corpus — the same at-least-once contract as the other
    incremental families).

    Shape at scale: map-side block explode -> anti-join against the
    compact hash-only state on the uniform 64-bit key (state is a hash
    dim, the historical corpus text is never read) -> the span_dedup
    min-aggregate + semi-filter -> the shared per-doc reassembly
    shuffle. O(tokens/span) rows throughout."""
    b = span_blocks(new_docs, span_tokens, text_col).withColumn(
        "_bh", F.substring("block_hash", 1, hash_chars)
    )
    fresh = b.join(
        store.select(F.col("block_hash").alias("_seen")),
        F.col("_bh") == F.col("_seen"),
        "left_anti",
    )
    return _reassemble_blocks(_first_blocks(fresh, "_bh"), text_col)


SIMHASH_CHUNKS = 4  # 4 x 16-bit chunks = 64-bit signature


def simhash64(docs: DataFrame) -> DataFrame:
    """64-bit SimHash as four 16-bit chunk columns (c0..c3).

    The production signature width (Manku et al., WWW'07). Chunk b holds
    global bits [16b, 16b+16): bit i set <=> vote sum for bit i >= 0,
    where tokens vote +1/-1 and the vote sum is 2*(#tokens with bit set)
    - #tokens. Each DISTINCT token is md5-hashed exactly ONCE; the first
    16 hex chars give 16 nibbles = 64 independent bits (global bit
    4d+j = bit j of nibble d). Deterministic in both engines (no
    platform hash).

    Plan shape: explode distinct tokens, then ONE hash aggregate with 64
    codegen'd ``sum(bit_i)`` columns + a token count. The per-token work
    (md5 + 64 shift/AND extracts) runs inside whole-stage codegen, and
    partial aggregation collapses the exploded rows map-side before the
    single doc_id exchange (~65 small ints per doc on the wire). The
    previous higher-order ``aggregate``/``zip_with`` fold computed the
    same thing but ran INTERPRETED, allocating a 64-array per token —
    this shape measured >10x faster on long documents.

    Emitting the signature as four small ints (0..65535) keeps every
    shift/xor sign-safe and portable — the chunks ARE the pigeonhole
    bands for the hamming<=3 search, and the full signature is
    c0 | c1<<16 | c2<<32 | c3<<48 when a single value is wanted.
    """
    # coalesce keeps NULL-text docs in the output (as the signature of
    # the single empty token) instead of silently vanishing at explode;
    # the oracle applies the same coalesce
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.split(F.coalesce(F.col("text"), F.lit("")), " ")
            )
        ).alias("_tok"),
    )
    h = F.md5(F.col("_tok"))
    tok_quads = toks.select(
        "doc_id",
        *[
            F.conv(F.substring(h, 4 * q + 1, 4), 16, 10)
            .cast("int")
            .alias(f"_q{q}")
            for q in range(4)
        ],
    )

    def bit(i: int) -> Column:
        # Global bit i = bit (i%4) of hex nibble (i//4); within quad q,
        # nibble position p (0 = leading char) sits at shift 4*(3-p).
        n, j = divmod(i, 4)
        q, p = divmod(n, 4)
        return F.shiftright(F.col(f"_q{q}"), 4 * (3 - p) + j).bitwiseAND(
            F.lit(1)
        )

    votes = tok_quads.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(bit(i)).alias(f"_b{i}") for i in range(64)],
    )

    def chunk(b: int) -> Column:
        # bit set <=> vote sum 2*_b - _n >= 0
        expr: Column = F.lit(0)
        for j in range(16):
            i = 16 * b + j
            expr = expr + F.when(
                F.lit(2) * F.col(f"_b{i}") >= F.col("_n"), F.lit(2**j)
            ).otherwise(F.lit(0))
        return expr.cast("int")

    return votes.select(
        "doc_id", *[chunk(b).alias(f"c{b}") for b in range(SIMHASH_CHUNKS)]
    )


def _simhash_bands(sig: DataFrame) -> DataFrame:
    """Explode signatures to (doc_id, c0..c3, band, chunk) bucket keys."""
    return sig.select(
        "doc_id",
        *[f"c{b}" for b in range(SIMHASH_CHUNKS)],
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"c{b}").alias("chunk"))
                for b in range(SIMHASH_CHUNKS)
            ])
        ).alias("bc"),
    ).select(
        "doc_id",
        *[f"c{b}" for b in range(SIMHASH_CHUNKS)],
        F.col("bc.band").alias("band"),
        F.col("bc.chunk").alias("chunk"),
    )


def simhash_candidate_pairs(docs: DataFrame) -> DataFrame:
    """Bucket-colliding pairs with their exact hamming distance.

    Pigeonhole banding: any pair within hamming <= 3 of a 64-bit
    signature must agree on at least one whole 16-bit chunk, so the
    banded equi-join generates a COMPLETE candidate set for that radius
    — and each band has 65,536 possible buckets, so random collisions
    are rare and candidate volume stays near-linear in the corpus (the
    round-2 4-bit-nibble banding had only 16 buckets per band, which
    degenerated to ~N^2/16 candidates). The hamming verify is four
    sign-safe int xor+popcounts — no UDF.

    Extreme-scale path: at ~10^10+ docs even 65,536 buckets/band fill
    up (bucket ~ N/65k, within-bucket join quadratic again). The same
    pigeonhole argument generalizes — widen the signature (the
    simhash64 aggregate extends to 128 bits as 8 sum columns more) and
    band into 4x32-bit chunks: hamming<=3 still guarantees one clean
    chunk, with 2^32 buckets per band. Chunk width is the knob; no
    structural change. The band table's persist and the pair join are
    ``bucket_pairs``."""
    return bucket_pairs(
        _simhash_bands(simhash64(docs)), ["band", "chunk"], score=_hamming
    )


def _hamming(a: str, b: str) -> Column:
    """Exact signature distance between join aliases ``a`` and ``b``:
    four sign-safe 16-bit xor + popcounts, no UDF."""
    return sum(
        F.bit_count(F.col(f"{a}.c{i}").bitwiseXOR(F.col(f"{b}.c{i}")))
        for i in range(SIMHASH_CHUNKS)
    ).cast("int").alias("hamming")


def simhash_near_dups(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-duplicate pairs via pigeonhole banding — EXACT for
    radius <= 3 (see simhash_candidate_pairs): complete candidate set
    from the banded equi-join, thresholded by the popcount verify.
    O(docs x 4) candidate rows at realistic corpora, never all-pairs —
    the production simhash search shape (Manku et al., WWW'07)."""
    return simhash_candidate_pairs(docs).filter(F.col("hamming") <= max_hamming)


def incremental_simhash_near_dups(
    new_docs: DataFrame, seen_sigs: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Cross-batch simhash near-dup pairs: hamming<=``max_hamming``
    pairs of the new batch against the HISTORICAL signature table
    (doc_id, c0..c3 — the third incremental state table next to the
    LSH band table and the shingle store), plus new-vs-new pairs
    within the batch. Returns (doc_a, doc_b, hamming), doc_a < doc_b.

    Unlike the MinHash path, simhash needs only ONE state table: the
    signature both generates candidates (its chunks ARE the pigeonhole
    bands) and verifies them (the popcount distance is a function of
    the signatures alone) — 8 bytes/doc of state, no text retained,
    and the day-2 ingest never rescans history. To advance the
    frontier append ``simhash64(new_docs)`` for the accepted rows.

    Exactness carries over: any pair within radius 3 of the 64-bit
    signature agrees on a whole 16-bit chunk, so new-vs-historical
    banding misses nothing (simhash_candidate_pairs' pigeonhole
    argument, applied across the batch boundary).

    Replay-safe: signatures are a deterministic function of text, so a
    batch whose signatures were already appended collides with its own
    identical state rows — self-pairs are filtered, cross pairs
    canonicalize and distinct away, and the output is unchanged.
    Candidates are ``bucket_pairs`` of the batch bands probing the
    historical ones; the radius filter runs below its distinct."""
    hb = _simhash_bands(
        seen_sigs.select("doc_id", *[f"c{b}" for b in range(SIMHASH_CHUNKS)])
    )
    return bucket_pairs(
        _simhash_bands(simhash64(new_docs)), ["band", "chunk"], seen=hb,
        score=_hamming,
    ).filter(F.col("hamming") <= max_hamming)


def contaminated_ids(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Doc ids sharing at least one k-word shingle with the benchmark
    set — the test-set-contamination detector run before training.

    Shape at scale: both sides explode to (id, shingle) rows and meet
    in an equi-join on the shingle string — O(corpus tokens), never
    all-pairs. Benchmark suites are tiny next to a 100 TB corpus, so
    the distinct benchmark-shingle side is broadcast; the big side
    never shuffles."""
    doc_grams = shingle_rows(docs)
    bench_grams = shingle_rows(benchmark).select("gram").distinct()
    return (
        doc_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Corpus rows surviving benchmark decontamination: drop every doc
    that shares a k-word shingle with ``benchmark`` (anti-join against
    ``contaminated_ids``)."""
    return docs.join(contaminated_ids(docs, benchmark), "doc_id", "left_anti")


def contamination_report(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Per-benchmark-item contamination severity: for EVERY benchmark
    doc, how many corpus docs share at least one k-word shingle with it
    — (bench_id, n_contaminating_docs), zeros included. The reverse
    view of ``decontaminate``: that drops corpus rows; this tells the
    EVAL owner which benchmark items are compromised and how badly
    (a 10^4-hit item measures memorization, not capability).

    Shape at scale: the benchmark side keeps (bench_id, gram) and is
    broadcast exactly like ``contaminated_ids``; the corpus explodes
    map-side and never shuffles into the join. The post-join distinct
    on (bench_id, doc_id) is the only corpus-derived shuffle, bounded
    by contamination volume rather than corpus size; the final count
    and the zero-fill left join run on benchmark-sized frames."""
    doc_grams = shingle_rows(docs)
    bench_grams = (
        shingle_rows(benchmark)
        .select(F.col("doc_id").alias("bench_id"), "gram")
        .distinct()
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .select("bench_id", "doc_id")
        .distinct()
    )
    counts = hits.groupBy("bench_id").agg(
        F.count(F.lit(1)).alias("n_contaminating_docs")
    )
    return (
        benchmark.select(F.col("doc_id").alias("bench_id"))
        .join(counts, "bench_id", "left")
        .select(
            "bench_id",
            F.coalesce("n_contaminating_docs", F.lit(0)).cast("long")
            .alias("n_contaminating_docs"),
        )
    )


def near_dup_clusters(
    docs: DataFrame, threshold: float = 0.8, max_iter: int = 25
) -> DataFrame:
    """Connected components over the near-duplicate pair graph:
    ``(doc_id, cluster_id)`` for every document in at least one pair,
    where cluster_id is the MINIMUM doc_id reachable through pairs.

    This is the step real MinHash dedup pipelines run between pair
    generation and survivor selection (near-duplication is not
    transitive, so picking survivors per PAIR under-deletes: a~b, b~c
    must collapse to one kept doc even when a~c wasn't generated).

    Algorithm: alternating-min label propagation to a fixpoint —
    label(x) starts as min(x, neighbors), then every round each node
    takes the min label over itself and its neighbors. Converges in
    O(component diameter) rounds; near-dup components are shallow
    (star-ish around a template), so a handful of rounds suffice.
    Each round is one equi-join + hash aggregate on doc_id — the
    standard scalable CC shape (cf. "large-star/small-star",
    Kiveris et al., SoCC'14); ``localCheckpoint`` truncates lineage so
    round N's plan does not replay rounds 1..N-1, and the driver-side
    loop is bounded by ``max_iter`` with an exact convergence check
    (count of label changes == 0). The pair graph is the (tiny
    relative to the corpus) output of LSH + Jaccard verification —
    only docs IN a pair enter the iteration.
    """
    return connected_components(near_dups(docs, threshold), max_iter=max_iter)


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Min-label connected components over an undirected pair graph:
    ``(doc_id, cluster_id)`` per node, cluster_id = min reachable id.
    Generic over any pair source (text near-dups, embedding near-dups,
    exact-hash groups); see ``near_dup_clusters`` for the algorithm
    discussion."""
    pairs = pairs.select(src, dst)
    edges = (
        pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .union(
            pairs.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_min_nbr"))
        .select(
            F.col("src").alias("doc_id"),
            F.least("src", "_min_nbr").alias("cluster_id"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.withColumnRenamed("doc_id", "dst"), "dst"
            )
            .groupBy("src")
            .agg(F.min("cluster_id").alias("_nbr_lab"))
        )
        stepped = labels.join(
            nbr_min.withColumnRenamed("src", "doc_id"), "doc_id"
        ).select(
            "doc_id",
            F.least("cluster_id", "_nbr_lab").alias("cluster_id"),
        )
        # pointer jump (label-of-label contraction): labels are always
        # node ids, so re-pointing each node at its label's label halves
        # remaining path lengths — O(log diameter) rounds overall, the
        # standard CC acceleration (Kiveris et al.'s star operations)
        lbl2 = stepped.select(
            F.col("doc_id").alias("_lnode"),
            F.col("cluster_id").alias("_llab"),
        )
        new_labels = (
            stepped.join(
                lbl2, stepped["cluster_id"] == lbl2["_lnode"], "left"
            )
            .select(
                "doc_id",
                F.least(
                    "cluster_id", F.coalesce("_llab", "cluster_id")
                ).alias("cluster_id"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.withColumnRenamed("cluster_id", "_new")
            .join(labels, "doc_id")
            .filter(F.col("_new") != F.col("cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # silently returning non-minimal labels would diverge from the
        # exact-reachability oracle and under-delete survivors
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter"
        )
    return labels


def near_dup_survivors(
    docs: DataFrame, threshold: float = 0.8, keep: str = "min_id"
) -> DataFrame:
    """Corpus rows surviving near-duplicate removal: one kept doc per
    connected near-dup cluster plus every doc in no pair (anti-join of
    the non-survivor set — the big side shuffles once on doc_id).

    ``keep`` picks the survivor per cluster:

    - ``"min_id"`` (default): the cluster-minimum doc_id — zero extra
      work (the cluster label IS the winner).
    - ``"max_quality"``: the highest ``textqa.doc_stats`` quality_score,
      ties broken by LOWEST doc_id — what real pipelines keep (the
      best-written copy, not the first-crawled one). Quality is
      computed only for clustered docs (a semi-join first, so at 100 TB
      the score never materializes for the overwhelmingly-unpaired
      corpus); the per-cluster argmax is one ``max_by`` hash aggregate
      over the (tiny) clustered set with a deterministic struct
      tie-break — no window over the corpus.
    """
    clusters = near_dup_clusters(docs, threshold)
    if keep == "min_id":
        losers = clusters.filter(
            F.col("doc_id") != F.col("cluster_id")
        ).select("doc_id")
    elif keep == "max_quality":
        from ml4logs_spark.operators import textqa

        member_docs = docs.join(
            clusters.select("doc_id"), "doc_id", "left_semi"
        )
        scored = clusters.join(
            textqa.doc_stats(member_docs).select("doc_id", "quality_score"),
            "doc_id",
        )
        winners = scored.groupBy("cluster_id").agg(
            F.max_by(
                "doc_id",
                F.struct(F.col("quality_score"), -F.col("doc_id")),
            ).alias("doc_id")
        )
        losers = clusters.join(
            winners.select("doc_id"), "doc_id", "left_anti"
        ).select("doc_id")
    else:
        raise ValueError(f"keep must be 'min_id' or 'max_quality', got {keep!r}")
    return docs.join(losers, "doc_id", "left_anti")


def incremental_near_dups(
    new_docs: DataFrame, seen_bands: DataFrame
) -> DataFrame:
    """Cross-batch near-dup CANDIDATE pairs: each new doc joined against
    the HISTORICAL LSH band table (doc_id, band, h), plus new-vs-new
    candidates within the batch. Returns (doc_a, doc_b) with
    doc_a < doc_b (canonical order, self-pairs from replayed batches
    filtered); run the result through ``store_jaccard_pairs`` for exact
    verification.

    At scale the historical band table is the only state kept (bands x
    docs rows, no text), the equi-join on (band, h) touches matching
    buckets only, and appending ``lsh_bands(minhash_signatures(new))``
    advances the frontier. Canonical ordering means a batch replayed
    after its bands were already appended yields each pair once, never
    a (x, x) self-pair. Both joins are ``bucket_pairs``."""
    return bucket_pairs(
        lsh_bands(minhash_signatures(new_docs)), ["band", "h"], seen=seen_bands
    )


STORE_HASH_CHARS = 8  # 32-bit hashed shingles in the verification store


def shingle_store(
    docs: DataFrame, text_col: str = "text", hash_chars: int = STORE_HASH_CHARS
) -> DataFrame:
    """Compact per-doc verification state: (doc_id, sh_sig) where
    ``sh_sig`` is the doc's distinct shingle set as sorted md5-prefix
    hashes — the second half of the incremental near-dup state (next to
    the LSH band table), kept so new-vs-historical candidate pairs can
    be Jaccard-verified WITHOUT the historical corpus text.

    Jaccard over hashed distinct shingles equals Jaccard over the
    shingles themselves up to hash collisions: at the default 8 hex
    chars (32 bits), a 500-shingle doc has ~3e-5 probability of ANY
    within-doc collision, and a collision merely merges two shingles —
    noise far below the dedup threshold's resolution. Fixed-width hex
    entries also columnar-compress better than raw text. Sorted so the
    stored state is byte-deterministic; NULL for NULL text. Aggregates
    on doc_id, which must be the row key (it is in documents, heldout
    and conv_text_docs); the collect_set combines map-side, so the
    shuffle carries each doc's distinct hashes, never text or grams."""
    sig = _gram_sets(
        docs, F.substring(F.md5("gram"), 1, hash_chars), "sh_sig", text_col
    )
    # sort_array == array_sort on a NULL-free array, minus the lambda
    return sig.select("doc_id", F.sort_array("sh_sig").alias("sh_sig"))


def store_jaccard_pairs(store: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact set-Jaccard for candidate pairs against ``store`` — any
    (doc_id, sh_sig) frame of distinct-set arrays: a ``shingle_store``
    when a side only exists as state, or the raw shingle sets
    (``jaccard_pairs``). The one verify body: two doc_id equi-joins.
    The store feeds both of them (sig_a and sig_b), so it is
    tracked-persisted (guide §2.4 — without it the shingle pass runs
    twice per action); re-persisting a held frame is a no-op."""
    s = cache.track(store).select("doc_id", "sh_sig")
    out = (
        pairs.join(
            s.withColumnRenamed("doc_id", "doc_a")
            .withColumnRenamed("sh_sig", "sig_a"),
            "doc_a",
        ).join(
            s.withColumnRenamed("doc_id", "doc_b")
            .withColumnRenamed("sh_sig", "sig_b"),
            "doc_b",
        )
    )
    # |A ∪ B| = |A| + |B| - |A ∩ B| exactly (both arrays are distinct
    # sets), so the union array never materializes — one hash-set pass
    # per pair instead of two (guide §1.2 per-task work).
    inter = F.size(F.array_intersect("sig_a", "sig_b"))
    union = F.size("sig_a") + F.size("sig_b") - inter
    return out.select(
        "doc_a", "doc_b", F.round(inter / union, 6).alias("jaccard")
    )


def incremental_near_dup_verified(
    new_docs: DataFrame,
    seen_bands: DataFrame,
    seen_store: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Cross-batch near-dup pairs, VERIFIED: LSH candidates from
    ``incremental_near_dups`` (new-vs-historical + new-vs-new), then
    exact hashed-shingle Jaccard against the union of the historical
    ``shingle_store`` state and the batch's own store, thresholded.
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.

    This closes the day-2 ingest loop: the batch path (``near_dups``)
    verifies against text, but a real pipeline only keeps state — the
    band table for candidates plus this store for verification; the
    historical corpus is never rescanned and no text is retained. To
    advance the frontier append ``lsh_bands(minhash_signatures(new))``
    and ``shingle_store(new)`` for the ACCEPTED rows.

    Replay-safe: a batch whose state was already appended anti-joins
    its (identical — the store is a deterministic function of text)
    entries out of the union, candidate pairs stay canonical with no
    self-pairs, and the verified output is unchanged. Assumes doc_ids
    are stable content ids (a doc_id reused for different text is an
    upstream bug this operator does not referee)."""
    cands = incremental_near_dups(new_docs, seen_bands)
    store = seen_store.select("doc_id", "sh_sig").unionByName(
        shingle_store(new_docs).join(seen_store.select("doc_id"), "doc_id", "left_anti")
    )
    return store_jaccard_pairs(store, cands).filter(
        F.col("jaccard") >= threshold
    )


def conv_dedup_survivors(turns: DataFrame) -> DataFrame:
    """Conversation-level exact dedup over the transcripts fact table —
    the "same conversation ingested twice" case a transcript pipeline
    hits before any turn-level processing (reference analog: the
    whole-block dedup its per-block feature scripts assume upstream).

    Canonical content hash per conversation: md5 over the turn texts
    joined in stable turn_idx order (W2's ordering contract) with the
    unit separator, NULL text folding to '' — so two conversations are
    duplicates iff their ordered turn texts match exactly, regardless
    of conv_id, timestamps, or partitioning. Keep the lowest conv_id
    per hash; survivors are the original turn rows.

    Shape at scale: ONE conv_id shuffle for the per-conv aggregate
    (collect_list partials merge in any order — the array_sort inside
    the hash restores turn order deterministically), a hash-keyed
    min-aggregate over conv-count rows, and a semi-join back on
    conv_id. The turn texts travel once."""
    keep = conv_hashes(turns).groupBy("conv_hash").agg(
        F.min("conv_id").alias("conv_id")
    )
    return turns.join(keep.select("conv_id"), "conv_id", "left_semi")


def conv_hashes(turns: DataFrame) -> DataFrame:
    """(conv_id, conv_hash): the canonical ordered-turn-text content
    hash shared by batch (``conv_dedup_survivors``) and cross-batch
    (``incremental_conv_dedup``) conversation dedup — also the
    fixed-width state row the day-2 path persists per conversation
    ever seen."""
    # length-prefix framing (len:text) makes the join unambiguous: a
    # bare separator could not distinguish one turn containing the
    # separator byte from two turns around it (tool output can carry
    # control characters), and turn-count alone cannot either
    return turns.groupBy("conv_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda s: F.concat_ws(
                        ":",
                        F.length(F.coalesce(s["text"], F.lit(""))).cast("string"),
                        F.coalesce(s["text"], F.lit("")),
                    ),
                ),
                "\x1f",
            )
        ).alias("conv_hash")
    )


def incremental_conv_dedup(
    new_turns: DataFrame, seen_hashes: DataFrame
) -> DataFrame:
    """Cross-batch conversation dedup — the day-2 ingest path for the
    transcripts table (the 6th dedup family with a hash-only state):
    turns of new conversations whose canonical content hash
    (``conv_hashes``) is NOT already in ``seen_hashes`` (a
    (conv_hash) dim maintained by prior runs), deduped within the
    batch as well (keep the lowest conv_id per hash). Emit
    ``conv_hashes(out)`` back into the dim to advance the frontier; a
    replayed batch emits nothing.

    Shape at scale: the state is ONE 32-hex row per distinct
    conversation ever ingested — historical turn text never rescans.
    One conv_id shuffle hashes the batch, the anti-join runs on the
    uniform digest key, and the surviving conv set semi-joins back to
    the batch's turns. conv_hash is never NULL (md5 over coalesced
    text), so plain equality is safe for the anti-join."""
    hashed = conv_hashes(new_turns)
    fresh = hashed.join(
        seen_hashes.select(F.col("conv_hash").alias("_seen_hash")),
        F.col("conv_hash") == F.col("_seen_hash"),
        "left_anti",
    )
    keep = fresh.groupBy("conv_hash").agg(F.min("conv_id").alias("conv_id"))
    return new_turns.join(keep.select("conv_id"), "conv_id", "left_semi")


def conv_text_docs(turns: DataFrame) -> DataFrame:
    """Conversation -> document adapter: (doc_id=conv_id, text=turn
    texts joined with ' ' in stable turn_idx order, NULL text -> '').

    Space-joining (rather than conv_dedup_survivors' length-prefix
    framing) is deliberate here: the downstream consumer is the
    token-shingle near-dup family, where the conversation should
    tokenize exactly like a document whose words are its turns'
    words — framing bytes would pollute the shingle vocabulary.
    One conv_id shuffle; collect_list partials merge in any order and
    array_sort restores turn order (the W2 ordering contract)."""
    return (
        turns.groupBy("conv_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda s: F.coalesce(s["text"], F.lit("")),
                ),
                " ",
            ).alias("text")
        )
        .select(F.col("conv_id").alias("doc_id"), "text")
    )


def conv_jaccard_pairs(turns: DataFrame) -> DataFrame:
    """Verified shingle-Jaccard for every LSH-colliding conversation
    pair, over the conv-as-document adapter. Reuses the document
    MinHash/LSH core verbatim, so the scale shape is the proven one:
    banded equi-join candidates, exact shingle-Jaccard verify on
    colliding pairs only, never all-pairs.

    Returns (conv_a, conv_b, jaccard) with conv_a < conv_b
    (lexicographic — conv ids are strings)."""
    docs = conv_text_docs(turns)
    pairs = jaccard_pairs(docs, lsh_candidate_pairs(docs))
    return pairs.select(
        F.col("doc_a").alias("conv_a"),
        F.col("doc_b").alias("conv_b"),
        "jaccard",
    )


def conv_near_dups(turns: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Conversation-level near-duplicate pairs: the "same conversation
    re-ingested with a few edited turns" case exact conv dedup
    (conv_dedup_survivors) misses. conv_jaccard_pairs thresholded."""
    return conv_jaccard_pairs(turns).filter(F.col("jaccard") >= threshold)


def incremental_conv_near_dups(
    new_turns: DataFrame,
    seen_bands: DataFrame,
    seen_store: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Day-2 conversation NEAR-dup: verified cross-batch near-duplicate
    conversation pairs — the "same conversation re-ingested with a few
    edited turns" case ``incremental_conv_dedup``'s exact hash misses.
    The conv-as-document adapter (``conv_text_docs``) feeds the proven
    ``incremental_near_dup_verified`` core, so the state is the
    historical conversations' LSH band table
    (``lsh_bands(minhash_signatures(conv_text_docs(hist)))``) and
    hashed-shingle store (``shingle_store(conv_text_docs(hist))``) —
    fixed-width rows, no text: historical turns never rescan, same as
    the five document-side day-2 families. Returns
    (conv_a, conv_b, jaccard) with conv_a < conv_b.

    The conv-as-document adapter output is tracked-persisted: it feeds
    the minhash/band candidate path AND the shingle-store verify path,
    and each would otherwise replay the full conv_id text aggregation
    (guide §2.4 — no cross-branch CSE). One text row per conversation,
    batch-sized."""
    new_docs = cache.track(conv_text_docs(new_turns))
    return incremental_near_dup_verified(
        new_docs, seen_bands, seen_store, threshold
    ).select(
        F.col("doc_a").alias("conv_a"),
        F.col("doc_b").alias("conv_b"),
        "jaccard",
    )


# ---------------------------------------------------------------------------
# conversation branch (proper-prefix) dedup
# ---------------------------------------------------------------------------

_PREFIX_TERM_MOD = 1 << 31  # per-term range; sums of 2^32 terms fit in int64


def _prefix_terms(turns: DataFrame) -> DataFrame:
    """(conv_id, pos, frame_hash, t1, t2): per-turn positional hash
    terms for prefix detection. ``frame_hash`` is md5 of the same
    length-prefixed text framing as ``conv_hashes`` (turn identity =
    text, prefix identity = ordered turn texts) — hashed BEFORE the
    window so the per-conv sort shuffles 32-hex rows, never raw text.
    ``t1``/``t2`` are two independently seeded 31-bit hashes of
    (position, frame_hash), so a RUNNING SUM of them is a positional
    polynomial prefix hash computable by one streaming window pass —
    O(1) state per row, never a per-row running array (which would be
    O(turns^2) bytes on the planted giant conversation)."""
    t = F.coalesce(F.col("text"), F.lit(""))
    frame = F.concat_ws(":", F.length(t).cast("string"), t)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return turns.select(
        "conv_id", "turn_idx", F.md5(frame).alias("frame_hash")
    ).select(
        "conv_id",
        "frame_hash",
        (F.row_number().over(w) - 1).alias("pos"),
    ).select(
        "conv_id",
        "frame_hash",
        "pos",
        F.pmod(
            F.xxhash64(F.lit(1), F.col("pos"), F.col("frame_hash")),
            F.lit(_PREFIX_TERM_MOD),
        ).alias("t1"),
        F.pmod(
            F.xxhash64(F.lit(2), F.col("pos"), F.col("frame_hash")),
            F.lit(_PREFIX_TERM_MOD),
        ).alias("t2"),
    )


def conv_frame_store(turns: DataFrame) -> DataFrame:
    """(conv_id, pos, frame_hash): per-turn frame-hash store — the
    verification half of the branch-dedup day-2 state (the shingle
    store analog). Fixed-width rows, no text; md5 collisions are the
    same accepted bar as the hashed-shingle store."""
    return _prefix_terms(turns).select("conv_id", "pos", "frame_hash")


def conv_prefix_state(turns: DataFrame) -> DataFrame:
    """(conv_id, depth, p1, p2): per-depth running prefix hashes — the
    candidate half of the branch-dedup day-2 state (the band-table
    analog). depth runs 1..len(conv); the depth==max row is the
    complete-conversation hash. conv_len is deliberately NOT stored:
    the pair core derives it as max(depth), so a conversation extended
    by a later batch merges cleanly (its old rows are a subset of the
    new ones)."""
    run = (
        Window.partitionBy("conv_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _prefix_terms(turns).select(
        "conv_id",
        (F.col("pos") + 1).cast("int").alias("depth"),
        F.sum("t1").over(run).alias("p1"),
        F.sum("t2").over(run).alias("p2"),
    )


def _branch_pairs_from_state(
    state: DataFrame,
    frames: DataFrame,
    min_shared: int = 1,
) -> DataFrame:
    """Proper-prefix pairs from the two state tables. ``state`` =
    conv_prefix_state rows (possibly a union of batches — exact
    replays dedupe on all four columns), ``frames`` = conv_frame_store
    rows. Candidates: equi-join of complete-conv hashes against
    shallower positions on (depth, p1, p2) — never all-pairs — then
    EXACT frame-hash verification per candidate (the LSH -> Jaccard
    verify pattern): a ~2^-62 sum collision is a discarded candidate,
    not a wrong pair. All joins against ``lens`` reuse the state's
    conv_id partitioning.

    The distinct'd state and frame tables are tracked-persisted: each
    is a diamond node (state feeds lens + both sides of the candidate
    self-join; frames feeds both sides of the verification join), and
    Catalyst has no cross-branch CSE, so without the persists the
    upstream window pass over the batch would evaluate up to 4x per
    action (guide §2.4; measured 56 parquet scans in one plan before
    this fix). Both are fixed-width per-turn rows — the same
    materialization the day-2 state tables pay anyway."""
    state = cache.track(
        state.select("conv_id", "depth", "p1", "p2").distinct()
    )
    lens = state.groupBy("conv_id").agg(F.max("depth").alias("conv_len"))
    wide = state.join(lens, "conv_id")
    shorts = (
        wide.filter(F.col("depth") == F.col("conv_len"))
        .filter(F.col("depth") >= F.lit(min_shared))
        .select(
            F.col("conv_id").alias("conv_short"),
            F.col("depth").alias("shared_turns"),
            "p1",
            "p2",
        )
    )
    longs = (
        wide.filter(F.col("depth") < F.col("conv_len"))
        .filter(F.col("depth") >= F.lit(min_shared))
        .select(
            F.col("conv_id").alias("conv_long"),
            F.col("depth").alias("shared_turns"),
            "p1",
            "p2",
            F.col("conv_len").alias("long_len"),
        )
    )
    cand = shorts.join(longs, ["shared_turns", "p1", "p2"]).filter(
        F.col("conv_short") != F.col("conv_long")
    )
    fr = cache.track(
        frames.select("conv_id", "pos", "frame_hash").distinct()
    )
    af = fr.select(F.col("conv_id").alias("conv_short"), "pos", "frame_hash")
    bf = fr.select(F.col("conv_id").alias("conv_long"), "pos", "frame_hash")
    matched = (
        cand.join(af, "conv_short")
        .filter(F.col("pos") < F.col("shared_turns"))
        .join(bf, ["conv_long", "pos", "frame_hash"])
    )
    return (
        matched.groupBy("conv_short", "conv_long", "shared_turns", "long_len")
        .agg(F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") == F.col("shared_turns").cast("long"))
        .select("conv_short", "conv_long", "shared_turns", "long_len")
    )


def conv_prefix_dups(turns: DataFrame, min_shared: int = 1) -> DataFrame:
    """Conversation branch/retry detection: pairs where one COMPLETE
    conversation's ordered turn texts are a PROPER prefix of a longer
    conversation's — the "agent run retried/branched and the longer
    branch subsumes the short one" case neither exact conv dedup
    (equal-length only) nor shingle near-dup (order-insensitive bag
    overlap) targets. Returns (conv_short, conv_long, shared_turns,
    long_len) with shared_turns == len(conv_short) < long_len.

    Shape at scale: one conv_id window pass over 32-hex frame hashes
    (raw text never enters the sort) computes O(1)-state running
    prefix hashes — two independent 31-bit positional terms summed, so
    equal prefixes imply equal sums and true pairs can NEVER be
    missed; candidates and exact verification per
    ``_branch_pairs_from_state``. ``min_shared`` prunes
    boilerplate-depth candidates (e.g. every conversation opening with
    the same system prompt) before the join. The reference has no
    branch dedup (its HDFS blocks are flat: data/hdfs.py:58-66); this
    extends the conv_dedup family for agent-transcript ingest."""
    terms = cache.track(_prefix_terms(turns))
    run = (
        Window.partitionBy("conv_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    state = terms.select(
        "conv_id",
        (F.col("pos") + 1).cast("int").alias("depth"),
        F.sum("t1").over(run).alias("p1"),
        F.sum("t2").over(run).alias("p2"),
    )
    return _branch_pairs_from_state(state, terms, min_shared=min_shared)


def conv_branch_survivors(turns: DataFrame, min_shared: int = 1) -> DataFrame:
    """Drop every conversation that is a proper prefix of another
    (the subsumed short branch); keep the longest branch's turns.
    Anti-join on the pruned conv set — the turns table shuffles once
    on conv_id, the loser set is conversation-count bounded."""
    pruned = (
        conv_prefix_dups(turns, min_shared=min_shared)
        .select(F.col("conv_short").alias("conv_id"))
        .distinct()
    )
    return turns.join(pruned, "conv_id", "left_anti")


def incremental_conv_prefix_dups(
    new_turns: DataFrame,
    seen_state: DataFrame,
    seen_frames: DataFrame,
    min_shared: int = 1,
) -> DataFrame:
    """Day-2 conversation BRANCH dedup — the 7th incremental dedup
    family: proper-prefix pairs that TOUCH the new batch, against
    history present only as the two fixed-width state tables
    (``conv_prefix_state`` + ``conv_frame_store``) — historical turn
    text never rescans and history is never re-windowed; its persisted
    per-depth sums go straight into the candidate equi-join. Catches
    BOTH directions: a stub arriving after its long branch (new short
    x historical long) and the realistic day-2 case — the re-run that
    extends a conversation already ingested (historical short x new
    long) — plus new x new. Emit the new batch's state/store rows back
    to advance the frontier; a replayed batch re-emits the identical
    pairs (idempotent, matching the verified near-dup family).
    Re-ingesting MORE turns under an EXISTING conv_id merges cleanly
    (conv_len is derived as max depth), and a conversation never pairs
    with itself.

    The batch's ``_prefix_terms`` pass is computed ONCE and
    tracked-persisted, then both state and frame rows project from it —
    previously ``conv_prefix_state`` and ``conv_frame_store`` each ran
    their own window pass over the batch, and the downstream diamond
    consumers multiplied that further (guide §2.4; the same
    shared-terms shape ``conv_prefix_dups`` already uses)."""
    terms = cache.track(_prefix_terms(new_turns))
    run = (
        Window.partitionBy("conv_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    new_state = terms.select(
        "conv_id",
        (F.col("pos") + 1).cast("int").alias("depth"),
        F.sum("t1").over(run).alias("p1"),
        F.sum("t2").over(run).alias("p2"),
    )
    new_frames = terms.select("conv_id", "pos", "frame_hash")
    new_ids = terms.select("conv_id").distinct()
    state = seen_state.select("conv_id", "depth", "p1", "p2").unionByName(
        new_state
    )
    frames = seen_frames.select("conv_id", "pos", "frame_hash").unionByName(
        new_frames
    )
    pairs = _branch_pairs_from_state(state, frames, min_shared=min_shared)
    ns = new_ids.select(
        F.col("conv_id").alias("conv_short"), F.lit(True).alias("_sn")
    )
    nl = new_ids.select(
        F.col("conv_id").alias("conv_long"), F.lit(True).alias("_ln")
    )
    return (
        pairs.join(ns, "conv_short", "left")
        .join(nl, "conv_long", "left")
        .filter(
            F.coalesce(F.col("_sn"), F.lit(False))
            | F.coalesce(F.col("_ln"), F.lit(False))
        )
        .select("conv_short", "conv_long", "shared_turns", "long_len")
    )
