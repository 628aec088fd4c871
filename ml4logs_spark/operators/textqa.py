"""Text analysis for training-data curation: stats, quality, language ID,
token counting, fingerprints. All pure Catalyst expressions (JVM-side);
the DuckDB oracle mirrors live in ml4logs_spark/oracle/sql.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ml4logs_spark.operators import twophase

# tiny marker-word lists for the n-gram/stopword language heuristic;
# checked in priority order, strict-greater wins, default 'unk'
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "los", "y", "que"],
    "fr": ["le", "la", "et", "les", "des", "un"],
    "de": ["der", "die", "und", "das", "ein", "zu"],
}

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol
BPE_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

STOPWORDS = ["the", "a", "and", "of", "to", "is", "in", "for", "on", "with"]


def _toks(text_col: str = "text") -> Column:
    return F.split(F.col(text_col), " ")


def _toks_lower(text_col: str = "text") -> Column:
    """Lowercased tokens with empty strings (from leading/double spaces
    or NULL text) removed — the tokenizer the corpus-statistics
    operators share; its DuckDB mirror is
    list_filter(str_split(lower(coalesce(text, '')), ' '), t -> t <> '').
    ``split`` never yields a NULL element, so removing '' is that filter."""
    return F.array_remove(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " "), ""
    )


def _adjacent(arr: Column) -> Column:
    """The adjacent (tok_a, tok_b) structs of an array, in order: the
    array zipped with its own tail, cut to size - 1 so the zip's NULL
    pad never appears (empty for arrays of < 2 elements)."""
    pairs = F.arrays_zip(
        arr.alias("tok_a"), F.slice(arr, 2, 1 << 30).alias("tok_b")
    )
    return F.slice(pairs, 1, F.greatest(F.size(arr) - 1, F.lit(0)))


def token_rows(docs: DataFrame, keys, text_col: str = "text") -> DataFrame:
    """(keys…, token): one row per ``_toks_lower`` token — the one
    token explode of the docs operators. ``keys`` are column names or
    Columns carried onto every row; a doc without tokens gives none."""
    return docs.select(*keys, F.explode(_toks_lower(text_col)).alias("token"))


def bigram_rows(docs: DataFrame, keys, text_col: str = "text") -> DataFrame:
    """(keys…, tok_a, tok_b): one row per adjacent pair of
    ``_toks_lower`` tokens (``_adjacent``) — the one pair explode
    of the n-gram operators. A doc with < 2 tokens gives none."""
    # tokens projected once: the pair Column reads its array three times
    t = docs.select(*keys, _toks_lower(text_col).alias("_toks"))
    return t.select(*t.columns[:-1], F.inline(_adjacent(F.col("_toks"))))


def _stats_exprs() -> list[Column]:
    toks = _toks()
    n_tok = F.size(toks)
    n_chars = F.length("text")
    stop_hits = F.size(
        F.filter(toks, lambda t: F.lower(t).isin(STOPWORDS))
    )
    bpe_count = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_REGEX), 0))
    stop_ratio = stop_hits / F.greatest(n_tok, F.lit(1))
    len_prior = F.least(n_chars / F.lit(400.0), F.lit(1.0))
    return [
        n_tok.alias("n_tokens"),
        n_chars.alias("n_chars"),
        bpe_count.alias("n_bpe_tokens"),
        F.round(n_chars / F.greatest(n_tok, F.lit(1)), 6).alias("chars_per_token"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(0.5 * len_prior + 0.5 * F.least(stop_ratio * F.lit(4.0), F.lit(1.0)), 6)
        .alias("quality_score"),
    ]


def doc_stats(docs: DataFrame) -> DataFrame:
    """Per-doc curation stats + a deterministic quality score.

    quality = stopword_ratio bounded into [0,1] blended with a length
    prior — the shape of heuristic quality scores used for pretraining
    corpus filtering (length/punct/stopword ratios).
    """
    return docs.select("doc_id", *_stats_exprs())


def lang_guess(docs: DataFrame) -> DataFrame:
    """Marker-word language ID; priority order breaks ties, 'unk' if no
    marker hits. Accuracy against the dataset's ``lang`` column is a
    statistic, not a contract (the synthetic corpus is English-ish)."""
    toks = _toks()

    def _hit_count(words: list[str]) -> Column:
        # NB: F.filter lambdas must be 1-arg; a second parameter is bound
        # to the element index, silently corrupting a default-arg closure.
        return F.size(F.filter(toks, lambda t: F.lower(t).isin(words)))

    hits = {lang: _hit_count(words) for lang, words in LANG_MARKERS.items()}
    best = F.greatest(*hits.values())
    guess = F.lit("unk")
    # build reversed so earlier languages win ties via `when` ordering
    expr = F.when(F.lit(False), F.lit(""))
    for lang in LANG_MARKERS:
        expr = expr.when((hits[lang] > 0) & (hits[lang] == best), F.lit(lang))
    return docs.select("doc_id", "lang", expr.otherwise(guess).alias("lang_guess"))


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Normalized-content fingerprint: md5 over lowercased,
    whitespace-collapsed text (order-stable content addressing)."""
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return docs.select(
        "doc_id", F.md5(F.trim(norm)).alias("fingerprint")
    )


ROLL_BASE = 31
ROLL_MOD = 1_000_003


def doc_rolling_fingerprint(docs: DataFrame, w: int = 3) -> DataFrame:
    """Rolling-hash (Rabin–Karp / winnowing-style) fingerprint.

    Each w-token window gets a polynomial hash over per-token values
    (value = first 4 md5 nibbles, so both engines agree without a
    platform hash); the document fingerprint is the MINIMUM window hash
    — min-sampling as in winnowing (Schleimer et al., SIGMOD'03) with a
    single global window. Robust to appended/prepended content in a way
    the flat md5 fingerprint is not: two documents sharing any w-token
    run that happens to contain the minimum collide here.

    All higher-order JVM functions, map-only; integer math (BIGINT) is
    engine-exact. Token-value arrays are padded with two zeros so short
    documents (< w tokens) hash their available prefix under ANSI mode
    (out-of-bounds element_at throws in Spark 4).
    """
    toks = F.split(F.col("text"), " ")
    vals = F.concat(
        F.transform(
            toks,
            lambda t: (F.conv(F.substring(F.md5(t), 1, 4), 16, 10)).cast("long"),
        ),
        F.array(F.lit(0).cast("long"), F.lit(0).cast("long")),
    )
    n_win = F.greatest(F.size(toks) - F.lit(w - 1), F.lit(1))
    b = ROLL_BASE
    window_hash = lambda i: (
        F.element_at(vals, i) * (b ** 2)
        + F.element_at(vals, i + 1) * b
        + F.element_at(vals, i + 2)
    ) % F.lit(ROLL_MOD)
    hashes = F.transform(F.sequence(F.lit(1), n_win), window_hash)
    return docs.select(
        "doc_id", F.array_min(hashes).cast("long").alias("roll_fp")
    )


# PII masking patterns: applied in order (URL first so emails inside
# URLs don't split them; digit runs last so masked tokens keep their
# shape). Java regex and DuckDB's RE2 both support these constructs
# (no lookaround), so the oracle mirrors them verbatim with the 'g'
# flag. The length-7 digit floor keeps ordinary small numbers (ports,
# counts, turn indices) intact while catching phone/account/ID runs.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"https?://[^\s]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\d{7,}", "<NUM>"),
]


def mask_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Append ``masked_text`` with URLs/emails/IPs/long digit runs
    redacted — the standard pre-training scrub pass. A chain of
    Catalyst ``regexp_replace`` calls: map-only, JVM-side, no UDF."""
    masked = F.col(text_col)
    for pat, repl in PII_PATTERNS:
        masked = F.regexp_replace(masked, pat, repl)
    return docs.withColumn("masked_text", masked)


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Explode documents into overlapping token-window chunks —
    (doc_id, chunk_idx, chunk_text, n_tokens) — the LLM-training prep
    step that turns variable-length documents into model-sized pieces.

    Chunk i covers whitespace tokens [i*stride, i*stride + chunk_tokens)
    with stride = chunk_tokens - overlap; the last chunk keeps its tail
    even when shorter. Pure higher-order Catalyst (sequence ->
    transform -> posexplode): map-side 1->N explode, no shuffle, no UDF
    — at 100 TB this pipelines straight into the scan."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be in [0, chunk_tokens ({chunk_tokens}))"
        )
    stride = chunk_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    # ceil((n - overlap) / stride) with a floor of 1 chunk
    n_chunks = F.greatest(
        ((n - F.lit(overlap) + F.lit(stride - 1)) / F.lit(stride)).cast("int"),
        F.lit(1),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            F.concat_ws(" ", F.slice(toks, i * stride + 1, chunk_tokens))
            .alias("chunk_text"),
            F.least(n - i * stride, F.lit(chunk_tokens)).alias("n_tokens"),
        ),
    )
    return (
        docs.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "c"))
        .select(
            "doc_id",
            "chunk_idx",
            F.col("c.chunk_text").alias("chunk_text"),
            F.col("c.n_tokens").alias("n_tokens"),
        )
    )


def quality_filter(
    docs: DataFrame,
    min_score: float = 0.5,
    min_tokens: int = 3,
    max_tokens: int = 10_000,
    keep_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Keep documents that pass the curation gates — the filter step a
    pretraining pipeline runs on ``doc_stats``'s heuristics (quality
    score floor plus token-count bounds). The stats projection and the
    filter fuse into one map-only stage: nothing materializes the
    rejected rows. ``keep_cols`` carries original columns through the
    gate in the SAME select (no join back), which keeps the operator
    usable on an unbounded streaming source where a stream-stream
    semi-join would be rejected."""
    gated = docs.select(
        "doc_id", *(keep_cols or ()), *_stats_exprs()
    ).filter(
        (F.col("quality_score") >= min_score)
        & (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
    )
    return gated.select(
        "doc_id", *(keep_cols or ()), "n_tokens", "quality_score"
    )


def _norm_rate_hex(rate_hex: str, what: str = "rate_hex") -> str:
    """Validate a 2- or 4-hex-char sampling rate and normalize it to 4
    chars. A 2-char rate right-padded with "00" selects exactly the
    same rows (``md5[:4] < "4000"`` <=> ``md5[:2] < "40"``), so legacy
    2-char rates stay bit-identical while 4-char rates unlock
    1/65,536-step precision — real data-mixing recipes ("0.1 parts
    forums") need weights below the old 1/256 floor."""
    if len(rate_hex) not in (2, 4) or any(
        c not in "0123456789abcdef" for c in rate_hex
    ):
        raise ValueError(
            f"{what} must be 2 or 4 lowercase hex chars, got {rate_hex!r}"
        )
    return rate_hex if len(rate_hex) == 4 else rate_hex + "00"


def hash_sample(
    docs: DataFrame,
    rate_hex: str = "4000",
    key_cols: tuple[str, ...] = ("source", "doc_id"),
) -> DataFrame:
    """Deterministic corpus sampling: keep rows whose md5(key) hex
    prefix sorts below ``rate_hex`` — int(rate_hex, 16)/65,536 of the
    corpus (``"4000"`` = 25%; 2-char legacy rates like ``"40"``
    normalize to the same draw). Unlike ``rand()``-based sampling this
    is reproducible across runs, retries, and partitionings (the
    property that matters for auditable 100 TB subsets), and salting
    the key with ``source`` keeps the draw independent per stratum.
    Map-only."""
    rate = _norm_rate_hex(rate_hex)
    key = F.concat_ws(":", *[F.col(c).cast("string") for c in key_cols])
    return docs.filter(F.substring(F.md5(key), 1, 4) < F.lit(rate))


# demo mixture over the synthetic corpus's src0..src19: four tiers
# (75% / 50% / 12.5% / ~0.2%) — shared by the queries() fixture and its
# oracle. The last tier sits BELOW the old 1/256 floor (0x0080/0x10000
# = 1/512) to keep the 4-hex-char precision path exercised end-to-end.
MIX_WEIGHTS: dict[str, str] = {
    **{f"src{i}": "c000" for i in range(5)},
    **{f"src{i}": "8000" for i in range(5, 10)},
    **{f"src{i}": "2000" for i in range(10, 15)},
    **{f"src{i}": "0080" for i in range(15, 20)},
}


def source_mix_sample(
    docs: DataFrame,
    weights: dict[str, str],
    key_cols: tuple[str, ...] = ("source", "doc_id"),
) -> DataFrame:
    """Data-mixing sampler: downsample each source to its own target
    rate — the step that turns a raw crawl into a training mixture
    ("2 parts web, 1 part code, 0.1 part forums"). ``weights`` maps
    source -> hex rate exactly as in ``hash_sample`` ("4000" = 25%;
    4-char rates give 1/65,536 steps so sub-0.4% mixture weights are
    expressible, 2-char legacy rates normalize bit-identically);
    sources absent from the map are dropped.

    The weight table rides as a broadcast dim joined on ``source`` (an
    inner join, so unlisted sources never pass), then the same
    deterministic md5-prefix draw as ``hash_sample`` filters map-side —
    reproducible across runs/retries/partitionings, independent per
    stratum, and the 100 TB side never shuffles."""
    norm = {
        src: _norm_rate_hex(rate_hex, what=f"rate for {src!r}")
        for src, rate_hex in weights.items()
    }
    spark = docs.sparkSession
    dim = spark.createDataFrame(
        list(norm.items()), "source string, _rate_hex string"
    )
    key = F.concat_ws(":", *[F.col(c).cast("string") for c in key_cols])
    return (
        docs.join(F.broadcast(dim), "source")
        .filter(F.substring(F.md5(key), 1, 4) < F.col("_rate_hex"))
        .drop("_rate_hex")
    )


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher/RefinedWeb-style within-document repetition signals:

    - distinct_ratio: distinct tokens / tokens (low = loops/boilerplate)
    - top_token_frac: occurrences of the most frequent token / tokens
    - dup_bigram_frac: 1 - distinct bigrams / bigrams (repeated phrasing,
      ``dup_bigram_frac_expr`` over the ``bigram_rows`` pairs)

    All ratios in [0,1], rounded to 6dp; empty/whitespace-only docs
    report zeros, single-token docs zero dup_bigram_frac. Tokens are
    lowercased with empty strings filtered (``_toks_lower``), so
    double spaces never masquerade as a repeated token. Pure map-side
    higher-order expressions, all LINEAR in document length (the mode
    count is the longest run in the sorted token array, not a
    count-per-distinct-token scan) — no explode, no shuffle."""
    toks = _toks_lower(text_col)
    n = F.size(toks)
    n_d = F.size(F.array_distinct(toks))
    # occurrences of the most frequent token == longest run in the
    # sorted array: cut positions i (1..n-1) where s[i] != s[i+1],
    # padded with 0 and n; the widest gap between cuts is the mode
    # count. sequence() is DESCENDING for n<2, so that case is guarded.
    s = F.array_sort(toks)
    # upper bound clamped to >=1 (sequence() turns descending below
    # that) and try_element_at (NULL past the end -> predicate NULL ->
    # dropped) keep the n<=1 rows, whose value the when() below
    # overrides anyway, from throwing under ANSI evaluation
    cuts_mid = F.filter(
        F.sequence(F.lit(1), F.greatest(n - F.lit(1), F.lit(1))),
        lambda i: F.try_element_at(s, i) != F.try_element_at(s, i + 1),
    )
    bounds = F.concat(F.array(F.lit(0)), cuts_mid, F.array(n))
    gaps = F.zip_with(
        F.slice(bounds, 2, 1 << 30), bounds, lambda b, a: b - a
    )
    top = F.when(n <= 1, n).otherwise(F.array_max(gaps))
    return docs.select(
        "doc_id",
        F.round(n_d / F.greatest(n, F.lit(1)), 6).alias("distinct_ratio"),
        F.round(top / F.greatest(n, F.lit(1)), 6).alias("top_token_frac"),
        dup_bigram_frac_expr(text_col).alias("dup_bigram_frac"),
    )


# the Gopher rule-set stopword list (Rae et al. 2021, appendix A1.1:
# "contains at least 2 of the following English words")
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _gopher_signal_exprs(text_col: str = "text") -> dict[str, Column]:
    """The five Gopher signals as ROUNDED Columns — the single
    definition shared by ``gopher_quality_flags`` (the report) and
    ``gopher_pass_expr`` (the curate_corpus gate), so tokenizer or
    rounding can never drift between them."""
    toks = _toks_lower(text_col)
    n = F.size(toks)
    nz = F.greatest(n, F.lit(1))
    return {
        "n_words": n.cast("long"),
        "mean_word_len": F.round(
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
            )
            / nz,
            6,
        ),
        "symbol_ratio": F.round(
            F.regexp_count(
                F.coalesce(F.col(text_col), F.lit("")),
                F.lit("#|\\.\\.\\.|…"),
            )
            / nz,
            6,
        ),
        "alpha_word_frac": F.round(
            F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))) / nz, 6
        ),
        "stop_hits": F.size(
            F.array_intersect(
                F.array_distinct(toks),
                F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
            )
        ).cast("long"),
    }


def _gopher_rule_exprs(
    s: dict[str, Column],
    *,
    min_words: int,
    max_words: int,
    min_mean_word_len: float,
    max_mean_word_len: float,
    max_symbol_ratio: float,
    min_alpha_word_frac: float,
    min_stop_hits: int,
) -> dict[str, Column]:
    return {
        "pass_word_count": (s["n_words"] >= min_words)
        & (s["n_words"] <= max_words),
        "pass_mean_word_len": (s["mean_word_len"] >= min_mean_word_len)
        & (s["mean_word_len"] <= max_mean_word_len),
        "pass_symbol_ratio": s["symbol_ratio"] <= max_symbol_ratio,
        "pass_alpha_words": s["alpha_word_frac"] >= min_alpha_word_frac,
        "pass_stopwords": s["stop_hits"] >= min_stop_hits,
    }


def gopher_pass_expr(
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
    text_col: str = "text",
) -> Column:
    """The overall Gopher-rules conjunction as one map-side boolean
    Column — the FILTER form ``curate_corpus(gopher=...)`` fuses into
    its gate stage; same signals and comparisons as the report."""
    rules = _gopher_rule_exprs(
        _gopher_signal_exprs(text_col),
        min_words=min_words,
        max_words=max_words,
        min_mean_word_len=min_mean_word_len,
        max_mean_word_len=max_mean_word_len,
        max_symbol_ratio=max_symbol_ratio,
        min_alpha_word_frac=min_alpha_word_frac,
        min_stop_hits=min_stop_hits,
    )
    out = F.lit(True)
    for c in rules.values():
        out = out & c
    return out


def gopher_quality_flags(
    docs: DataFrame,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """The Gopher quality rule set (Rae et al. 2021, public) as one
    fused map-side projection — the heuristic-gate complement of the
    repetition signals in ``repetition_stats`` (which covers the
    repetition half of the same appendix): word-count bounds, mean
    word length bounds, symbol-to-word ratio (``#`` and ellipses),
    alphabetic-word fraction, and the stopword-presence rule. Returns
    per-doc signal values (6dp), one boolean per rule, and the overall
    ``passes`` conjunction — the report a curation run reads to tune
    thresholds before turning the gate into a filter.

    Same ``_toks_lower`` tokens as every other docs operator (NULL
    text folds to empty); rule comparisons use the ROUNDED signal
    values so the booleans can never disagree across engines at a
    rounding boundary. Pure Catalyst expressions, no explode, no
    shuffle — at 100 TB this is a free rider on the corpus scan."""
    signals = _gopher_signal_exprs(text_col)
    out = docs.select(
        "doc_id", *(c.alias(name) for name, c in signals.items())
    )
    rules = _gopher_rule_exprs(
        {name: F.col(name) for name in signals},
        min_words=min_words,
        max_words=max_words,
        min_mean_word_len=min_mean_word_len,
        max_mean_word_len=max_mean_word_len,
        max_symbol_ratio=max_symbol_ratio,
        min_alpha_word_frac=min_alpha_word_frac,
        min_stop_hits=min_stop_hits,
    )
    out = out.select("*", *(c.alias(name) for name, c in rules.items()))
    passes = F.lit(True)
    for name in rules:
        passes = passes & F.col(name)
    return out.withColumn("passes", passes)


def dup_bigram_frac_expr(text_col: str = "text") -> Column:
    """Repeated-phrasing ratio ``1 - distinct bigrams / bigrams`` as a
    pure map-side Column (rounded 6dp; 0.0 for docs of <2 tokens) —
    ONE definition shared by ``repetition_stats`` (the report) and
    ``curate_corpus``'s Gopher-style repetition gate (the filter), so
    the tokenizer or bigram shape can never drift between them. Same
    ``_toks_lower`` tokens and ``_adjacent`` pairs as ``bigram_rows``;
    distinct pair structs count as distinct ``a b`` strings do, since a
    token never contains ' '."""
    bigrams = _adjacent(_toks_lower(text_col))
    n_bg = F.size(bigrams)
    n_bg_d = F.size(F.array_distinct(bigrams))
    return F.round(
        F.when(n_bg > 0, F.lit(1.0) - n_bg_d / n_bg).otherwise(F.lit(0.0)), 6
    )


def bigram_counts(
    docs: DataFrame, min_count: int = 2, text_col: str = "text"
) -> DataFrame:
    """Adjacent-token pair counts over the corpus — the merge-pair
    statistic BPE-style tokenizer training iterates on (count all
    adjacent symbol pairs, merge the most frequent). Returns
    (tok_a, tok_b, n) for pairs seen at least ``min_count`` times.

    Shape at scale: ``bigram_rows`` (the lowercased empty-filtered
    tokens, so double spaces don't break adjacency, paired map-side),
    ONE partial+final hash aggregate on the pair key — the same
    explode+agg shape as build_vocab; no UDF."""
    return (
        bigram_rows(docs, (), text_col)
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )


def unigram_logprob(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-model-proxy quality score: per-doc mean unigram log
    probability under the corpus's own add-one-smoothed unigram model
    — the cheap stand-in for the KenLM-perplexity filter real
    pretraining pipelines run (CCNet/LLaMA-style: docs whose tokens
    are collectively improbable under a reference LM are boilerplate,
    menus, or garbled text). Returns (doc_id, avg_logprob, n_tokens);
    higher avg_logprob = more typical text. Empty/NULL-text docs keep
    a row with NULL score and 0 tokens (NULL-text contract).

    logp(t) = ln((count(t) + 1) / (N + V)) with N = corpus token count,
    V = vocabulary size. Tokens are ``token_rows``, as in every docs
    operator.

    Shape at scale: ONE explode feeds both the model fit (partial+
    final hash aggregate on token) and the scoring join; the (token,
    logp) dim rides back as a broadcast hash join onto the exploded
    corpus (guaranteed hit when scoring the fitting corpus itself), the
    N+V normalizer as a broadcast 1-row aggregate — fully lazy, no
    driver count. One doc_id aggregate, then a broadcast-able left
    join reattaches token-less docs. At vocabularies past broadcast
    size (~10^8 entries) drop the broadcast hint and the scoring join
    becomes a token-keyed shuffle — the only structural change."""
    toks = token_rows(docs, ["doc_id"], text_col)
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("_cnt"))
    # NB: Spark resolution is case-insensitive — the normalizer columns
    # must not collide with _cnt under lowercasing
    norm = toks.agg(F.count(F.lit(1)).alias("_tot")).crossJoin(
        vocab.agg(F.count(F.lit(1)).alias("_vsz"))
    )
    logp = vocab.crossJoin(F.broadcast(norm)).select(
        "token",
        F.log(
            (F.col("_cnt") + F.lit(1.0)) / (F.col("_tot") + F.col("_vsz"))
        ).alias("_lp"),
    )
    per_doc = (
        toks.join(F.broadcast(logp), "token")
        .groupBy("doc_id")
        .agg(
            F.round(F.avg("_lp"), 6).alias("avg_logprob"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        "avg_logprob",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
    )


def lm_score(
    docs: DataFrame, counts: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Score docs under a FROZEN unigram LM — the day-2 path of
    ``unigram_logprob``: the model is the persisted (token, tf) state
    that ``vocab_counts`` / ``merge_vocab_counts`` maintain, so
    tomorrow's crawl is quality-scored under today's LM without
    rescanning (or even holding) historical text. Same add-one
    smoothing, with tokens UNSEEN by the model taking the smoothed
    floor ln(1/(N+V)) — the piece the self-scoring operator never
    needs. ``lm_score(docs, vocab_counts(docs))`` equals
    ``unigram_logprob(docs)`` exactly (pytest-pinned), so green means
    the fit/apply seam introduces nothing. Returns (doc_id,
    avg_logprob, n_tokens); NULL/empty docs keep a NULL-score row.

    Shape at scale: one explode, a broadcast LEFT join against the
    token-count state (same Heaps'-bounded dim and same >10^8-entry
    escape hatch as unigram_logprob), the (N, V) normalizer as a
    broadcast 1-row aggregate, one doc_id aggregate."""
    norm = counts.agg(
        F.sum("tf").alias("_tot"), F.count(F.lit(1)).alias("_vsz")
    )
    toks = token_rows(docs, ["doc_id"], text_col)
    scored = (
        toks.join(F.broadcast(counts.select("token", "tf")), "token", "left")
        .crossJoin(F.broadcast(norm))
        .select(
            "doc_id",
            F.log(
                (F.coalesce("tf", F.lit(0)) + F.lit(1.0))
                / (F.col("_tot") + F.col("_vsz"))
            ).alias("_lp"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.round(F.avg("_lp"), 6).alias("avg_logprob"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        "avg_logprob",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
    )


def bigram_logprob(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc mean add-one-smoothed BIGRAM log probability under the
    corpus's own bigram model — one step up the n-gram ladder from
    ``unigram_logprob`` toward the KenLM-perplexity filter real
    pretraining pipelines run (CCNet-style): a doc full of individually
    common tokens in improbable ORDER (shuffled boilerplate, keyword
    stuffing) scores low here while passing the unigram filter.

    lp(a, b) = ln((c(a,b) + 1) / (c(a) + V)) with c the corpus counts
    and V the vocabulary size; returns (doc_id, avg_bigram_logprob,
    n_bigrams), docs with < 2 tokens keeping a row with NULL score and
    0 bigrams (same reattach contract as unigram_logprob). Tokens are
    ``token_rows``; pairs are ``bigram_rows``, as in ``bigram_counts``,
    so the model's support equals that operator's output.

    Shape at scale: ONE pair explode feeds both the model fit (hash
    aggregate on (tok_a, tok_b)) and the scoring join; the context
    counts come from one token aggregate, the V normalizer from a
    1-row broadcast. The (pair, lp) dim rides back as a broadcast
    hash join; past broadcast size (~10^8 distinct pairs) drop the
    hint and it becomes a pair-keyed shuffle join — the only
    structural change (same note as unigram_logprob)."""
    ep = bigram_rows(docs, ["doc_id"], text_col)
    pair_cnt = ep.groupBy("tok_a", "tok_b").agg(F.count(F.lit(1)).alias("_pn"))
    ctx = (
        token_rows(docs, (), text_col)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("_cn"))
    )
    norm = ctx.agg(F.count(F.lit(1)).alias("_vsz"))
    lp = (
        pair_cnt.join(ctx.withColumnRenamed("token", "tok_a"), "tok_a")
        .crossJoin(F.broadcast(norm))
        .select(
            "tok_a", "tok_b",
            F.log((F.col("_pn") + F.lit(1.0)) / (F.col("_cn") + F.col("_vsz"))).alias("_lp"),
        )
    )
    per_doc = (
        ep.join(F.broadcast(lp), ["tok_a", "tok_b"])
        .groupBy("doc_id")
        .agg(
            F.round(F.avg("_lp"), 6).alias("avg_bigram_logprob"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        "avg_bigram_logprob",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
    )


def source_kl_divergence(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source domain-skew diagnostic: KL(P_s || Q) where P_s is the
    source's unigram token distribution and Q the whole corpus's — the
    statistic a data-mixing pipeline reads to see which sources are
    distribution outliers before picking mixture weights (a source
    near 0 is corpus-typical; a large KL source dominates or diverges).
    Returns (source, n_tokens, kl_nano) with the divergence in integer
    NANO-units: each term p·ln(p/q) is rounded to 1e-9 at the (source,
    token) grain and summed as an exact bigint, so the fold order can
    never move the result across engines (the repo micro-unit idiom,
    one grain finer because individual terms are O(p)). No smoothing
    is needed: every token of a source exists in the corpus, so q > 0.
    |KL| <= ln(corpus_tokens) ~ 40, so the nano sum stays far inside
    int64 even with per-term rounding halves at 10^9 vocab.

    Shape at scale: one explode feeds the (source, token) counts; the
    corpus marginal comes from re-aggregating those counts (never a
    second scan); the per-source totals and the 1-row corpus total ride
    back as broadcasts, and the only non-broadcast join is (source,
    token) x (token) — token-keyed shuffle co-partitioned with the
    counts aggregate. Output is #sources rows."""
    st = (
        token_rows(docs, ["source"], text_col)
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    s_tot = st.groupBy("source").agg(F.sum("_c").alias("_ns"))
    marg = st.groupBy("token").agg(F.sum("_c").alias("_cg"))
    g_tot = st.agg(F.sum("_c").alias("_ng"))
    p = F.col("_c") / F.col("_ns")
    q = F.col("_cg") / F.col("_ng")
    terms = (
        st.join(marg, "token")
        .join(F.broadcast(s_tot), "source")
        .crossJoin(F.broadcast(g_tot))
        .select(
            "source",
            F.round(p * F.log(p / q) * 1e9, 0).cast("long").alias("_t"),
        )
    )
    return (
        terms.groupBy("source")
        .agg(F.sum("_t").alias("kl_nano"))
        .join(F.broadcast(s_tot), "source")
        .select("source", F.col("_ns").cast("long").alias("n_tokens"), "kl_nano")
    )


def bigram_novelty(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc phrasing novelty: the fraction of a doc's bigrams that
    occur in NO other document — the diversity/uniqueness score a
    curation pipeline reads alongside the repetition and LM-quality
    gates (template farms and mirrored boilerplate sit near 0; genuinely
    novel prose near 1). Returns (doc_id, n_bigrams, novel_frac 6dp);
    docs with < 2 tokens keep a row with 0 bigrams and NULL frac. A
    bigram repeated only WITHIN one doc still counts as novel (it
    appears in no other doc). Pairs are ``bigram_rows``, as in
    ``bigram_counts``/``bigram_logprob``.

    Shape at scale: one pair explode feeds both the per-pair distinct-
    doc counts (two-phase countDistinct on the pair key) and the
    scoring join back on the same key — pair-keyed shuffles, no
    all-pairs product; one doc_id aggregate; novel_frac is an exact
    small-int ratio rounded at 6dp (identical doubles on both
    engines)."""
    ep = bigram_rows(docs, ["doc_id"], text_col)
    pair_docs = ep.groupBy("tok_a", "tok_b").agg(
        F.countDistinct("doc_id").alias("_nd")
    )
    per_doc = (
        ep.join(pair_docs, ["tok_a", "tok_b"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("_nd") == 1, 1).otherwise(0)).alias("_nov"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(F.col("_nov") / F.col("n_bigrams"), 6).alias("novel_frac"),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        "novel_frac",
    )


def perplexity_buckets(
    docs: DataFrame,
    n_buckets: int = 3,
    text_col: str = "text",
    n_parts: int | None = None,
) -> DataFrame:
    """CCNet-style per-source quality tiers: rank every doc within its
    source by the unigram-LM quality score (``avg_logprob`` DESC —
    most-typical text first, NULL-score docs last, doc_id tiebreak) and
    cut each source into ``n_buckets`` ntile tiers (1 = head, n =
    tail). This is the head/middle/tail perplexity split CCNet (Wenzek
    et al. 2020) keeps or reweights per language before pretraining,
    run against the engine's own corpus LM. Returns (doc_id, source,
    avg_logprob, ppl_rank, ppl_bucket).

    Shape at scale: scoring is ``unigram_logprob``'s shape; the
    per-source rank is ``twophase.positions`` grouped by source —
    a per-source Window would sort a dominant source's billions of docs
    in ONE task. The ntile is then arithmetic on (rank, source count):
    bucket = (rank-1)·n DIV count + 1."""
    scored = (
        docs.select("doc_id", "source")
        .join(unigram_logprob(docs, text_col), "doc_id")
        # ascending sort key: negated score, NULL-score docs last
        .withColumn(
            "_key",
            F.coalesce(-F.col("avg_logprob"), F.lit(float("inf"))),
        )
    )
    ranked = twophase.positions(
        scored, ["_key", "doc_id"], group_cols=["source"], n_parts=n_parts
    )
    return ranked.select(
        "doc_id",
        "source",
        "avg_logprob",
        F.col("_pos").alias("ppl_rank"),
        F.expr(
            f"CAST((_pos - 1) * {int(n_buckets)} DIV _total + 1 AS INT)"
        ).alias("ppl_bucket"),
    )


def doc_length_histogram(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus length distribution in power-of-2 token buckets:
    (bucket_lo, n_docs, n_tokens_total) where ``bucket_lo`` = 2^floor(
    log2(n_tokens)) — the corpus report a pretraining pipeline uses to
    pick chunk sizes and spot truncation/boilerplate artifacts. Token
    count matches ``doc_stats``'s whitespace definition. One partial+
    final hash aggregate over ~60 possible buckets (map-side combine
    collapses everything before the shuffle). NULL text coalesces to ''
    (repo NULL-text contract) so NULL docs bucket with empty docs."""
    n = F.size(F.split(F.coalesce(F.col(text_col), F.lit("")), " "))
    bucket_lo = F.when(n <= 0, F.lit(0)).otherwise(
        F.pow(F.lit(2.0), F.floor(F.log2(n)))
    ).cast("long")
    return (
        docs.select(bucket_lo.alias("bucket_lo"), n.alias("_n"))
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").alias("n_tokens_total"),
        )
    )


def merge_doc_length_histograms(a: DataFrame, b: DataFrame) -> DataFrame:
    """Additive merge of two length-histogram states — the corpus
    report's day-2 path (``twophase.sum_by``): day N+1 histograms only
    its own batch and folds into the ~60-row stored state."""
    return twophase.sum_by(a.unionByName(b), ["bucket_lo"])


def top_ngrams_per_source(
    docs: DataFrame, k: int = 5, min_count: int = 2, text_col: str = "text"
) -> DataFrame:
    """Per-source most frequent adjacent-token bigrams:
    (source, tok_a, tok_b, n, rank) with rank <= ``k`` — the stratified
    corpus-statistics view (which phrases dominate each crawl source)
    that feeds boilerplate and contamination review.

    Shape at scale: the same ``bigram_rows`` + partial+final hash
    aggregate as ``bigram_counts`` keyed by (source, pair), then
    ``min_count`` prunes the long tail BEFORE the per-source ranking
    window, so the sort behind row_number runs over each source's
    frequent-pair set (Heaps'-law bounded), not the raw pair space.
    Deterministic tie-break: (n desc, tok_a, tok_b)."""
    from pyspark.sql.window import Window

    agg = (
        bigram_rows(docs, ["source"], text_col)
        .groupBy("source", "tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )
    w = Window.partitionBy("source").orderBy(
        F.col("n").desc(), "tok_a", "tok_b"
    )
    return agg.select(
        "source", "tok_a", "tok_b", "n",
        F.row_number().over(w).cast("long").alias("rank"),
    ).filter(F.col("rank") <= k)


def vocab_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Token statistics (token, df, tf) — the MERGEABLE state unit
    behind build_vocab, split out so day-2 ingest can maintain a
    vocabulary without rescanning history (merge_vocab_counts). One
    ``token_rows`` explode + one partial+final hash aggregate on token."""
    return token_rows(docs, ["doc_id"], text_col).groupBy("token").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count(F.lit(1)).alias("tf"),
    )


def merge_vocab_counts(
    state: DataFrame, new_docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Day-2 vocabulary state merge: the persisted (token, df, tf)
    counts plus a new batch's counts -> updated state, WITHOUT
    rescanning historical text. Both df and tf are additive because
    ingest batches hold disjoint doc_ids (df = count of distinct docs
    containing the token, and no doc spans two batches) — so the merge
    is a union + one sum aggregate keyed by token, and the result is
    bit-equal to recounting the full corpus (the oracle proves exactly
    that). Thresholding into a vocabulary stays a downstream read
    (build_vocab's filter over the counts), so min_df/max_df can be
    retuned without re-ingesting."""
    return twophase.sum_by(
        state.unionByName(vocab_counts(new_docs, text_col)), ["token"]
    )


def build_vocab(
    docs: DataFrame,
    min_df: int = 2,
    max_df_ratio: float = 0.5,
    text_col: str = "text",
    n_parts: int | None = None,
) -> DataFrame:
    """Corpus vocabulary dimension with document-frequency thresholds:
    (token_id, token, df, tf). Tokens seen in fewer than ``min_df``
    docs (noise) or more than ``max_df_ratio`` of all docs (glue words)
    are dropped — the classic vocab-building step before count-based
    featurization.

    Shape at scale: explode + one partial+final hash aggregate on
    token; the corpus-size divisor rides along as a broadcast 1-row
    aggregate (fully lazy, no driver count). Dense 1-based ids ordered
    by token text are ``twophase.positions`` ranks (tokens are distinct
    post-aggregate, so the rank is the dense rank) — unlike template
    grammars a web-corpus vocabulary is NOT bounded (10^8-10^9 distinct
    tokens pass min_df=2 at 100 TB), so a single-partition rank would
    sort it all in one task."""
    vocab = vocab_counts(docs, text_col)
    total = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    kept = vocab.crossJoin(F.broadcast(total)).filter(
        (F.col("df") >= min_df)
        & (F.col("df") <= F.lit(max_df_ratio) * F.col("n_docs"))
    )
    return twophase.positions(kept, ["token"], n_parts=n_parts).select(
        F.col("_pos").alias("token_id"), "token", "df", "tf"
    )


def pack_sequences(
    chunks: DataFrame, seq_tokens: int = 512, n_parts: int | None = None
) -> DataFrame:
    """Stream-pack chunks into fixed token-budget training sequences:
    the GPT-style prep step that concatenates the whole corpus (in
    canonical (doc_id, chunk_idx) order) into one token stream and cuts
    it every ``seq_tokens`` tokens. Adds (token_offset, seq_id,
    seq_pos): ``token_offset`` is the chunk's exclusive global prefix
    sum of ``n_tokens``, ``seq_id = token_offset // seq_tokens``, and
    ``seq_pos`` its offset within that sequence. A chunk that straddles
    a boundary belongs to the sequence where its first token lands
    (stream packing, not bin packing — deterministic and order-exact).

    Shape at scale: the global ordered prefix sum is
    ``twophase.positions`` over a SLIM (doc_id, chunk_idx, n_tokens)
    projection, so neither its persists nor its window sort ever carry
    chunk text; the text joins back on the unique chunk key at the
    end."""
    if seq_tokens <= 0:
        raise ValueError(f"seq_tokens must be positive, got {seq_tokens}")
    from ml4logs_spark import cache

    # diamond node: the chunk frame feeds the slim offset computation
    # AND the final text join-back — without the persist the caller's
    # chunk explode (the heavy text pass) evaluates twice per action
    # (guide §2.4). Tracked; looping callers release via cache.scope().
    chunks = cache.track(chunks)
    slim = chunks.select("doc_id", "chunk_idx", "n_tokens")
    off = twophase.positions(
        slim, ["doc_id", "chunk_idx"], "n_tokens", n_parts=n_parts
    ).select(
        "doc_id",
        "chunk_idx",
        (F.col("_pos") - F.col("n_tokens")).alias("token_offset"),
    )
    out = chunks.join(off, ["doc_id", "chunk_idx"])
    return (
        out.withColumn(
            "seq_id",
            F.floor(F.col("token_offset") / F.lit(seq_tokens)).cast("long"),
        )
        .withColumn(
            "seq_pos",
            (F.col("token_offset") - F.col("seq_id") * seq_tokens).cast("long"),
        )
    )


def dataset_split(
    docs: DataFrame,
    val_hex: str = "0800",
    test_hex: str = "0800",
    key_cols: tuple[str, ...] = ("source", "doc_id"),
) -> DataFrame:
    """Deterministic train/val/test assignment: adds a ``split`` column
    from the same md5-prefix draw as ``hash_sample`` — the hex prefix
    of md5(key) lands in [0, test) -> 'test', [test, test+val) -> 'val',
    else 'train'. Disjoint and exhaustive by construction, reproducible
    across runs/retries/partitionings (holdout membership must never
    depend on execution order at 100 TB), and salting the key with
    ``source`` keeps each stratum's split independent. Rates use the
    ``hash_sample`` hex grammar ("0800" = 1/32; 2-char legacy rates
    normalize bit-identically). Map-only, no shuffle."""
    t = _norm_rate_hex(test_hex, "test_hex")
    v = _norm_rate_hex(val_hex, "val_hex")
    hi = int(t, 16) + int(v, 16)
    # 'g' sorts above every hex char, so a degenerate total split
    # (test+val = 1.0) routes everything out of 'train' correctly
    val_bound = format(hi, "04x") if hi <= 0xFFFF else "g"
    key = F.concat_ws(":", *[F.col(c).cast("string") for c in key_cols])
    h = F.substring(F.md5(key), 1, 4)
    return docs.withColumn(
        "split",
        F.when(h < F.lit(t), F.lit("test"))
        .when(h < F.lit(val_bound), F.lit("val"))
        .otherwise(F.lit("train")),
    )


def vocab_coverage(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """Per-document out-of-vocabulary rate against a vocabulary dim
    (build_vocab output or any frame with a ``token`` column):
    (doc_id, n_tokens, n_oov, oov_frac) — the tokenizer-coverage check
    a pipeline runs before committing to a vocab (how much of the
    corpus would map to <unk> at this min_df/max_df setting).

    Shape at scale: map-side ``token_rows`` explode, the vocab broadcast as a
    left-join dim (a df-thresholded vocabulary is Heaps'-law bounded,
    and min_df pruning keeps it far below broadcast limits — at
    extreme vocab sizes the same plan degrades gracefully to a shuffle
    join), one doc_id hash aggregate. Tokenless docs (empty/NULL text)
    zero-fill via the docs-side left join, same convention as
    unigram_logprob."""
    tok = token_rows(docs, ["doc_id"])
    vdim = vocab.select("token").distinct().withColumn("_in", F.lit(1))
    per = (
        tok.join(F.broadcast(vdim), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
            F.round(
                F.coalesce(
                    F.col("n_oov") / F.col("n_tokens"), F.lit(0.0)
                ),
                6,
            ).alias("oov_frac"),
        )
    )


def _downsample_rate(ratio, alpha: float):
    """(n_min / n_s) ** (1 - alpha) with a cross-engine-exact fast
    path: for alpha in {1.0, 0.75, 0.5} the exponent {0, 1/4, 1/2} is
    a sqrt chain, and IEEE sqrt/divide are correctly rounded — the
    SAME bits on Spark and DuckDB, so the floor to 1/65,536 steps can
    never straddle an ulp. Other alphas fall back to pow() (1-ulp
    engine divergence possible at the floor boundary — documented)."""
    if alpha == 1.0:
        return F.lit(1.0)
    if alpha == 0.75:
        return F.sqrt(F.sqrt(ratio))
    if alpha == 0.5:
        return F.sqrt(ratio)
    return F.pow(ratio, F.lit(1.0 - alpha))


def temperature_mix_rates(
    docs: DataFrame, alpha: float = 0.75, source_col: str = "source"
) -> DataFrame:
    """Temperature-scaled mixture rates per source: sampling weight
    q_s proportional to p_s**alpha (the multilingual/multi-source
    rebalancing rule of mT5/CC-mix recipes — alpha < 1 upsamples the
    tail sources RELATIVE to the head so the mixture is less dominated
    by the biggest crawl). Implemented as per-source keep-rates for a
    single-pass downsample: rate_s = (n_min / n_s) ** (1 - alpha),
    normalized so the SMALLEST source keeps everything (rate 1.0) and
    every larger source is thinned toward the temperature target.
    Rates are floored to 1/65,536 steps (rate_int = floor(rate *
    65536); 65536 means keep-all) to land on the same md5-prefix draw
    grid as hash_sample.

    Shape at scale: ONE partial+final count aggregate keyed by source
    (source cardinality is tiny), then the global min via a window
    over the already-aggregated source-sized frame — a SinglePartition
    stage over ~#sources rows, NOT the corpus, and it keeps the fit to
    a single corpus scan (a min-dim crossJoin would duplicate the
    count subtree on both sides of the broadcast boundary and scan the
    corpus twice). Output: (source, n_docs, rate_int), broadcastable
    by construction."""
    from pyspark.sql.window import Window

    counts = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    mn = F.min("n_docs").over(Window.partitionBy())
    ratio = mn.cast("double") / F.col("n_docs").cast("double")
    return (
        counts
        .select(
            "source",
            "n_docs",
            # * 65536 is a power-of-2 scale: exact in IEEE, so the
            # floor is deterministic wherever the rate itself is
            F.floor(_downsample_rate(ratio, alpha) * 65536)
            .cast("int")
            .alias("rate_int"),
        )
    )


def temperature_mix_sample(
    docs: DataFrame,
    alpha: float = 0.75,
    source_col: str = "source",
    key_cols: tuple[str, ...] = ("source", "doc_id"),
    full_rows: bool = False,
) -> DataFrame:
    """Apply temperature_mix_rates as a deterministic downsample: the
    rate table rides as a broadcast dim joined on source, then the
    same md5-prefix draw as hash_sample filters map-side (keep rows
    whose 4-hex-char md5 prefix sorts below the source's rate;
    rate_int = 65536 keeps all rows, so alpha = 1.0 is the identity
    mixture). Reproducible across runs/retries/partitionings; the
    corpus side never shuffles. Output: (doc_id, source), or every
    original docs column with ``full_rows=True`` (the in-chain form —
    curate_corpus keeps the predicate map-side instead of re-joining
    the sample back on doc_id). The source-sized rate dim is a tracked
    persist: downstream diamonds (exact_dedup's agg + semi-join) would
    otherwise replay the corpus-count FIT once per consumer."""
    from ml4logs_spark import cache

    dim = cache.track(temperature_mix_rates(docs, alpha, source_col)).select(
        "source",
        F.col("rate_int").alias("_ri"),
        F.lower(
            F.lpad(F.hex(F.least(F.col("rate_int"), F.lit(0xFFFF))), 4, "0")
        ).alias("_rate_hex"),
    )
    # key columns resolved against the docs side explicitly: after the
    # join both frames expose `source`, so F.col would be ambiguous
    key = F.concat_ws(":", *[docs[c].cast("string") for c in key_cols])
    return (
        docs.join(F.broadcast(dim), docs[source_col] == dim["source"])
        .filter(
            (F.col("_ri") >= F.lit(0x10000))
            | (F.substring(F.md5(key), 1, 4) < F.col("_rate_hex"))
        )
        .select(
            *[docs[c] for c in docs.columns]
            if full_rows
            else ["doc_id", docs[source_col].alias("source")]
        )
    )
