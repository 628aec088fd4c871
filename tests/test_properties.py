"""Property-based tests (hypothesis) for operator invariants that
golden fixtures can't sweep: arbitrary conversation-size multisets for
the distributed prefix sum, arbitrary float distributions (including
constant/degenerate groups) for the fit/apply scalers."""

import datetime
import functools
import math
import struct
from collections import Counter

import pandas as pd
import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from ml4logs_spark.operators import features as feat
from ml4logs_spark.operators import windows

SLOW = dict(max_examples=8, deadline=None)


@settings(**SLOW)
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=40),
    parts=st.integers(min_value=1, max_value=7),
)
def test_conv_offsets_prefix_sum_property(spark, sizes, parts):
    """Distributed two-phase prefix sum == pandas cumsum, for any
    conversation-size multiset and any partition count."""
    rows = [
        (f"c{i:04d}", t, "u", "x", None, None)
        for i, n in enumerate(sizes)
        for t in range(n)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp"
    )
    got = (
        windows.conv_offsets(df, n_parts=parts)
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    expect = pd.DataFrame({
        "conv_id": [f"c{i:04d}" for i in range(len(sizes))],
        "conv_size": sizes,
    })
    expect["conv_offset"] = expect.conv_size.cumsum().shift(1, fill_value=0)
    assert got.conv_size.tolist() == expect.conv_size.tolist()
    assert got.conv_offset.tolist() == expect.conv_offset.tolist()


@settings(**SLOW)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from([None, "g1", "g2"]),  # group key, NULL included
            st.integers(min_value=0, max_value=4),  # order key with ties
            st.integers(min_value=0, max_value=9),  # weight
        ),
        min_size=1, max_size=40,
    ),
    grouped=st.booleans(),
    weighted=st.booleans(),
    # 48 is more than any drawn row count, so some range partitions
    # are empty
    parts=st.sampled_from([1, 3, 48]),
)
def test_positions_matches_pandas_cumsum_property(
    spark, rows, grouped, weighted, parts
):
    """twophase.positions == a pandas per-group cumsum over (order key,
    unique id) order, _total == the group sum, and no row is lost — for
    NULL group keys, ties broken by the id, zero weights and partition
    counts above the row count."""
    from ml4logs_spark.operators import twophase

    data = [(i, g, k, w) for i, (g, k, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, g string, k int, w long")
    got = (
        twophase.positions(
            df, ["k", "id"],
            weight="w" if weighted else None,
            group_cols=["g"] if grouped else (),
            n_parts=parts,
        )
        .toPandas().sort_values("id").reset_index(drop=True)
    )
    pdf = pd.DataFrame(data, columns=["id", "g", "k", "w"])
    pdf["_w"] = pdf.w if weighted else 1
    pdf = pdf.sort_values(["k", "id"])
    by = pdf.g if grouped else pd.Series(0, index=pdf.index)
    grp = pdf.groupby(by, dropna=False)["_w"]
    pdf["_pos"] = grp.cumsum()
    pdf["_total"] = grp.transform("sum")
    pdf = pdf.sort_values("id").reset_index(drop=True)
    assert list(got.columns) == ["id", "g", "k", "w", "_pos", "_total"]
    assert got.id.tolist() == pdf.id.tolist()
    assert got.g.tolist() == pdf.g.tolist()
    assert got._pos.tolist() == pdf._pos.tolist()
    assert got._total.tolist() == pdf._total.tolist()


@settings(**SLOW)
@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=2, max_size=30,
    )
)
def test_minmax_scale_clip_property(spark, vals):
    """Scaled train values always land in [0, 1]; degenerate span -> 0."""
    rows = [(f"c{i}", float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "conv_id string, td double")
    out = feat.minmax_scale(df, "td", keys=[]).toPandas()
    assert ((out.td_scaled >= 0) & (out.td_scaled <= 1)).all()
    train = out[out.conv_id.map(
        lambda c: __import__("hashlib").md5(c.encode()).hexdigest()[0] <= "b"
    )]
    if len(train) and train.td.max() == train.td.min():
        assert (train.td_scaled == 0.0).all()


@settings(**SLOW)
@given(
    vals=st.lists(
        st.floats(min_value=-1e3, max_value=1e3, allow_nan=False),
        min_size=2, max_size=25,
    )
)
def test_standardize_property(spark, vals):
    """z of train rows has |mean| ~ 0 when train std > 0; zero-variance
    or singleton train -> all z == 0 (the reference's guard)."""
    rows = [(f"c{i}", float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "conv_id string, td double")
    out = feat.standardize(df, "td", keys=[]).toPandas()
    import hashlib

    train = out[out.conv_id.map(
        lambda c: hashlib.md5(c.encode()).hexdigest()[0] <= "b"
    )]
    sd = train.td.std(ddof=1) if len(train) >= 2 else 0.0
    # the zero-mean law only holds numerically when the spread is not
    # negligible RELATIVE to the magnitude: for values like 1000 +- 1e-10
    # the (x - mu) cancellation alone costs ~eps*|mu|/sd in z units
    if len(train) >= 2 and sd > 1e-7 * (1.0 + abs(train.td.mean())):
        assert abs(train.td_z.mean()) < 1e-6
    elif len(train) and (sd == 0.0 or len(train) < 2):
        assert (train.td_z == 0.0).all()
    assert out.td_z.notna().all()


@settings(**SLOW)
@given(
    la=st.integers(min_value=1, max_value=6),
    lb=st.integers(min_value=1, max_value=6),
    n=st.integers(min_value=1, max_value=10),
)
def test_merge_features_width_property(spark, la, lb, n):
    a = spark.createDataFrame(
        [(f"c{i}", 0, [float(j) for j in range(la)]) for i in range(n)],
        "conv_id string, turn_idx int, features array<double>",
    )
    b = spark.createDataFrame(
        [(f"c{i}", 0, [float(-j) for j in range(lb)]) for i in range(n)],
        "conv_id string, turn_idx int, features array<double>",
    )
    out = feat.merge_features(a, b, ["conv_id", "turn_idx"]).toPandas()
    assert len(out) == n
    assert out.features.map(len).eq(la + lb).all()


@settings(**SLOW)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Min-label propagation + pointer jumping equals a reference
    union-find on arbitrary graphs (cycles, self-merging stars,
    disconnected pieces)."""
    from ml4logs_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(pairs, max_iter=30).collect()
    }

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert got == want


@settings(**SLOW)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=0, max_size=24),
        min_size=1, max_size=12,
    ),
    span=st.integers(min_value=1, max_value=5),
)
def test_span_dedup_matches_reference_property(spark, docs, span):
    """span_dedup == an independent Python reference over arbitrary
    small corpora: split each doc into non-overlapping span-token
    blocks, keep a block only at the minimum (doc_id, block_idx)
    holding its content, reassemble in order, drop emptied docs."""
    from ml4logs_spark.operators import dedup

    texts = [" ".join(toks) for toks in docs]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {r.doc_id: r.text
           for r in dedup.span_dedup(df, span_tokens=span).collect()}

    first: dict[str, tuple[int, int]] = {}
    blocks: dict[int, list[tuple[int, str]]] = {}
    for i, text in enumerate(texts):
        toks = text.split(" ")  # '' -> [''] like Spark's split
        bs = [" ".join(toks[j:j + span]) for j in range(0, len(toks), span)]
        blocks[i] = list(enumerate(bs))
        for bi, b in blocks[i]:
            first.setdefault(b, (i, bi))
    want = {}
    for i in blocks:
        kept = [b for bi, b in blocks[i] if first[b] == (i, bi)]
        if kept:
            want[i] = " ".join(kept)
    assert got == want


_BUCKET_ROW = st.tuples(
    st.integers(0, 5), st.integers(0, 1), st.integers(0, 2)  # id, band, h
)


@settings(**SLOW)
@given(
    bands=st.lists(_BUCKET_ROW, max_size=25),
    seen=st.one_of(st.none(), st.lists(_BUCKET_ROW, max_size=25)),
)
@example(bands=[(1, 0, 0)], seen=[(1, 0, 0)])  # a replayed row
def test_bucket_pairs_matches_reference_property(spark, bands, seen):
    """bucket_pairs == the canonical (a < b) pairs of distinct ids that
    share a (band, h) bucket with at least one row from ``bands``, each
    pair once — with and without a historical ``seen`` table, ids
    repeating within and across the two."""
    from ml4logs_spark.operators import dedup

    def frame(rows):
        return spark.createDataFrame(rows, "doc_id long, band int, h int")

    got = dedup.bucket_pairs(
        frame(bands), ["band", "h"], seen=None if seen is None else frame(seen)
    ).collect()
    want = {
        (min(x[0], y[0]), max(x[0], y[0]))
        for x in bands for y in bands + (seen or [])
        if x[1:] == y[1:] and x[0] != y[0]
    }
    assert sorted(tuple(r) for r in got) == sorted(want)


def _minhash_day2(dedup, df, hist, new):
    batch = dedup.near_dups(df, threshold=0.5)
    inc = dedup.incremental_near_dup_verified(
        new,
        dedup.lsh_bands(dedup.minhash_signatures(hist)),
        dedup.shingle_store(hist),
        threshold=0.5,
    )
    return batch, inc


def _simhash_day2(dedup, df, hist, new):
    return (dedup.simhash_near_dups(df),
            dedup.incremental_simhash_near_dups(new, dedup.simhash64(hist)))


@pytest.mark.parametrize("family", [_minhash_day2, _simhash_day2],
                         ids=["minhash", "simhash"])
@settings(**SLOW)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["w0", "w1", "w2", "w3"]),
                 min_size=4, max_size=12),
        min_size=2, max_size=8,
    ),
)
def test_incremental_near_dup_equals_batch_property(spark, family, docs):
    """For ANY corpus split into history (even ids, state only) and a
    new batch (odd ids), the incremental pairs equal the batch pairs
    restricted to pairs touching a new doc — same banding, same
    verified score (store Jaccard for MinHash, hamming for SimHash), no
    extra or missing pairs."""
    from ml4logs_spark.operators import dedup

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batch, inc = family(dedup, df, df.filter("doc_id % 2 = 0"),
                        df.filter("doc_id % 2 = 1"))
    batch = {(r[0], r[1]): r[2] for r in batch.collect()}
    inc = {(r[0], r[1]): r[2] for r in inc.collect()}
    want = {p: j for p, j in batch.items() if p[0] % 2 == 1 or p[1] % 2 == 1}
    assert inc == want


@settings(**SLOW)
@given(
    # per-conv turn text lists; texts may contain the separator byte
    # and colons — the framing must stay unambiguous regardless
    convs=st.lists(
        st.lists(
            st.text(alphabet="ab:\x1f", max_size=4), min_size=1, max_size=4
        ),
        min_size=1,
        max_size=10,
    ),
)
def test_conv_dedup_groups_match_reference(spark, convs):
    """conv_dedup_survivors keeps exactly one conv per distinct ordered
    turn-text tuple (lowest conv_id), for ANY texts — including ones
    containing the separator byte, which the length-prefix framing must
    keep unambiguous."""
    from ml4logs_spark.operators import dedup

    rows = [
        (f"c{i:03d}", t, "u", txt, None, None)
        for i, texts in enumerate(convs)
        for t, txt in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp"
    )
    kept = {
        r["conv_id"]
        for r in dedup.conv_dedup_survivors(df)
        .select("conv_id").distinct().collect()
    }
    expect = {}
    for i, texts in enumerate(convs):
        expect.setdefault(tuple(texts), f"c{i:03d}")
    assert kept == set(expect.values())


@settings(**SLOW)
@given(
    texts=st.lists(st.text(alphabet="ab c", max_size=12), min_size=1, max_size=25),
    n_batches=st.integers(min_value=1, max_value=4),
)
def test_vocab_merge_chain_equals_batch_property(spark, texts, n_batches):
    """Any batch partitioning of any corpus: chained merge_vocab_counts
    equals one batch count (df/tf additivity over disjoint doc_ids)."""
    from ml4logs_spark.operators import textqa

    docs = spark.createDataFrame(
        [(i, t, "s") for i, t in enumerate(texts)],
        "doc_id long, text string, source string",
    )
    state = textqa.vocab_counts(docs.filter(f"doc_id % {n_batches} = 0"))
    for b in range(1, n_batches):
        state = textqa.merge_vocab_counts(
            state, docs.filter(f"doc_id % {n_batches} = {b}")
        )
    merged = {r["token"]: (r["df"], r["tf"]) for r in state.collect()}
    batch = {
        r["token"]: (r["df"], r["tf"])
        for r in textqa.vocab_counts(docs).collect()
    }
    assert merged == batch


_MERGE_STATES = [
    "vocab_counts",
    "doc_length_histogram",
    "daily_health_state",
    "tool_latency_histogram_state",
    "read_latency_state",
    "slowest_tool_calls",
]


def _merged_and_whole(spark, state, docs, convs, lats, state_dir):
    """(merge of state(A) and state(B), state(A ∪ B)) for one additive
    state or the top-k state; the ``_a`` flag drawn with each row (or
    conversation) splits the input into A and B. The latency ledger is
    written under ``state_dir``."""
    from ml4logs_spark.operators import textqa
    from ml4logs_spark.streaming import latency

    def split(df):
        return (df.filter("_a").drop("_a"), df.filter("NOT _a").drop("_a"),
                df.drop("_a"))

    if state in ("vocab_counts", "doc_length_histogram"):
        a, b, whole = split(spark.createDataFrame(
            [(i, t, "s", side) for i, (t, side) in enumerate(docs)],
            "doc_id long, text string, source string, _a boolean",
        ))
        if state == "vocab_counts":  # doc_ids are disjoint by construction
            return (textqa.merge_vocab_counts(textqa.vocab_counts(a), b),
                    textqa.vocab_counts(whole))
        h = textqa.doc_length_histogram
        return textqa.merge_doc_length_histograms(h(a), h(b)), h(whole)
    if state == "read_latency_state":
        a, b, whole = split(spark.createDataFrame(
            lats, "tool string, lat_us long, _a boolean"
        ))
        ingest = latency.make_latency_ingester(state_dir)
        ingest(a, 0)
        ingest(b, 1)
        return (latency.read_latency_state(spark, state_dir),
                windows.histogram_from_latencies(whole))
    t0 = datetime.datetime(2024, 1, 1, 20)
    rows = []
    for c, (conv_side, turns) in enumerate(convs):
        ts = t0
        for i, (gap_s, tool, err, turn_side) in enumerate(turns):
            ts += datetime.timedelta(seconds=gap_s)
            # latency pairs a turn with its successor, so the latency
            # states split whole conversations; the health counts split rows
            side = turn_side if state == "daily_health_state" else conv_side
            rows.append((f"c{c:03d}", i, "u", "error code 7" if err else "ok",
                         tool, ts, side))
    a, b, whole = split(spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp, _a boolean",
    ))
    if state == "daily_health_state":
        f = windows.daily_health_state
        return windows.merge_daily_health_state(f(a), f(b)), f(whole)
    if state == "slowest_tool_calls":  # k below the row count: the merge truncates
        f = functools.partial(windows.slowest_tool_calls, k=5)
        return windows.merge_slowest_tool_calls(f(a), f(b), k=5), f(whole)
    f = windows.tool_latency_histogram_state
    return windows.merge_tool_latency_histograms(f(a), f(b)), f(whole)


@pytest.mark.parametrize("state", _MERGE_STATES)
@settings(**SLOW)
@given(
    docs=st.lists(
        st.tuples(st.text(alphabet="ab c", max_size=12), st.booleans()),
        min_size=1, max_size=20,
    ),
    convs=st.lists(
        st.tuples(
            st.booleans(),
            st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=30 * 3600),  # gap s
                    st.sampled_from([None, "grep", "edit"]),
                    st.booleans(),  # error turn
                    st.booleans(),
                ),
                min_size=1, max_size=6,
            ),
        ),
        min_size=1, max_size=8,
    ),
    lats=st.lists(
        st.tuples(
            st.sampled_from(["grep", "edit"]),
            st.integers(min_value=-5, max_value=2**40),
            st.booleans(),
        ),
        min_size=1, max_size=30,
    ),
)
def test_additive_state_merge_law_property(spark, state, docs, convs, lats):
    """For every additive day-2 state, and the top-k slowest-call state,
    and any split of its input into A and B, merging state(A) with
    state(B) equals state(A ∪ B) exactly: same column names and types,
    same rows."""
    import tempfile

    with tempfile.TemporaryDirectory() as state_dir:
        merged, whole = _merged_and_whole(
            spark, state, docs, convs, lats, state_dir
        )
        assert merged.dtypes == whole.dtypes
        assert Counter(tuple(r) for r in merged.collect()) == Counter(
            tuple(r) for r in whole.collect()
        )


@settings(**SLOW)
@given(
    counts=st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=8),
    alpha=st.sampled_from([0.5, 0.75, 1.0]),
)
def test_temperature_rates_property(spark, counts, alpha):
    """Rates match the pure-Python floor((n_min/n)^(1-alpha) * 65536)
    for any source-size multiset and every sqrt-chain alpha; the
    smallest source always keeps everything."""
    import hashlib

    from ml4logs_spark.operators import textqa

    rows, did = [], 0
    for s, n in enumerate(counts):
        for _ in range(n):
            rows.append((did, "x", f"s{s}"))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r["source"]: r["rate_int"]
        for r in textqa.temperature_mix_rates(docs, alpha=alpha).collect()
    }
    n_min = min(counts)
    exp = {
        f"s{s}": math.floor((n_min / n) ** (1 - alpha) * 65536)
        for s, n in enumerate(counts)
    }
    assert got == exp
    assert got[f"s{counts.index(n_min)}"] == 65536


@settings(**SLOW)
@given(
    sizes=st.lists(st.integers(min_value=0, max_value=30),
                   min_size=1, max_size=30),
    budget=st.integers(min_value=1, max_value=40),
    parts=st.integers(min_value=1, max_value=7),
)
def test_pack_conversations_stream_property(spark, sizes, budget, parts):
    """Conversation packing == pandas cumsum + integer division, for
    any token-count multiset, budget, and partition count."""
    rows = [
        (f"c{i:04d}", 0, "u", " ".join(["t"] * n) if n else None, None, None)
        for i, n in enumerate(sizes)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp"
    )
    got = (
        windows.pack_conversations(df, seq_tokens=budget, n_parts=parts)
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    offs = pd.Series(sizes).cumsum().shift(1, fill_value=0)
    assert got.conv_tokens.tolist() == sizes
    assert got.token_offset.tolist() == offs.tolist()
    assert got.seq_id.tolist() == (offs // budget).tolist()
    assert got.seq_pos.tolist() == (offs % budget).tolist()


@settings(**SLOW)
@given(
    texts=st.lists(
        st.lists(st.sampled_from("abcd"), min_size=0, max_size=6).map(
            lambda cs: " ".join(cs)
        ),
        min_size=1, max_size=20,
    )
)
def test_bigram_novelty_matches_python(spark, texts):
    """novel_frac == a pure-Python count of bigrams unique to one doc,
    for any small random corpus; frac always within [0, 1]."""
    from collections import Counter

    from ml4logs_spark.operators import textqa

    docs = spark.createDataFrame(
        [(i, t, "s") for i, t in enumerate(texts)],
        "doc_id long, text string, source string",
    )
    got = {r.doc_id: (r.n_bigrams, r.novel_frac)
           for r in textqa.bigram_novelty(docs).collect()}
    pairs_by_doc = {
        i: [(w[j], w[j + 1]) for j in range(len(w) - 1)]
        for i, t in enumerate(texts)
        for w in [[x for x in t.split(" ") if x]]
    }
    owners = Counter()
    for i, ps in pairs_by_doc.items():
        for p in set(ps):
            owners[p] += 1
    for i, ps in pairs_by_doc.items():
        n = len(ps)
        nov = sum(1 for p in ps if owners[p] == 1)
        exp = (n, round(nov / n, 6) if n else None)
        assert got[i] == exp
        if n:
            assert 0.0 <= got[i][1] <= 1.0


@settings(**SLOW)
@given(
    convs=st.lists(
        st.lists(
            st.sampled_from(["user", "assistant", "system", "tool"]),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=10,
    ),
)
def test_conv_quality_flags_matches_python_reference(spark, convs):
    """conv_quality_flags == an independent pure-Python rule
    evaluation, for arbitrary role sequences (run-length, fractions,
    opening role, and every pass flag)."""
    rows = [
        (f"c{i:03d}", t, role, f"w{t}", None, None)
        for i, roles in enumerate(convs)
        for t, role in enumerate(roles)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp"
    )
    kw = dict(min_turns=2, max_turns=8, max_role_run=2,
              min_user_frac=0.3, max_tool_frac=0.25)
    got = {
        r["conv_id"]: r.asDict()
        for r in windows.conv_quality_flags(df, **kw).collect()
    }
    for i, roles in enumerate(convs):
        cid = f"c{i:03d}"
        n = len(roles)
        max_run = 1
        run = 1
        for a, b in zip(roles, roles[1:]):
            run = run + 1 if a == b else 1
            max_run = max(max_run, run)
        user_frac = round(roles.count("user") / n, 6)
        tool_frac = round(roles.count("tool") / n, 6)
        g = got[cid]
        assert g["n_turns"] == n and g["max_role_run"] == max_run
        assert g["user_frac"] == user_frac and g["tool_frac"] == tool_frac
        assert g["opening_role"] == roles[0]
        expected_passes = (
            kw["min_turns"] <= n <= kw["max_turns"]
            and max_run <= kw["max_role_run"]
            and user_frac >= kw["min_user_frac"]
            and tool_frac <= kw["max_tool_frac"]
            and roles[0] in ("user", "system")
        )
        assert g["passes"] == expected_passes, (cid, roles, g)


@settings(**SLOW)
@given(
    seqs=st.lists(
        st.lists(st.sampled_from(["p", "q", "r"]), min_size=1, max_size=6),
        min_size=2,
        max_size=12,
    )
)
def test_conv_prefix_dups_property(spark, seqs):
    """The positional-hash prefix detector == a brute-force Python
    proper-prefix check, for arbitrary small-alphabet conversation
    sets (tiny alphabet maximizes shared prefixes, equal-length dups,
    and chain cases stub<mid<long)."""
    from ml4logs_spark.operators import dedup

    rows = [
        (f"c{i:03d}", t, txt)
        for i, toks in enumerate(seqs)
        for t, txt in enumerate(toks)
    ]
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = {tuple(r) for r in dedup.conv_prefix_dups(t).collect()}
    want = set()
    for i, a in enumerate(seqs):
        for j, b in enumerate(seqs):
            if i != j and len(a) < len(b) and b[: len(a)] == a:
                want.add((f"c{i:03d}", f"c{j:03d}", len(a), len(b)))
    assert got == want


@settings(**SLOW)
@given(
    lats=st.lists(
        st.integers(min_value=-1000, max_value=2**40),
        min_size=1, max_size=60,
    ),
    qs=st.lists(
        st.sampled_from([1, 5, 25, 50, 75, 95, 99, 100]),
        min_size=1, max_size=3, unique=True,
    ),
)
def test_latency_histogram_bucket_and_percentile_property(spark, lats, qs):
    """The integer bucket floor equals Python's 1 << (bit_length-1)
    (0 for non-positive latencies), and the published percentile bucket
    equals a pure-Python reference: the bucket of the (n*p + 99) // 100
    -th smallest latency under type-1 semantics."""
    from ml4logs_spark.operators import windows

    def py_bucket(v):
        return 0 if v <= 0 else 1 << (v.bit_length() - 1)

    df = spark.createDataFrame(
        [("t", int(v)) for v in lats], "tool string, lat_us long"
    )
    hist = windows.histogram_from_latencies(df)
    got_hist = {(r.bucket_lo): r.n for r in hist.collect()}
    want_hist = {}
    for v in lats:
        b = py_bucket(v)
        want_hist[b] = want_hist.get(b, 0) + 1
    assert got_hist == want_hist

    got = {
        r.q_pct: (r.n_timed, r.bucket_lo)
        for r in windows.latency_percentiles_from_histogram(
            hist, qs=tuple(p / 100 for p in qs)
        ).collect()
    }
    n = len(lats)
    # reference: rank into the sorted BUCKET multiset (the histogram
    # forgets within-bucket order, but bucketing is monotone, so the
    # r-th smallest bucket == bucket of the r-th smallest latency)
    buckets_sorted = sorted(py_bucket(v) for v in lats)
    want = {
        p: (n, buckets_sorted[(n * p + 99) // 100 - 1]) for p in qs
    }
    assert got == want


# Pieces for shingle- and token-kernel inputs: runs of spaces (empty tokens),
# tabs and newlines inside tokens, NBSP (not a split point), combining
# marks and astral-plane emoji.
_SHINGLE_PIECES = ["a", "b", "ab", " ", "  ", "\t", "\n", "\u00a0", "e\u0301",
                   "\U0001F600"]
# Always present, whatever hypothesis draws: NULL and empty text, one and
# two tokens, leading/trailing spaces, and a doc with repeated grams.
_SHINGLE_EDGES = [None, "", "a", "a b", " a b ", "  ", "a b a b a b",
                  "\ta\nb c\u00a0d", "e\u0301 \U0001F600 \U0001F600 x"]


def _lambda_shingles(k: int = 3):
    """The higher-order shingle array ``shingle_rows`` replaced: the
    token array zipped with its own shifted tails, sliced to positions
    1..max(L-k+1, 1). The reference for the kernel's exactness."""
    toks = F.split(F.col("text"), " ")
    n = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(1))
    sh = toks
    for j in range(1, k):
        sh = F.zip_with(
            sh,
            F.slice(toks, j + 1, 1 << 30),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.slice(sh, 1, n)


@settings(**SLOW)
@given(
    texts=st.lists(
        st.lists(st.sampled_from(_SHINGLE_PIECES), max_size=14).map("".join),
        max_size=12,
    ),
)
def test_shingle_kernel_matches_lambda_reference_and_duckdb(spark, texts):
    """shingle_rows equals the exploded lambda shingle array (as a
    multiset per doc) and DuckDB's unnest(_SHINGLES) (as a set: the
    oracle shingles are list_distinct'ed); minhash_signatures and
    shingle_store equal the lambda expressions they replaced. Every
    input doc gives exactly one signature and one store row, NULL text
    included, so the explode drops no doc."""
    from collections import Counter

    import duckdb

    from ml4logs_spark.operators import dedup
    from ml4logs_spark.oracle.docs_sql import _SHINGLES

    rows = list(enumerate(_SHINGLE_EDGES + texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = _lambda_shingles()

    got = Counter(tuple(r) for r in dedup.shingle_rows(df).collect())
    want = Counter(
        tuple(r)
        for r in df.select("doc_id", F.explode_outer(sh).alias("gram")).collect()
    )
    assert got == want
    assert {d for d, _ in got} == {i for i, _ in rows}
    assert got[(0, None)] == 1  # NULL text: one row, NULL gram

    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    duck = Counter(
        con.execute(
            f"SELECT doc_id, unnest({_SHINGLES}) AS gram FROM documents"
        ).fetchall()
    )
    con.close()
    assert duck == Counter({g for g in got if g[1] is not None})

    def mh_ref_col(i):  # binds i; a lambda default arg would read as an index
        return F.array_min(
            F.transform(sh, lambda s: F.md5(F.concat(F.lit(f"{i}:"), s)))
        ).alias(f"mh{i}")

    mh_ref = df.select(
        "doc_id", *[mh_ref_col(i) for i in range(dedup.N_MINHASH)]
    )
    store_ref = df.select(
        "doc_id",
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.array_distinct(sh),
                    lambda s: F.substring(F.md5(s), 1, dedup.STORE_HASH_CHARS),
                )
            )
        ).alias("sh_sig"),
    )
    for new, ref in (
        (dedup.minhash_signatures(df), mh_ref),
        (dedup.shingle_store(df), store_ref),
    ):
        got_rows = [tuple(r) for r in new.collect()]
        assert len(got_rows) == len(rows)
        assert sorted(got_rows, key=lambda r: r[0]) == [
            tuple(r) for r in ref.orderBy("doc_id").collect()
        ]


def _lambda_toks():
    """The higher-order tokenizer ``textqa._toks_lower`` replaced."""
    return F.filter(
        F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " "),
        lambda t: t != "",
    )


def _lambda_pairs(toks):
    """The higher-order pair array ``textqa._adjacent`` replaced: the
    tokens zipped with their tail, the NULL tail pad left in."""
    return F.zip_with(
        toks,
        F.slice(toks, 2, 1 << 30),
        lambda a, b: F.struct(a.alias("tok_a"), b.alias("tok_b")),
    )


def _lambda_dup_bigram_frac(toks):
    n = F.size(toks)
    bigrams = F.zip_with(
        toks, F.slice(toks, 2, 1 << 30), lambda a, b: F.concat_ws(" ", a, b)
    )
    bigrams = F.slice(bigrams, 1, F.greatest(n - F.lit(1), F.lit(0)))
    n_bg = F.size(bigrams)
    return F.round(
        F.when(
            n_bg > 0, F.lit(1.0) - F.size(F.array_distinct(bigrams)) / n_bg
        ).otherwise(F.lit(0.0)),
        6,
    )


@settings(**SLOW)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(_SHINGLE_PIECES + ["A", "B a"]), max_size=14
        ).map("".join),
        max_size=12,
    ),
)
def test_token_and_pair_kernels_match_lambda_reference_and_duckdb(
    spark, texts
):
    """The text family's built-in kernels equal the lambda forms they
    replaced and the DuckDB mirrors of the oracles, per doc: the token
    array and its ``token_rows`` explode, the ``bigram_rows`` pairs (as
    multisets: no NULL tail pad survives), ``dup_bigram_frac_expr``, and
    ``pack_conversations``' token count (NULL text counts 0 tokens)."""
    import duckdb

    from ml4logs_spark.operators import textqa
    from ml4logs_spark.oracle.docs_sql import _DUP_BG_FRAC, _TOKS_LOWER

    rows = list(enumerate(_SHINGLE_EDGES + ["A b a B", "b A"] + texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    old_toks = _lambda_toks()

    per_doc = df.select(
        "doc_id",
        textqa._toks_lower().alias("toks"),
        old_toks.alias("old_toks"),
        textqa.dup_bigram_frac_expr().alias("frac"),
        _lambda_dup_bigram_frac(old_toks).alias("old_frac"),
        F.size(textqa._toks_lower()).alias("n"),
        F.size(
            F.filter(
                F.split(F.coalesce(F.col("text"), F.lit("")), " "),
                lambda t: t != "",
            )
        ).alias("old_n"),
    ).orderBy("doc_id").collect()
    assert len(per_doc) == len(rows)
    for r in per_doc:
        assert r["toks"] == r["old_toks"]
        assert r["frac"] == r["old_frac"]
        assert r["n"] == r["old_n"] == len(r["toks"])

    toks = Counter(tuple(r) for r in textqa.token_rows(df, ["doc_id"]).collect())
    pairs = Counter(
        tuple(r) for r in textqa.bigram_rows(df, ["doc_id"]).collect()
    )
    assert toks == Counter(
        tuple(r)
        for r in df.select("doc_id", F.explode(old_toks)).collect()
    )
    assert pairs == Counter(
        (r["doc_id"], r["p"]["tok_a"], r["p"]["tok_b"])
        for r in df.select(
            "doc_id", F.explode(_lambda_pairs(old_toks)).alias("p")
        ).collect()
        if r["p"]["tok_b"] is not None
    )

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    assert toks == Counter(con.execute(
        f"SELECT doc_id, unnest({_TOKS_LOWER}) FROM documents"
    ).fetchall())
    assert pairs == Counter(con.execute(
        "SELECT doc_id, p.tok_a, p.tok_b FROM (SELECT doc_id, unnest("
        "list_transform(generate_series(1, greatest(len(a) - 1, 0)), "
        "i -> struct_pack(tok_a := a[i], tok_b := a[i + 1]))) AS p "
        f"FROM (SELECT doc_id, {_TOKS_LOWER} AS a FROM documents))"
    ).fetchall())
    duck = {
        d: (f, n) for d, f, n in con.execute(
            f"SELECT doc_id, CAST({_DUP_BG_FRAC} AS DOUBLE), len(list_filter(str_split("
            "coalesce(text, ''), ' '), x -> x <> '')) "
            f"FROM (SELECT doc_id, text, {_TOKS_LOWER} AS a FROM documents)"
        ).fetchall()
    }
    con.close()
    assert {r["doc_id"]: (r["frac"], r["n"]) for r in per_doc} == duck


_F32 = st.floats(min_value=-1e3, max_value=1e3, width=32, allow_nan=False)


@settings(**SLOW)
@given(
    vecs=st.integers(1, 8).flatmap(
        lambda d: st.lists(st.lists(_F32, min_size=d, max_size=d),
                           min_size=1, max_size=6)
    )
)
@example(vecs=[[0.0, 0.0], [3.0, -1.0], [0.5, 2.0]])  # a zero vector
def test_hoisted_cosine_equals_per_pair_property(spark, vecs):
    """``_cos`` over norms hoisted into per-row columns and joined onto
    the pairs (the ``_rerank`` shape) == the per-pair cosine that
    recomputes both norms inside the pair expression, bit for bit —
    so hoisting ivf_topk's norms changes no double. A pair with a zero
    vector scores NULL."""
    from ml4logs_spark.operators.similarity import _cos, _dot, _side

    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    )
    va, vb = F.col("va"), F.col("vb")
    den = F.sqrt(_dot(va, va)) * F.sqrt(_dot(vb, vb))
    rows = (
        _side(emb, "id_a", "va", "_na", "embedding")
        .crossJoin(_side(emb, "id_b", "vb", "_nb", "embedding"))
        .select(
            "id_a", "id_b",
            _cos(va, vb, F.col("_na"), F.col("_nb")).alias("got"),
            # the per-pair form; the guard keeps ANSI's divide-by-zero out
            F.when(den != 0, F.round(_dot(va, vb) / den, 6)).alias("want"),
        )
        .collect()
    )
    assert len(rows) == len(vecs) ** 2

    def bits(x):
        return None if x is None else struct.pack("<d", x)

    for r in rows:
        zero = not any(vecs[r["id_a"]]) or not any(vecs[r["id_b"]])
        assert (r["got"] is None) == zero
        assert bits(r["got"]) == bits(r["want"])
