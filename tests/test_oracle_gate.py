"""Oracle-equivalence gate for queries beyond the driver's window.

The driver's CORRECTNESS gate grades the first 50 ``queries()`` entries;
everything after position 50 with a full DuckDB oracle is certified here
instead — the same Spark-vs-DuckDB row/column/value comparison, run at
sf0.001 so a plain pytest run exercises it. The in-window queries built
on the shingle kernel (dedup.shingle_rows), on the similarity cosine
kernel (similarity._cos) and on the text token and pair kernels
(textqa.token_rows / bigram_rows) are gated here too, so a change to
any of these kernels is caught by a plain pytest run.
"""

import os
import sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import __spark_entry__ as entry
from check_oracle import compare_arrow_schemas, compare_frames

SF_DIR = "/root/testdata/sf0.001"


def _beyond_window_oracle_queries() -> list[str]:
    q, o = list(entry.queries()), entry.oracle_sql()
    return [n for n in q[50:] if n in o]


def _connect(sf_dir):
    con = duckdb.connect()
    for p in sorted(Path(sf_dir).glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    return con


@pytest.fixture(scope="module")
def duck():
    con = _connect(SF_DIR)
    yield con
    con.close()


# in-window queries built on a shared kernel
WINDOW_QUERIES = [
    # dedup.shingle_rows
    "near_dup_survivors_quality",
    "conv_jaccard_pairs",
    "curate_attrition",
    "incremental_near_dup_verified",
    "contamination_report",
    "curated_transcripts",
    "curate_transcripts_attrition",
    # operators/similarity.py (_cos, int8 and PQ codes)
    "embedding_quantized",
    "quantized_cosine_topk",
    "knn_label_vote",
    "embedding_decontaminated",
    "ivf_cell_summary",
    "incremental_embedding_near_dups",
    "semantic_dedup_survivors",
    "pq_codes",
    "pq_cosine_topk",
    # textqa._toks_lower, token_rows, bigram_rows, _adjacent
    "vocab_coverage",
    "doc_unigram_logprob",
    "bigram_logprob",
    "perplexity_buckets",
    "nb_source_classify",
    "source_kl_divergence",
    "bigram_novelty",
    "pack_conversations",
    "nb_confusion",
    "lm_score_day2",
    "incremental_vocab_counts",
    "gopher_quality_flags",
    "repetition_stats",
    "bigram_counts",
    "top_ngrams_per_source",
]


def _assert_matches_oracle(spark, duck, name, sf_dir=SF_DIR):
    s_tbl = entry.queries()[name](spark, sf_dir).toArrow()
    sdf = s_tbl.to_pandas()
    assert len(sdf) > 0, f"{name} returned no rows at {sf_dir}"
    d_tbl = duck.execute(entry.oracle_sql()[name]).arrow()
    err = compare_arrow_schemas(s_tbl, d_tbl) or compare_frames(
        sdf, d_tbl.to_pandas()
    )
    assert err is None, f"{name}: {err}"


@pytest.mark.parametrize("name", _beyond_window_oracle_queries())
def test_beyond_window_query_matches_oracle(spark, duck, name):
    _assert_matches_oracle(spark, duck, name)


@pytest.mark.parametrize("name", WINDOW_QUERIES)
def test_shingle_window_query_matches_oracle(spark, duck, name):
    assert list(entry.queries()).index(name) < 50
    _assert_matches_oracle(spark, duck, name)


def _zeroed(tmp_path_factory, vec_id):
    """(dir, DuckDB connection) over the sf0.001 embeddings with
    ``vec_id`` set to the zero vector."""
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    vecs = t.column("embedding").to_pylist()
    ids = t.column("vec_id").to_pylist()
    vecs[ids.index(vec_id)] = [0.0] * len(vecs[0])
    i = t.schema.get_field_index("embedding")
    t = t.set_column(i, t.schema.field(i), pa.array(vecs, t.schema.field(i).type))
    d = tmp_path_factory.mktemp(f"zero_vec_{vec_id}")
    pq.write_table(t, d / "embeddings.parquet")
    return str(d), _connect(d)


@pytest.fixture(scope="module")
def zero_vec(tmp_path_factory):
    """vec_id 0 zeroed: a query (ids 0..4), the first IVF seed
    centroid, and a candidate for every other query."""
    sf_dir, con = _zeroed(tmp_path_factory, 0)
    yield sf_dir, con
    con.close()


# A zero vector has norm 0: its pairs score a NULL cosine on both
# engines (Spark try_divide, DuckDB x / 0.0) instead of aborting the
# job, and ranks last.
@pytest.mark.parametrize("name", [
    "ann_cosine_topk",
    "lsh_cosine_topk",
    "ivf_cosine_topk",
    "embedding_near_dups",
    "semantic_dedup_survivors",
    "embedding_decontaminated",
    "ivf_cell_summary",
    "knn_label_vote",
])
def test_zero_vector_matches_oracle(spark, zero_vec, name):
    sf_dir, con = zero_vec
    _assert_matches_oracle(spark, con, name, sf_dir)


def test_zero_seed_ranks_last_in_knn_vote(spark, tmp_path_factory):
    """vec_id 6 is a seed under knn_label_vote's default "2000" draw;
    zeroed, its NULL cosine must rank below every scored seed."""
    sf_dir, con = _zeroed(tmp_path_factory, 6)
    try:
        _assert_matches_oracle(spark, con, "knn_label_vote", sf_dir)
    finally:
        con.close()
