"""Oracle-equivalence gate for queries beyond the driver's window.

The driver's CORRECTNESS gate grades the first 50 ``queries()`` entries;
everything after position 50 with a full DuckDB oracle is certified here
instead — the same Spark-vs-DuckDB row/column/value comparison, run at
sf0.001 so a plain pytest run exercises it. The in-window queries built
on the shingle kernel (dedup.shingle_rows) are gated here too, so a
shingle change is caught without the external driver.
"""

import os
import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import __spark_entry__ as entry
from check_oracle import compare_arrow_schemas, compare_frames

SF_DIR = "/root/testdata/sf0.001"


def _beyond_window_oracle_queries() -> list[str]:
    q, o = list(entry.queries()), entry.oracle_sql()
    return [n for n in q[50:] if n in o]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for p in sorted(Path(SF_DIR).glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    yield con
    con.close()


# in-window queries whose results flow through dedup.shingle_rows
SHINGLE_WINDOW_QUERIES = [
    "near_dup_survivors_quality",
    "conv_jaccard_pairs",
    "curate_attrition",
    "incremental_near_dup_verified",
    "contamination_report",
    "curated_transcripts",
    "curate_transcripts_attrition",
]


def _assert_matches_oracle(spark, duck, name):
    s_tbl = entry.queries()[name](spark, SF_DIR).toArrow()
    sdf = s_tbl.to_pandas()
    assert len(sdf) > 0, f"{name} returned no rows at sf0.001"
    d_tbl = duck.execute(entry.oracle_sql()[name]).arrow()
    err = compare_arrow_schemas(s_tbl, d_tbl) or compare_frames(
        sdf, d_tbl.to_pandas()
    )
    assert err is None, f"{name}: {err}"


@pytest.mark.parametrize("name", _beyond_window_oracle_queries())
def test_beyond_window_query_matches_oracle(spark, duck, name):
    _assert_matches_oracle(spark, duck, name)


@pytest.mark.parametrize("name", SHINGLE_WINDOW_QUERIES)
def test_shingle_window_query_matches_oracle(spark, duck, name):
    assert list(entry.queries()).index(name) < 50
    _assert_matches_oracle(spark, duck, name)
