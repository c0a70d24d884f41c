"""Spark-vs-DuckDB oracle gate for the registry queries whose plans run
the pipeline path — ``extract_stage``, ``normalize_stage``,
``mill_stage``, the org/prov operators or ``run_stats`` — so a
regression in the one extract/mill path fails the suite, not only
``scripts/check_oracles.py`` — and for ``dedup_ngram_jaccard`` on both
sides of its dictionary gate.  Compared the same way as that script:
name-sorted columns, order-insensitive normalized rows."""

from __future__ import annotations

import importlib.util
import os

import pytest

from tests.conftest import REPO_ROOT, TESTDATA

SF = os.path.join(TESTDATA, "sf0.001")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
PIPELINE_QUERIES = [
    "run_stats_agg", "sitegraph_scan", "kg_extract_mill",
    "kg_js_inline_recover", "kg_microdata_rdfa", "kg_graph_urn", "kg_prov",
    "streaming_incremental_kg",
]


_spec = importlib.util.spec_from_file_location(
    "check_oracles", os.path.join(REPO_ROOT, "scripts", "check_oracles.py"))
check_oracles = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracles)


@pytest.fixture(scope="module")
def duck():
    if not os.path.isdir(SF):
        pytest.skip(f"test data not available: {SF}")
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from "
                f"read_parquet('{SF}/{t}.parquet')")
    yield con
    con.close()


def _assert_matches_oracle(spark, duck, name):
    from gleaner_spark.plans.queries import QUERIES

    fn, oracle = QUERIES[name]
    scols, srows = check_oracles.frame_key(fn(spark, SF).toPandas())
    ocols, orows = check_oracles.frame_key(duck.sql(oracle).df())
    assert srows
    assert scols == ocols
    assert srows == orows


@pytest.mark.parametrize("name", PIPELINE_QUERIES)
def test_pipeline_query_matches_oracle(spark, duck, name):
    _assert_matches_oracle(spark, duck, name)


@pytest.mark.parametrize("dense_dict_max", [None, 0], ids=["dense", "range"])
def test_ngram_jaccard_both_id_sides_match_oracle(spark, duck, monkeypatch,
                                                  dense_dict_max):
    """Dense int shingle ids below NGRAM_DENSE_DICT_MAX, range-partitioned
    long ids above it (forced here with a 0 ceiling)."""
    from gleaner_spark.plans import queries

    if dense_dict_max is not None:
        monkeypatch.setattr(queries, "NGRAM_DENSE_DICT_MAX", dense_dict_max)
    _assert_matches_oracle(spark, duck, "dedup_ngram_jaccard")
