"""Spark vs DuckDB oracle gate for the query families whose twin paths
are picked from the input: every ``refine_*`` and ``filter_*`` query,
the trained-model scorers and the driver-sized training dispatches.

Each query runs on Spark at sf0.001 and is compared with its
``oracle_sql()`` on DuckDB by ``tools/check_oracles.py``'s own ``canon``
and comparison (row count, column names, order-insensitive values).
Queries without an oracle (``refine_spelling``, ``refine_stem``) must
keep one row per document.
"""

import pytest

from dataflow_spark.entry_queries import build_oracles, build_queries
from tools import check_oracles as CO

SF = "/root/testdata/sf0.001"
QUERIES = build_queries()
ORACLES = build_oracles()
GATED = sorted(k for k in QUERIES if k.startswith(("refine_", "filter_"))) + [
    "score_bigram_perplexity",
    "score_trigram_kn",
    "score_perplexity_cjk",
    "score_perplexity_thai",
    "classify_source_nb",
    "classify_lang_chargram",
    "ann_topk_ivf",
    "dedup_semdedup_kmeans",
    "superfiltering_ifd",
    "perplexity_lm_filter",
    "ccnet_ppl_buckets",
    "ccnet_pipeline",
    "pipeline_pt_chain",
    "score_token_count_bpe",
    "answer_token_length_filter_bpe",
]


@pytest.fixture(scope="module")
def duck():
    con = CO.connect(SF)
    yield con
    con.close()


@pytest.mark.parametrize("name", GATED)
def test_query_matches_duckdb_oracle(spark, duck, name):
    got = QUERIES[name](spark, SF).toPandas()
    if name not in ORACLES:
        n_docs = duck.execute("SELECT count(*) FROM documents").fetchone()[0]
        assert len(got) == n_docs
        return
    assert CO.compare(got, duck.execute(ORACLES[name]).df()) is None
