"""Filter parity: keep-set equality vs pinned reference kernels, plus
native==parity across the full filter registry. The parity side is the
filter's pandas kernel, run through ``filter_udf``."""

import pytest
from pyspark.sql import functions as F

from dataflow_spark.functions.filters import FILTERS, filter_udf, with_filter_columns
from tests import reference_kernels as RK

CHECKED = {
    "word_number": RK.word_number_keep,
    "char_number": RK.char_number_keep,
    "colon_end": RK.colon_end_keep,
    "mean_word_length": RK.mean_word_length_keep,
    "unique_words": RK.unique_words_keep,
    "curly_bracket": RK.curly_bracket_keep,
    "lorem_ipsum": RK.lorem_ipsum_keep,
    "content_null": RK.content_null_keep,
}


def _keeps(df, name, mode):
    if mode == "native":
        labeled = with_filter_columns(df, name)
    else:
        keep = filter_udf(name)(F.col("text"))["keep"]
        labeled = df.withColumn(f"{name}_keep", F.coalesce(keep, F.lit(False)))
    out = (
        labeled
        .select("rid", f"{name}_keep")
        .toPandas()
        .sort_values("rid")
        .reset_index(drop=True)
    )
    return out[f"{name}_keep"].tolist()


@pytest.mark.parametrize("name", sorted(CHECKED))
@pytest.mark.parametrize("mode", ["native", "parity"])
def test_filter_matches_reference(corpus_df, corpus_pdf, name, mode):
    expected = CHECKED[name](corpus_pdf["text"].tolist())
    got = _keeps(corpus_df, name, mode)
    assert got == expected


@pytest.mark.parametrize("name", sorted(FILTERS))
def test_native_equals_parity(corpus_df, name):
    assert _keeps(corpus_df, name, "native") == _keeps(corpus_df, name, "parity")


@pytest.mark.parametrize("name", sorted(FILTERS))
def test_no_python_in_native_plan(corpus_df, name):
    """Native filters must stay JVM-side (whole-stage codegen eligible)."""
    plan = with_filter_columns(corpus_df, name)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan


def test_gopher_pipeline_stages_bite(spark):
    """The composed Gopher chain: clone docs never survive (first-wins
    dedup), every survivor obeys the quality floor, and each filter stage
    removes something on the planted corpus."""
    from dataflow_spark.entry_queries import (
        _planted_multiline_docs,
        _q_gopher_pipeline,
    )
    from dataflow_spark.functions.filters import apply_filters

    sf = "/root/testdata/sf0.001"
    out = _q_gopher_pipeline(spark, sf).collect()
    assert out and all(r["quality"] >= 0.75 for r in out)
    assert all(r["doc_id"] < 100000 for r in out)  # clones all dropped

    base = _planted_multiline_docs(spark, sf)
    n0 = base.count()
    n1 = apply_filters(
        base,
        ["dup_line_frac", "dup_para_frac", "word_number",
         "mean_word_length", "symbol_word_ratio"],
    ).count()
    assert 0 < n1 < n0          # the rep/shape rules bite
    assert 0 < len(out) < n1    # the quality floor bites
