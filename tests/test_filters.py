"""Filter parity: keep-set equality vs pinned reference kernels, plus
native==parity across the full filter registry. The parity side is the
filter's pandas kernel, run through ``filter_udf``."""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
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


# the curate chain's filters and refiners (perfbench's batch_curate)
CURATE_REFINERS = ["remove_extra_spaces", "remove_emoji", "remove_html_url"]
CURATE_FILTERS = [
    "content_null", "word_number", "mean_word_length", "alpha_words",
    "unique_words", "lorem_ipsum", "curly_bracket", "watermark",
]


@pytest.fixture(scope="module")
def kernel_keeps(corpus_pdf):
    """rid -> keep of each filter's pandas kernel on the dirty corpus."""
    return {
        name: FILTERS[name].kernel(corpus_pdf["text"])[1].fillna(False).to_numpy()
        for name in FILTERS
    }


def _kept_rids(df, names):
    from dataflow_spark.functions.filters import apply_filters

    return sorted(r.rid for r in apply_filters(df, names).select("rid").collect())


def _expected_rids(corpus_pdf, kernel_keeps, names):
    keep = np.ones(len(corpus_pdf), dtype=bool)
    for n in names:
        keep &= kernel_keeps[n].astype(bool)
    return sorted(corpus_pdf["rid"][keep].tolist())


@pytest.mark.parametrize("name", sorted(FILTERS))
def test_apply_filters_one_filter_keeps_kernel_rows(corpus_df, corpus_pdf, kernel_keeps, name):
    assert _kept_rids(corpus_df, [name]) == _expected_rids(corpus_pdf, kernel_keeps, [name])


@pytest.mark.parametrize(
    "names", [CURATE_FILTERS, "DEFAULT_FILTERS"], ids=["curate", "app_default"]
)
def test_apply_filters_chain_keeps_kernel_rows(corpus_df, corpus_pdf, kernel_keeps, names):
    if names == "DEFAULT_FILTERS":
        from dataflow_spark.streaming.app import DEFAULT_FILTERS as names
    want = _expected_rids(corpus_pdf, kernel_keeps, names)
    assert 0 < len(want) < len(corpus_pdf)
    assert _kept_rids(corpus_df, names) == want


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.sampled_from(sorted(FILTERS)), min_size=2, max_size=9, unique=True))
def test_apply_filters_random_subsets_keep_kernel_rows(corpus_df, corpus_pdf, kernel_keeps, names):
    """Any subset, in any order, keeps the rows every kernel keeps: the
    statistics the filters share are bound once and read by all of them."""
    assert _kept_rids(corpus_df, names) == _expected_rids(corpus_pdf, kernel_keeps, names)


@pytest.mark.parametrize("name", sorted(FILTERS))
def test_with_filter_columns_metric_equals_kernel(corpus_df, corpus_pdf, name):
    """The label columns: the metric equals the pandas kernel's metric
    (null where the kernel's is NaN) and the keep column is never null."""
    got = (
        with_filter_columns(corpus_df, name)
        .select("rid", f"{name}_metric", f"{name}_keep")
        .toPandas()
        .sort_values("rid")
        .reset_index(drop=True)
    )
    metric, keep = FILTERS[name].kernel(corpus_pdf["text"])
    assert got[f"{name}_keep"].notna().all()
    assert got[f"{name}_keep"].tolist() == keep.fillna(False).tolist()
    a = got[f"{name}_metric"].astype("float64").to_numpy()
    b = metric.astype("float64").to_numpy()
    assert np.array_equal(np.isnan(a), np.isnan(b))
    assert np.allclose(a[~np.isnan(a)], b[~np.isnan(b)], rtol=1e-12, atol=0)


def test_curate_chain_plan_evaluates_each_statistic_once(spark):
    """Plan guard for refine x3 -> exact dedup -> the 8 curate filters ->
    quality score: the whitespace-token count appears once in the
    optimized plan, no expensive call repeats inside a Filter condition,
    and the stopword probe is a hashed INSET, not an array scan."""
    from dataflow_spark.datagen import make_transcripts
    from dataflow_spark.functions.filters import apply_filters
    from dataflow_spark.functions.refiners import apply_refiners
    from dataflow_spark.functions.scorers import quality_score_native
    from dataflow_spark.operators.dedup import dedup_exact
    from tools.explain_plans import repeated_in_filters

    df = spark.createDataFrame(make_transcripts(50, seed=3))
    refined = apply_refiners(df, CURATE_REFINERS)
    deduped = dedup_exact(
        refined.withColumn("__ord", F.struct("conv_id", "turn_idx")), ["text"], "__ord"
    ).drop("__ord")
    final = apply_filters(deduped, CURATE_FILTERS).withColumn(
        "quality", quality_score_native(F.col("text"))
    )
    jplan = final._jdf.queryExecution().optimizedPlan()
    plan = jplan.toString()
    assert plan.count(r", \S+, 0)") == 1
    assert repeated_in_filters(jplan) == {}
    assert "INSET" in plan
    assert "array_contains(" not in plan
