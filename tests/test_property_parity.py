"""Property-based parity: hypothesis-generated unicode text through the
pandas kernels vs pure-Python reference transcriptions (fast, no Spark),
plus one batched Spark pass over the generated corpus (native vs kernel).
"""

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from dataflow_spark.functions.filters import FILTERS
from dataflow_spark.functions.refiners import REFINERS
from tests import reference_kernels as RK

# text including whitespace runs, emoji, punctuation, CJK, controls
TEXT = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        st.sampled_from(" \t\n…😀🚀{}<>&#.!?:-•"),
        st.characters(min_codepoint=0x4E00, max_codepoint=0x4E2F),
    ),
    max_size=200,
)


@settings(max_examples=200, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=8))
def test_refiner_kernels_match_reference(texts):
    s = pd.Series(texts, dtype="object")
    assert REFINERS["remove_extra_spaces"].kernel(s).tolist() == RK.remove_extra_spaces(texts)
    assert REFINERS["lowercase"].kernel(s).tolist() == RK.lowercase(texts)
    assert REFINERS["remove_emoji"].kernel(s).tolist() == RK.remove_emoji(texts)
    assert REFINERS["remove_html_url"].kernel(s).tolist() == RK.remove_html_url(texts)


@settings(max_examples=200, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=8))
def test_filter_kernels_match_reference(texts):
    s = pd.Series(texts, dtype="object")
    for name, ref in [
        ("word_number", RK.word_number_keep),
        ("char_number", RK.char_number_keep),
        ("colon_end", RK.colon_end_keep),
        ("unique_words", RK.unique_words_keep),
        ("curly_bracket", RK.curly_bracket_keep),
        ("content_null", RK.content_null_keep),
        ("mean_word_length", RK.mean_word_length_keep),
    ]:
        _, keep = FILTERS[name].kernel(s)
        assert keep.fillna(False).tolist() == ref(texts), name


def test_spark_native_equals_kernel_on_hypothesis_corpus(spark):
    """One Spark pass over a reproducible hypothesis-style corpus: the
    native Catalyst path must equal the pandas kernel path byte-for-byte on
    adversarial text too."""
    import random

    rnd = random.Random(1234)
    pieces = [" ", "\t", "\n", "…", "😀", "{", "}", "<a>", "&nbsp;", "http://x.io/a",
              "WORD", "word", ":", "...", "•", "身", "1", "$3.50", "01/02/2024"]
    texts = [
        "".join(rnd.choice(pieces) for _ in range(rnd.randint(0, 40))) for _ in range(400)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "rid long, text string"
    ).cache()
    from pyspark.sql import functions as F

    from dataflow_spark.functions.filters import filter_udf, with_filter_columns
    from dataflow_spark.functions.refiners import apply_refiner, refiner_udf

    for name in ("remove_extra_spaces", "remove_emoji", "remove_html_url",
                 "collapse_repeated_punct", "normalize_text", "remove_stopwords"):
        a = apply_refiner(df, name).select("rid", "text").toPandas()
        b = df.select("rid", refiner_udf(name)(F.col("text")).alias("text")).toPandas()
        a, b = a.sort_values("rid"), b.sort_values("rid")
        assert a["text"].tolist() == b["text"].tolist(), name
    for name in ("word_number", "unique_words", "stop_word", "line_start_bullet",
                 "html_entity", "special_character", "no_punc"):
        a = with_filter_columns(df, name).select("rid", f"{name}_keep").toPandas()
        b = df.select(
            "rid",
            F.coalesce(filter_udf(name)(F.col("text"))["keep"], F.lit(False)).alias(f"{name}_keep"),
        ).toPandas()
        a, b = a.sort_values("rid"), b.sort_values("rid")
        assert a[f"{name}_keep"].tolist() == b[f"{name}_keep"].tolist(), name


def test_local_scorers_equal_join_plans_on_adversarial_corpus(spark, monkeypatch):
    """r7: every trained-model scorer has a pre-folded Arrow local path
    and a distributed join plan; on an adversarial generated corpus
    (emoji, CJK runs, controls, URLs, number soup) the two paths must
    agree to the shared 6-dec rounding for the bigram LM, the KN
    trigram, and the NB classifier — beyond the fixed sf corpora the
    oracle gate already pins."""
    import random

    from dataflow_spark.operators import lm as LM
    from dataflow_spark.operators import nb as NB
    from dataflow_spark.operators.lm import bigram_perplexity, trigram_kn_perplexity
    from dataflow_spark.operators.nb import nb_classify

    rnd = random.Random(777)
    pieces = [" ", "\t", "\n", "…", "😀", "<a>", "http://x.io/a", "WORD", "word",
              "身体", "安以宇", ":", "...", "1", "$3.50", "naïve", "Ångström"]
    texts = [
        "".join(rnd.choice(pieces) for _ in range(rnd.randint(0, 30)))
        for _ in range(300)
    ]
    df = spark.createDataFrame(
        [(i, t, f"s{i % 3}") for i, t in enumerate(texts)],
        "doc_id long, text string, source string",
    ).cache()

    for fn, mod, cap in (
        (bigram_perplexity, LM, "LOCAL_SCORE_MAX_BIGRAMS"),
        (trigram_kn_perplexity, LM, "LOCAL_SCORE_MAX_TRIGRAMS"),
        (lambda d, i: nb_classify(d, i, "source"), NB, "NB_LOCAL_MAX_WC_ROWS"),
    ):
        with monkeypatch.context() as m:  # cap 0: the join plan
            m.setattr(mod, cap, 0)
            joined = fn(df, "doc_id")
        a = joined.toPandas().sort_values("doc_id").reset_index(drop=True)
        b = fn(df, "doc_id").toPandas()[a.columns.tolist()].sort_values("doc_id").reset_index(drop=True)
        assert a.equals(b), cap
