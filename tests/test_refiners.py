"""Refiner parity: Spark (native AND pandas_udf) vs pinned reference
kernels, byte-for-byte under (conv_id, turn_idx) ordering. The parity
side is the refiner's pandas kernel, run through ``refiner_udf``."""

import pytest
from pyspark.sql import functions as F

from dataflow_spark.functions.refiners import REFINERS, apply_refiner, refiner_udf
from tests import reference_kernels as RK

CHECKED = {
    "remove_extra_spaces": RK.remove_extra_spaces,
    "lowercase": RK.lowercase,
    "remove_emoji": RK.remove_emoji,
    "remove_html_url": RK.remove_html_url,
}


def _parity(df, name):
    return df.withColumn("text", refiner_udf(name)(F.col("text")))


def _run(spark_df, name, mode):
    out = (
        (apply_refiner(spark_df, name) if mode == "native" else _parity(spark_df, name))
        .select("rid", "text")
        .toPandas()
        .sort_values("rid")
        .reset_index(drop=True)
    )
    return out["text"].tolist()


@pytest.mark.parametrize("name", sorted(CHECKED))
@pytest.mark.parametrize("mode", ["native", "parity"])
def test_refiner_matches_reference(corpus_df, corpus_pdf, name, mode):
    expected = CHECKED[name](corpus_pdf["text"].tolist())
    got = _run(corpus_df, name, mode)
    assert got == expected


@pytest.mark.parametrize("name", sorted(REFINERS))
def test_native_equals_parity(corpus_df, name):
    a = _run(corpus_df, name, "native")
    b = _run(corpus_df, name, "parity")
    assert a == b


def test_ccnet_normalize_canonical(spark):
    """Pins the CCNet chain (Kenlm/model.py:120-143 defaults) on inputs
    that exercise every stage: strip, digits→0 (incl. fullwidth, which
    the reference's \\d converts BEFORE the punct table — so the '１'
    table entry stays dead code here too), punct map, non-printing."""
    import pandas as pd

    from dataflow_spark.functions.refiners import REFINERS

    cases = {
        "  Year 2024, «quote» — done…  ": 'Year 0000, "quote"  -  done...',
        "１２３ yen ～ ok！": "000 yen ~ ok!",
        "tab\x07bell «x»": 'tabbell "x"',
        "（a；b）５０％": "(a;b)00%",
        # Unicode Cf format chars (soft hyphen, ZWSP, RTL mark, BOM) are
        # category-C and must die in the non-printing stage like cc_net's
        # remove_non_printing_char
        "a­b​c‏d﻿e ok": "abcde ok",
    }
    r = REFINERS["ccnet_normalize"]
    kern = r.kernel(pd.Series(list(cases))).tolist()
    assert kern == list(cases.values())
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(t,) for t in cases], "text string")
    nat = [x["n"] for x in df.select(r.native(F.col("text")).alias("n")).collect()]
    assert nat == list(cases.values())


def test_null_text_stays_null(spark):
    rows = [("c", 0, "user", None, "", None)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    for name in REFINERS:
        out = _parity(df, name).select("text").first()[0]
        assert out is None, name


def test_lemmatize_canonical(spark):
    from dataflow_spark.functions.lemmatizer import lemmatize_text

    cases = {
        "children feet mice women data": "child foot mouse woman datum",
        # 'quizz' is not a lexicon noun, so morphy-style gating leaves
        # 'quizzes' untouched (NLTK does the same — r4's blind-rule
        # 'quizz' delta is closed)
        "boxes churches wishes quizzes": "box church wish quizzes",
        # 'ties' is len-4 so the ies-rule (len>=5) skips it; the final
        # -s rule strips to 'tie' ('tie' is a lexicon noun)
        "cities bodies ties": "city body tie",
        "cats dogs glass bus analysis": "cat dog glass bus analysis",
        # lexicon membership: 'specimen' is itself a noun (the men-rule
        # candidate 'speciman' is not), 'give'/'say' are nouns so the
        # -s rule fires — all three now match NLTK
        "specimen gives says": "specimen give say",
        # no lexicon-backed candidate -> unchanged, like morphy on
        # out-of-WordNet words
        "news species glomps": "news species glomps",
        "Hello WORLD 123 dogs,": "Hello WORLD 123 dogs,",
    }
    for src, want in cases.items():
        got = lemmatize_text(src)
        assert got == want, (src, got, want)

    # native == kernel on the same inputs
    from dataflow_spark.functions.refiners import REFINERS
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)], "i long, text string")
    both = df.select(
        REFINERS["lemmatize"].native(F.col("text")).alias("n"),
        REFINERS["lemmatize"].kernel is not None and F.lit(1).alias("x"),
        F.col("text"),
    ).collect()
    import pandas as pd

    kern = REFINERS["lemmatize"].kernel(pd.Series(list(cases))).tolist()
    assert [r.n for r in both] == kern


def test_spelling_canonical():
    from dataflow_spark.functions.spelling import correct_text, default_symspell

    s = default_symspell()
    assert s.correct("teh") == "the"
    assert s.correct("wrld") == "world"
    assert s.correct("informaton") == "information"
    assert s.correct("xyzzyq") == "xyzzyq"  # out of dictionary -> unchanged
    assert s.correct("search") == "search"  # already correct
    # transposition (OSA) within distance 2
    assert s.correct("sserach") == "search"
    # case/short/punctuated tokens pass through
    assert correct_text("Teh teh a xy 42") == "Teh the a xy 42"


def test_split_tokens_and_recursive_shapes(spark):
    from dataflow_spark.operators.splitter import split_recursive, split_tokens

    long_doc = ("word " * 300).strip()
    paras = "short para.\n\n" + ("sentence one is here. " * 12) + "\n\n" + "x" * 300
    df = spark.createDataFrame(
        [(0, long_doc), (1, paras), (2, None), (3, "tiny")],
        "doc_id long, text string",
    )
    tok = split_tokens(df, chunk_size=48, overlap=8).toPandas()
    # overlap: consecutive chunks share text; chunks reconstruct words
    assert (tok[tok.doc_id == 0].chunk.str.len() > 0).all()
    assert tok[tok.doc_id == 3].chunk.tolist() == ["tiny"]
    assert 2 not in set(tok.doc_id)

    rec = split_recursive(df, chunk_size=120).toPandas()
    assert (rec.chunk.str.len() <= 120).all()
    assert rec[rec.doc_id == 1].chunk.iloc[0] == "short para."
    assert rec[rec.doc_id == 3].chunk.tolist() == ["tiny"]


def test_ner_mask_canonical(spark):
    from pyspark.sql import functions as F

    from dataflow_spark.functions.refiners import REFINERS

    src = "John visited Paris on January 5, 2020 at 12:30 spending $45.50 (12% off)"
    want = ("[PERSON] visited [GPE] on [DATE] at [TIME] spending [MONEY] "
            "([PERCENT] off)")
    import pandas as pd

    r = REFINERS["ner_mask"]
    assert r.kernel(pd.Series([src])).iloc[0] == want
    df = spark.createDataFrame([(src,)], "text string")
    assert df.select(r.native(F.col("text")).alias("t")).first().t == want


def test_split_semantic_groups_cohesive_sentences(spark):
    from dataflow_spark.operators.splitter import split_semantic

    text = (
        "the cat sat on the mat. the cat ate the mat food. "
        "quantum physics involves entangled particles. "
        "entangled particles defy quantum locality."
    )
    df = spark.createDataFrame([(0, text), (1, None), (2, "one sentence.")],
                               "doc_id long, text string")
    out = split_semantic(df, threshold=0.15).toPandas()
    c0 = out[out.doc_id == 0].sort_values("chunk_idx").chunk.tolist()
    assert len(c0) == 2  # topic shift splits cat-chunk from quantum-chunk
    assert "cat" in c0[0] and "quantum" in c0[1]
    assert out[out.doc_id == 2].chunk.tolist() == ["one sentence."]
    assert 1 not in set(out.doc_id)


def test_html_to_markdown_canonical():
    import pandas as pd

    from dataflow_spark.functions.refiners import REFINERS

    cases = [
        ("<h2>Title</h2><p>Hello <b>world</b> &amp; friends</p>",
         "## Title\n\nHello **world** & friends"),
        ("<ul><li>one</li><li><i>two</i></li></ul>", "- one\n- *two*"),
        ('before <a href="http://x.y/z">click</a> after',
         "before [click](http://x.y/z) after"),
        ("<script>evil()</script>keep<style>p{}</style>", "keep"),
        ("a<br>b<br/>c", "a\nb\nc"),
        ("<code>x=1</code> and <!-- hidden -->text", "`x=1` and text"),
        ("plain text is untouched", "plain text is untouched"),
    ]
    got = REFINERS["html_to_markdown"].kernel(pd.Series([c for c, _ in cases]))
    assert got.tolist() == [e for _, e in cases]


def test_html_to_markdown_fuzz_batch(spark):
    """300 seeded random tag-soup strings (unclosed tags, nested markup,
    entities, comments, attribute junk) through the Catalyst chain vs the
    pandas kernel in one Spark pass — guards Java-vs-Python regex
    divergence in the new rule table."""
    import random

    import pandas as pd
    from pyspark.sql import functions as F

    from dataflow_spark.functions.refiners import REFINERS

    rng = random.Random(41)
    pool = [
        "<h1>", "</h1>", "<h3 class='x'>", "</h3>", "<p>", "</p>", "<br>",
        "<br/>", "<b>", "</b>", "<strong>", "</strong>", "<i>", "</i>",
        "<em>", "</em>", "<code>", "</code>", "<ul>", "</ul>", "<li>",
        "</li>", '<a href="http://x.y/z">', "</a>", "<script>", "</script>",
        "<style>", "</style>", "<!--", "-->", "<div id=1>", "</div>",
        "&amp;", "&lt;", "&gt;", "&quot;", "&#39;", "&nbsp;", "text", "word",
        " ", "\n", "\t", "<", ">", '"', "'",
    ]
    cases = [
        "".join(rng.choice(pool) for _ in range(rng.randrange(0, 40)))
        for _ in range(300)
    ]
    kernel = REFINERS["html_to_markdown"].kernel(pd.Series(cases)).tolist()
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i long, t string")
    native = {
        r.i: r.o
        for r in df.select(
            "i", REFINERS["html_to_markdown"].native(F.col("t")).alias("o")
        ).collect()
    }
    for i, c in enumerate(cases):
        assert native[i] == kernel[i], f"case {i}: {c!r}"


def test_html_to_markdown_fuzz_duckdb():
    """The same tag-soup fuzz against the DuckDB transcription of the rule
    table (the driver-oracle path) — RE2 vs Python regex agreement."""
    import random

    import duckdb
    import pandas as pd

    from dataflow_spark.entry_queries import _html_md_oracle_expr
    from dataflow_spark.functions.refiners import REFINERS

    rng = random.Random(42)
    pool = [
        "<h2>", "</h2>", "<p>", "</p>", "<br/>", "<b>", "</b>", "<em>",
        "</em>", "<code>", "</code>", "<li>", "</li>", "<ul>", "</ul>",
        '<a href="http://q.r/s">', "</a>", "<script>", "</script>", "<!--",
        "-->", "&amp;", "&lt;", "&nbsp;", "txt", " ", "\n", "<", ">",
    ]
    cases = [
        "".join(rng.choice(pool) for _ in range(rng.randrange(0, 40)))
        for _ in range(300)
    ]
    kernel = REFINERS["html_to_markdown"].kernel(pd.Series(cases)).tolist()
    con = duckdb.connect()
    con.register("cases_df", pd.DataFrame({"text": cases}))
    duck = con.execute(
        f"SELECT {_html_md_oracle_expr('text')} AS o FROM cases_df"
    ).df()["o"].tolist()
    for i, c in enumerate(cases):
        assert duck[i] == kernel[i], f"case {i}: {c!r}"


def _pii_fuzz_cases(seed, n=300):
    """Seeded strings stitched from PII-shaped and near-miss fragments:
    exact recognizer hits, boundary-adjacent junk, partial matches, and
    overlapping shapes (an email inside a URL, digit runs one short/long
    of a card). ASCII-only on purpose — \\b is ASCII in RE2 and in
    Java's default regex mode but Unicode-aware in Python re, so the
    shared input domain for the rule table is ASCII word chars."""
    import random

    rng = random.Random(seed)
    pool = [
        "call me", " at ", "x", "9", "\n", ".", "-", " ", "(", ")", "+",
        "@", "http://a.b/c?d=1", "https://e.f", "http:/broken",
        "bob@example.com", "bob@@no.com", "@nouser.com", "bob@nodot",
        "4111 1111 1111 1111", "4111-1111-1111-1111", "4111111111111111",
        "411111111111111",  # 15 digits: not a card
        "123-45-6789", "123-456-789",  # ssn / near-miss
        "10.0.0.1", "999.999.999.999", "1.2.3", "1.2.3.4.5",
        "555-123-4567", "(555) 123 4567", "+1 555.123.4567", "555 1234",
        "word9word", "a1b2c3",
    ]
    return [
        "".join(rng.choice(pool) for _ in range(rng.randrange(0, 12)))
        for _ in range(n)
    ]


def test_redact_pii_fuzz_spark(spark):
    """Cross-engine fuzz of the neutral PII rule table
    (resources/pii_patterns.json): Catalyst regexp_replace chain (Java
    regex) vs the Python-re pandas kernel on 300 seeded PII-soup strings
    — a rule edit that parses differently across engines fails here, not
    in a driver round."""
    import pandas as pd
    from pyspark.sql import functions as F

    from dataflow_spark.functions.refiners import REFINERS

    cases = _pii_fuzz_cases(43)
    kernel = REFINERS["redact_pii"].kernel(pd.Series(cases)).tolist()
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i long, t string"
    )
    native = {
        r.i: r.o
        for r in df.select(
            "i", REFINERS["redact_pii"].native(F.col("t")).alias("o")
        ).collect()
    }
    for i, c in enumerate(cases):
        assert native[i] == kernel[i], f"case {i}: {c!r}"


def test_redact_pii_fuzz_duckdb():
    """Same PII-soup fuzz against the DuckDB transcription of the rule
    table (entry_queries._pii_oracle_expr — the driver-oracle path):
    RE2 vs Python regex agreement on independently parsed rules."""
    import duckdb
    import pandas as pd

    from dataflow_spark.entry_queries import _pii_oracle_expr
    from dataflow_spark.functions.refiners import REFINERS

    cases = _pii_fuzz_cases(44)
    kernel = REFINERS["redact_pii"].kernel(pd.Series(cases)).tolist()
    con = duckdb.connect()
    con.register("cases_df", pd.DataFrame({"text": cases}))
    duck = con.execute(
        f"SELECT {_pii_oracle_expr()} AS o FROM cases_df"
    ).df()["o"].tolist()
    for i, c in enumerate(cases):
        assert duck[i] == kernel[i], f"case {i}: {c!r}"


def test_c4_line_refiners(spark):
    """dedup_doc_lines keeps first occurrences in order; c4_line_punct
    keeps only terminal-punctuation lines; native == kernel on both."""
    import pandas as pd
    from pyspark.sql import functions as F

    from dataflow_spark.functions.refiners import REFINERS

    cases = [
        "keep me.\nkeep me.\nother line!\nno punct line\nkeep me.",
        "single line no punct",
        'quoted end."\nbare',
        "",
        None,
    ]
    dd, cp = REFINERS["dedup_doc_lines"], REFINERS["c4_line_punct"]

    k1 = dd.kernel(pd.Series(cases)).tolist()
    assert k1[0] == "keep me.\nother line!\nno punct line"
    k2 = cp.kernel(pd.Series(k1)).tolist()
    assert k2[0] == "keep me.\nother line!"
    assert k2[1] == ""
    assert k2[2] == 'quoted end."'

    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i long, t string"
    )
    got = {
        r["i"]: r["o"]
        for r in df.select(
            "i", cp.native(dd.native(F.col("t"))).alias("o")
        ).collect()
    }
    for i, want in enumerate(k2):
        assert got[i] == want, (i, got[i], want)
