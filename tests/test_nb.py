"""Corpus-trained multinomial Naive Bayes: distributed join/fold scoring
must equal the sequential dict-loop kernel (counts, smoothing, token-order
accumulation, tie-break) and actually discriminate classes."""

import pandas as pd
import pytest

from dataflow_spark.operators import nb as NB
from dataflow_spark.operators.nb import nb_classify
from tests.reference_kernels import nb_classify_seq


def _corpus():
    rows = []
    themes = {
        "sport": "game team goal score player match win season league coach",
        "tech": "code server bug compile deploy cluster query engine shard",
        "food": "recipe bake flour oven sauce garlic onion simmer taste dish",
    }
    import random

    rnd = random.Random(5)
    for i in range(90):
        lab = ["sport", "tech", "food"][i % 3]
        words = themes[lab].split()
        other = themes[["sport", "tech", "food"][(i + 1) % 3]].split()
        n = rnd.randint(4, 12)
        toks = [rnd.choice(words) for _ in range(n)] + [rnd.choice(other)]
        rows.append((i, lab, " ".join(toks)))
    rows.append((90, "sport", ""))  # token-less: prior-only argmax
    rows.append((91, "tech", None))
    return pd.DataFrame(rows, columns=["doc_id", "source", "text"])


def test_nb_matches_sequential(spark):
    pdf = _corpus()
    df = spark.createDataFrame(pdf)
    got = {
        r["doc_id"]: (r["pred_label"], r["score"])
        for r in nb_classify(df, "doc_id", "source").collect()
    }
    exp = nb_classify_seq(pdf["text"].tolist(), pdf["source"].tolist())
    assert len(got) == len(pdf)
    for i, (escore, elab) in enumerate(exp):
        glab, gscore = got[i]
        assert glab == elab, (i, glab, elab)
        assert gscore == pytest.approx(escore, abs=2e-6), i

    # the model genuinely discriminates: self-accuracy far above chance
    labels = pdf["source"].tolist()
    acc = sum(got[i][0] == labels[i] for i in range(90)) / 90
    assert acc > 0.8
    # prior-only rows get the majority/tie-broken class deterministically
    assert got[90][0] == exp[90][1] and got[91][0] == exp[91][1]


def test_nb_no_python_in_plan(spark, monkeypatch):
    """The distributed join plan (the unbounded-vocabulary path) stays
    Python-free; the r7 local path is deliberately ONE ArrowEvalPython
    narrow map (vectorized, not row-at-a-time) and must agree with the
    join plan value-for-value — both pinned here."""
    df = spark.createDataFrame(_corpus())
    with monkeypatch.context() as m:  # cap 0: every table is over it
        m.setattr(NB, "NB_LOCAL_MAX_WC_ROWS", 0)
        joined = nb_classify(df, "doc_id", "source")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert marker not in plan

    local = nb_classify(df, "doc_id", "source")  # auto -> local here
    lplan = local._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in lplan and "Exchange" not in lplan
    key = ["doc_id"]
    a = joined.toPandas().sort_values(key).reset_index(drop=True)
    b = local.toPandas()[a.columns.tolist()].sort_values(key).reset_index(drop=True)
    assert a.equals(b)


def test_nb_chargram_features(spark):
    """Custom feature space: char-trigram NB separates classes with
    distinct character distributions perfectly; the local Arrow path and
    the join plan agree value-for-value; len<3 texts get the prior-only
    argmax; trigram extraction handles the empty/short edge."""
    from pyspark.sql import functions as F

    from dataflow_spark.operators.nb import (
        char_trigrams_expr,
        char_trigrams_kernel,
        nb_classify,
    )

    rows = []
    for i in range(60):
        rows.append((i, "the quick brown fox jumps over " + f"pad{i % 7}", "latin"))
        rows.append((1000 + i, "zzz qqq xxx vvv kkk www " + f"zz{i % 7}", "consonant"))
    rows.append((9000, "ab", "latin"))  # < 3 chars -> prior-only
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    local = nb_classify(
        df, "doc_id", "lang",
        features=char_trigrams_expr, features_kernel=char_trigrams_kernel,
    )
    # features without their Python kernel: the join plan
    joinp = nb_classify(df, "doc_id", "lang", features=char_trigrams_expr)
    lrows = {r["doc_id"]: (r["pred_label"], r["score"]) for r in local.collect()}
    jrows = {r["doc_id"]: (r["pred_label"], r["score"]) for r in joinp.collect()}
    assert lrows == jrows

    # trigram extraction: empty-safe
    tk = df.filter(F.col("doc_id") == 9000).select(
        char_trigrams_expr(F.col("text")).alias("tk")
    ).first().tk
    assert tk == []
    assert char_trigrams_kernel("ab") == []
    assert char_trigrams_kernel("abcd") == ["abc", "bcd"]

    hits = sum(
        1 for i, (p, _) in lrows.items()
        if i != 9000 and p == ("latin" if i < 1000 else "consonant")
    )
    assert hits == 120
    assert lrows[9000][0] == "latin"  # prior-only argmax (61 vs 60 docs)
