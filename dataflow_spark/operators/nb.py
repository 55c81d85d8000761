"""Corpus-trained multinomial Naive Bayes classifier.

The reference's classifier operators are LLM/model-served (the ~15
model-backed filters and the Category/Difficulty classifier family,
e.g. general_text/filter/*, reasoning/generate/category_classifier.py)
— no weights ship in this environment, so per the engine doctrine (the
same one that produced the bigram/KN LMs and the BPE tokenizer) the
classifier itself is TRAINED on the corpus with exact-integer counts
and add-1 smoothing, giving a real supervised model with an exact
DuckDB oracle:

    score(c | doc) = ln(n_docs_c / n_docs)
                   + Σ_i ln((count(c, w_i) + 1) / (n_tok_c + V))

Counts are distributed aggregations (map-side combinable); per-document
log terms fold IN TOKEN ORDER (the LM discipline) so the sum is the
same IEEE sequence in Spark and DuckDB; the argmax breaks ties on the
smallest label. When the trained (label, word) table is driver-sized
(``driver_sized`` against ``NB_LOCAL_MAX_WC_ROWS``), scoring is one
pre-folded Arrow map (``nb_local_scorer``). Above the cap, scoring
explodes tokens × classes (a broadcast of the tiny class table) and
joins the class-conditional count table — one shuffle on (label,
token), AQE-sized. At 100 TB the levers are the standard ones: the count
tables are vocabulary×C-sized (not corpus), train on a
``sample_hash_fraction`` slice, and prune scoring to a candidate class
subset when C is large. Tests reach the join plan by lowering the cap.

Plan-shape note (measured, r5): an alternative formulation that avoids
the tokens×C row blowup — per-token log-prob VECTORS via a word→map
join, folded elementwise with zip_with — was built and benchmarked at
sf0.1/C=20 and came out ~30% SLOWER than this narrow-row form: the
nested higher-order-function chain (array_sort + per-token zip_with
allocations) codegens worse than Tungsten's narrow-row hash aggregate,
and shuffle bytes are comparable (a (token,label,double) row vs a
C-double array amortize the same). Kept the measured winner.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dataflow_spark.functions.sparkutil import driver_sized
from dataflow_spark.operators.lm import _track, py_tokens, token_order_sum, tokens_expr


def char_trigrams_expr(c):
    """Character-trigram feature array (the fastText-style lang-id
    feature space): all 3-char windows of the lowercased text. Exactly
    replayable in SQL (1-based substr windows, identical in DuckDB)."""
    s = F.lower(F.coalesce(c, F.lit("")))
    n = F.length(s) - F.lit(2)
    # guard: Spark's sequence(1, n) runs DESCENDING when n < 1
    return F.when(
        n >= 1,
        F.transform(F.sequence(F.lit(1), n), lambda i: s.substr(i, F.lit(3))),
    ).otherwise(F.array().cast("array<string>"))


def char_trigrams_kernel(t: str) -> list:
    """Python twin of char_trigrams_expr for the local Arrow scorer."""
    t = ("" if t is None else t).lower()
    return [t[i : i + 3] for i in range(len(t) - 2)]


def nb_train(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    persists: list | None = None,
    features=None,
):
    """→ (word_counts[label,w,c], class_stats[label,n_tok,n_docs],
    n_docs_total). One token explode; every other table derives from the
    cached (label, word) TYPE table or a metadata-cheap groupBy. Pass
    ``persists`` to receive the cached handle; release it with
    ``lm.release_persists`` after materializing results. ``features``
    (Column → array<string>) swaps the feature space — word tokens by
    default, e.g. ``char_trigrams_expr`` for a character-level model.
    V (distinct words) is left to the caller: ``len({w})`` of the
    collected table on the local path, a distinct count otherwise."""
    feats = features or tokens_expr
    toks = df.select(
        F.col(label_col).alias("label"),
        F.explode(feats(F.col(text_col))).alias("w"),
    )
    wc = _track(toks.groupBy("label", "w").agg(F.count(F.lit(1)).alias("c")), persists)
    cs = wc.groupBy("label").agg(F.sum("c").alias("n_tok"))
    dc = df.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    cls = cs.join(dc, "label")
    n_total = df.count()
    return wc, cls, n_total


def nb_classify(
    df: DataFrame,
    id_col: str,
    label_col: str,
    text_col: str = "text",
    round_to: int | None = 6,
    persists: list | None = None,
    features=None,
    features_kernel=None,
) -> DataFrame:
    """(id, pred_label, score) — the model is trained on ``df`` itself
    (labels from ``label_col``), then every row is scored against every
    class and assigned the argmax (ties → smallest label). Token-less
    documents get the prior-only argmax.

    When the trained (label, word) table is driver-sized (at most
    ``NB_LOCAL_MAX_WC_ROWS`` rows), scoring is the pre-folded Arrow
    scorer (``nb_local_scorer``) — one narrow map, no tokens×C explode,
    no (label, token) shuffle — producing the identical values (the
    DuckDB oracle pins both paths). Above the cap the distributed join
    plan runs, the unbounded-vocabulary path.

    ``features``/``features_kernel`` swap the feature space (Column →
    array<string> expression + its Python twin for the local path);
    supplying ``features`` without its kernel keeps the join plan."""
    wc, cls, n_total = nb_train(df, label_col, text_col, persists, features)
    if features is None or features_kernel is not None:
        rows = driver_sized(wc, NB_LOCAL_MAX_WC_ROWS)
        if rows is not None:
            udf = nb_local_scorer(
                rows, cls.collect(), len({r["w"] for r in rows}), n_total,
                tokenizer=features_kernel,
            )
            out = df.select(
                F.col(id_col), udf(F.col(text_col)).alias("__s")
            ).select(
                id_col,
                F.col("__s.pred_label").alias("pred_label"),
                F.col("__s.score").alias("score"),
            )
            if round_to is not None:
                out = out.withColumn("score", F.round("score", round_to))
            return out
    v = wc.select("w").distinct().count()
    feats = features or tokens_expr
    toks = df.select(
        F.col(id_col).alias("id"), feats(F.col(text_col)).alias("tk")
    )
    term = toks.select("id", F.posexplode("tk").alias("pos", "w"))
    scored = (
        term.crossJoin(F.broadcast(cls))
        .join(wc, ["label", "w"], "left")
        .select(
            "id",
            "label",
            "pos",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1)).cast("double")
                / (F.col("n_tok") + F.lit(v)).cast("double")
            ).alias("lp"),
        )
    )
    folded = scored.groupBy("id", "label").agg(token_order_sum().alias("s"))
    pri = cls.select(
        "label",
        F.log(
            F.col("n_docs").cast("double") / F.lit(float(n_total))
        ).alias("lpri"),
    )
    all_scores = (
        toks.select("id")
        .crossJoin(F.broadcast(pri))
        .join(folded, ["id", "label"], "left")
        .select(
            "id",
            "label",
            (F.col("lpri") + F.coalesce(F.col("s"), F.lit(0.0))).alias("score"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("label"))
    out = (
        all_scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("id").alias(id_col),
            F.col("label").alias("pred_label"),
            "score",
        )
    )
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    return out


# Above this many (label, word) count rows the model no longer counts as
# driver-sized and nb_classify keeps the distributed join plan. Real
# vocabularies are Zipf-bounded (the table is vocab x C, not corpus), so
# corpora trained on one machine sit far below this.
NB_LOCAL_MAX_WC_ROWS = 500_000


def nb_local_scorer(wc_rows, cls_rows, v: int, n_total: int, tokenizer=None):
    """Shuffle-free scoring path for MODEL-ARTIFACT-SIZED count tables:
    an Arrow-batched pandas_udf ``text -> struct<pred_label, score>``
    with the whole model pre-folded into per-word log-prob VECTORS
    (numpy C-arrays, labels ascending) shipped in the udf closure.

    Why: the join plan explodes every document tokens x C times through
    a (label, token) shuffle — at 100 TB that is the dominant cost of
    the suite's most expensive query. When the trained table is
    driver-sized the whole classifier is a pure per-row function and the
    stage becomes one narrow Arrow map.

    Exactness vs the join plan, term for term: same tokenizer
    (lowercase, CJK char-segmentation, ASCII-\\s split), same
    ``log((c + 1) / (n_tok_label + V))`` IEEE division of exact integer
    counts, same in-token-order left fold per label (numpy elementwise
    adds apply each label's additions in the identical sequence), prior
    added after the fold exactly like ``lpri + coalesce(s, 0.0)``, and
    argmax ties break to the smallest label (labels sorted ascending,
    ``argmax`` returns the first maximum). Raw scores are returned; the
    caller applies the same Spark-side F.round as the join plan (Python
    ``round`` is banker's — it must NOT round here)."""
    import math

    labels = sorted(r["label"] for r in cls_rows)
    li = {lab: i for i, lab in enumerate(labels)}
    denom = np.zeros(len(labels))
    lpri = np.zeros(len(labels))
    for r in cls_rows:
        i = li[r["label"]]
        denom[i] = float(r["n_tok"] + v)
        lpri[i] = math.log(float(r["n_docs"]) / float(n_total))
    default = np.array([math.log(1.0 / d) for d in denom])
    vecs: dict = {}
    for r in wc_rows:
        w = r["w"]
        vec = vecs.get(w)
        if vec is None:
            vec = vecs[w] = default.copy()
        i = li[r["label"]]
        vec[i] = math.log((r["c"] + 1.0) / denom[i])
    tok = tokenizer or py_tokens

    @F.pandas_udf("struct<pred_label: string, score: double>")
    def score(s: pd.Series) -> pd.DataFrame:
        preds, scores = [], []
        for t in s:
            acc = np.zeros(len(labels))
            for w in tok(t):
                acc += vecs.get(w, default)
            sc = lpri + acc
            k = int(np.argmax(sc))
            preds.append(labels[k])
            scores.append(float(sc[k]))
        return pd.DataFrame({"pred_label": preds, "score": scores})

    return score
