"""Deterministic per-row scorers / text-analysis kernels.

Reference archetype: scorer appends a score column
(/root/reference/dataflow/eval/statistics/ngram_scorer.py:38-50 et al.).
Model/LLM-backed reference scorers are replaced by deterministic heuristics
(the north star's "heuristic quality scores"); the deterministic ones
(NgramScorer, LexicalDiversityScorer) keep the reference's algorithm.

Native Catalyst expressions wherever expressible; Arrow pandas_udfs for the
iterative algorithms (MTLD/HDD, winnowing).
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataflow_spark.functions import text as X
from dataflow_spark.functions.sparkutil import bind, is_member

# ------------------------------------------------------------- ngram score


def ngram_score_native(c: Column, n: int = 5) -> Column:
    """unique word-n-grams / total word-n-grams on normalized text
    (lowercase, ASCII punctuation stripped). 1.0 when fewer than n tokens —
    "no repetition". Reference: eval/statistics/ngram_scorer.py:38-50.

    The token array is bound once (``sparkutil.bind``; Catalyst does NOT
    eliminate common subexpressions across lambda bodies — without this,
    tokenization re-runs once per gram, O(words x split)).
    """
    norm = F.translate(F.lower(F.coalesce(c, F.lit(""))), X.PUNCTUATION, "")
    toks_expr = F.filter(F.split(F.trim(norm), r"\s+"), lambda x: x != "")

    def score_of(toks: Column) -> Column:
        k = F.size(toks) - (n - 1)
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(k, F.lit(0))),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
        return F.when(k <= 0, F.lit(1.0)).otherwise(
            F.size(F.array_distinct(grams)).cast("double") / F.size(grams)
        )

    return bind(toks_expr, score_of)


def ngram_score_kernel(s: pd.Series, n: int = 5) -> pd.Series:
    table = str.maketrans("", "", X.PUNCTUATION)

    def score(v: str) -> float:
        toks = v.lower().translate(table).split()
        if len(toks) < n:
            return 1.0
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        return len(set(grams)) / len(grams)

    return s.fillna("").map(score).astype("float64")


# ------------------------------------------------------ lexical diversity


def _mtld_one_direction(toks: list[str], threshold: float) -> float:
    factors = 0.0
    types: set[str] = set()
    count = 0
    for tok in toks:
        count += 1
        types.add(tok)
        if len(types) / count <= threshold:
            factors += 1.0
            types.clear()
            count = 0
    if count > 0:
        ttr = len(types) / count
        if ttr < 1.0:
            factors += (1.0 - ttr) / (1.0 - threshold)
    if factors == 0:
        return float(len(toks))
    return len(toks) / factors


def mtld(toks: list[str], threshold: float = 0.72) -> float:
    """Measure of Textual Lexical Diversity (McCarthy & Jarvis 2010):
    mean of forward and backward factor-count passes. Reference:
    eval/statistics/lexical_diversity_scorer.py:13-46."""
    if not toks:
        return 0.0
    fwd = _mtld_one_direction(toks, threshold)
    bwd = _mtld_one_direction(toks[::-1], threshold)
    return (fwd + bwd) / 2.0


def hdd(toks: list[str], sample_size: int = 42) -> float:
    """HD-D lexical diversity (hypergeometric distribution D). Reference:
    eval/statistics/lexical_diversity_scorer.py:70-89."""
    n_tokens = len(toks)
    if n_tokens < sample_size:
        return 0.0
    from collections import Counter

    counts = Counter(toks)
    total = 0.0
    for freq in counts.values():
        if n_tokens - freq >= sample_size:
            # P(X=0) = C(n-f, k)/C(n, k) as a left-to-right product of k
            # double terms — matches the SQL oracle's list product
            # term-for-term. The OUTER sum iterates Counter insertion
            # order while the oracle sums DuckDB list_distinct order, so
            # the total can differ in the last ulp: threshold consumers
            # must compare on round(hdd, 9) (lexical_diversity_filter does)
            p_zero = 1.0
            for i in range(sample_size):
                p_zero *= (n_tokens - freq - i) / (n_tokens - i)
        else:
            p_zero = 0.0
        total += (1.0 - p_zero) / sample_size
    return total


def lexical_diversity_udf():
    schema = T.StructType(
        [T.StructField("mtld", T.DoubleType()), T.StructField("hdd", T.DoubleType())]
    )

    @F.pandas_udf(schema)
    def _udf(s: pd.Series) -> pd.DataFrame:
        toks = s.fillna("").str.lower().str.split()
        return pd.DataFrame(
            {"mtld": toks.map(mtld).astype("float64"), "hdd": toks.map(hdd).astype("float64")}
        )

    return _udf


# ------------------------------------------------------------ language id


def lang_id_native(c: Column) -> Column:
    """Stopword-hit language ID over {en,de,fr,es}. Deterministic argmax
    with fixed priority order en>de>fr>es; 'unknown' when no hits.
    (Heuristic stand-in for the reference's fastText LanguageFilter,
    filter/language_filter.py:61-65.)"""
    toks = F.transform(
        F.filter(F.split(F.trim(F.coalesce(c, F.lit(""))), r"\s+"), lambda x: x != ""),
        F.lower,
    )
    def _hit_count(lang: str) -> Column:
        # NB: the lambda must take exactly one arg — Spark treats two-arg
        # lambdas in higher-order functions as (element, index).
        return F.size(F.filter(toks, lambda x: is_member(x, X.LANG_STOPWORDS[lang])))

    hits = {lang: _hit_count(lang) for lang in ("en", "de", "fr", "es")}
    c_en, c_de, c_fr, c_es = hits["en"], hits["de"], hits["fr"], hits["es"]
    return (
        F.when((c_en > 0) & (c_en >= c_de) & (c_en >= c_fr) & (c_en >= c_es), "en")
        .when((c_de > 0) & (c_de >= c_fr) & (c_de >= c_es), "de")
        .when((c_fr > 0) & (c_fr >= c_es), "fr")
        .when(c_es > 0, "es")
        .otherwise("unknown")
    )


def lang_id_kernel(s: pd.Series) -> pd.Series:
    sets = {k: X.LANG_STOPWORDS[k] for k in ("en", "de", "fr", "es")}

    def pred(v: str) -> str:
        toks = [t.lower() for t in v.split()]
        counts = {k: sum(1 for t in toks if t in ws) for k, ws in sets.items()}
        for k in ("en", "de", "fr", "es"):
            if counts[k] > 0 and counts[k] == max(counts.values()):
                return k
        return "unknown"

    return s.fillna("").map(pred)


# ----------------------------------------------------------- token counts


def token_count_exprs(c: Column) -> dict[str, Column]:
    """Whitespace token count, char count, and a BPE-ish subword estimate
    (ceil(chars/4) — the classic ~4-chars-per-token heuristic). Deterministic
    stand-in for the reference's tokenizer-based ToKenInfo
    (reasoning/eval/token_info.py:9)."""
    cc = F.coalesce(c, F.lit(""))
    toks = F.regexp_count(cc, F.lit(r"\S+"))  # == whitespace token count, codegen-able
    chars = F.length(cc)
    return {
        "n_tokens_ws": toks,
        "n_chars": chars,
        "n_tokens_bpe_est": F.ceil(chars.cast("double") / 4.0).cast("int"),
    }


# ---------------------------------------------------------- quality score


def quality_score_native(c: Column) -> Column:
    """Composite deterministic quality score in [0,1]: length, stopword
    presence, capitalization sanity, symbol density. (Heuristic stand-in for
    the reference's model-based quality scorers, SURVEY.md §2.4.)

    q = 0.3*min(1, words/50) + 0.3*min(1, 5*stop_ratio)
      + 0.2*(1 - caps_ratio) + 0.2*max(0, 1 - 10*symbol_ratio)

    The token array is bound once (``sparkutil.bind``): higher-order lambdas are evaluated
    interpreted and Catalyst does not share subexpressions across lambda
    bodies, so without the binding the whitespace split would run three
    times per row (token count, stopword pass, caps pass). Values are
    unchanged — the identical ops run on the identical array, once.
    """
    cc = F.coalesce(c, F.lit(""))
    toks_expr = F.filter(F.split(F.trim(cc), r"\s+"), lambda x: x != "")
    sym = (
        F.regexp_count(cc, F.lit("#"))
        + F.regexp_count(cc, F.lit(r"\.\.\."))
        + F.regexp_count(cc, F.lit("…"))
    )

    def score_of(toks: Column, sym_n: Column) -> Column:
        n = F.size(toks)
        stop_hits = F.size(F.filter(toks, lambda x: is_member(F.lower(x), X.STOPWORDS)))
        caps = F.size(F.filter(toks, lambda x: (x == F.upper(x)) & x.rlike("[A-Za-z]")))
        nz = F.when(n > 0, n.cast("double"))
        stop_ratio = stop_hits / nz
        caps_ratio = caps / nz
        sym_ratio = sym_n / nz
        q = (
            0.3 * F.least(F.lit(1.0), n / F.lit(50.0))
            + 0.3 * F.least(F.lit(1.0), 5.0 * stop_ratio)
            + 0.2 * (1.0 - caps_ratio)
            + 0.2 * F.greatest(F.lit(0.0), 1.0 - 10.0 * sym_ratio)
        )
        return F.when(n > 0, q).otherwise(F.lit(0.0))

    return bind(F.struct(toks_expr.alias("t"), sym.alias("s")),
                lambda r: score_of(r["t"], r["s"]))


# ----------------------------------------------------------- fingerprints


def fingerprint_md5_native(c: Column) -> Column:
    """Document fingerprint: md5 of normalized text (lowercase, whitespace
    runs collapsed, trimmed)."""
    norm = F.trim(F.regexp_replace(F.lower(F.coalesce(c, F.lit(""))), r"\s+", " "))
    return F.md5(norm)


def winnowing_fingerprints_native(c: Column, k: int = 8, w: int = 16) -> Column:
    """Winnowing document fingerprint (Schleimer et al., SIGMOD'03):
    char k-gram hashes, per-window minima, distinct sorted selection.

    Fully Catalyst-native (no Python): k-gram hash = first 15 hex chars of
    md5(k-gram) parsed as int64 — identical in any engine with md5, which
    is what makes the DuckDB oracle exact. Text is normalized first
    (lowercase, whitespace runs collapsed, trimmed). Documents shorter
    than ``k`` chars yield an empty fingerprint array."""
    # Catalyst does not CSE across lambda boundaries — an array expression
    # referenced inside transform() is RE-EVALUATED per element (O(m²)
    # blowup). Bind each intermediate once.
    empty = F.array().cast("array<bigint>")
    norm = F.trim(F.regexp_replace(F.lower(F.coalesce(c, F.lit(""))), r"\s+", " "))

    def over_norm(nrm: Column) -> Column:
        n = F.length(nrm)
        hashes = F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.conv(
                F.substring(F.md5(F.substring(nrm, i, F.lit(k))), 1, 15), 16, 10
            ).cast("long"),
        )

        def over_hashes(hs: Column) -> Column:
            m = F.size(hs)
            minima = F.when(m <= w, F.array(F.array_min(hs))).otherwise(
                F.transform(
                    F.sequence(F.lit(1), m - (w - 1)),
                    lambda i: F.array_min(F.slice(hs, i, F.lit(w))),
                )
            )
            return F.array_sort(F.array_distinct(minima))

        return F.when(n < k, empty).otherwise(bind(hashes, over_hashes))

    return bind(norm, over_norm)
