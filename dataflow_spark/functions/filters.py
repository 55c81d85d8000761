"""Heuristic quality filters — metric column + keep predicate.

Reference archetype (/root/reference/dataflow/operators/general_text/filter/
heuristics.py:53-57): compute a per-row metric, store it as a label column,
keep rows passing the predicate. Here each filter is:

* ``native(c) -> (metric: Column, keep: Column)`` — pure Catalyst
  expressions (higher-order array functions, regexp_count, translate…);
  whole-stage-codegen-friendly, no Python. ``with_filter_columns`` and
  ``apply_filter(s)`` always run this;
* ``kernel(s: pd.Series) -> (metric, keep)`` — vectorized pandas parity
  implementation, reached through ``filter_udf``: the reference tests
  compare ``native`` against.

Empty/null texts: metric is null/0 and the row is DROPPED by every filter
except where noted (the reference's operators would compute 0/era on empty
strings; the engine pins "null text never passes a quality filter").

Default thresholds are pinned engine constants chosen to mirror the
reference's defaults (heuristics.py per-class ``__init__`` signatures).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataflow_spark.functions import text as X

Native = Callable[[Column], tuple[Column, Column]]
Kernel = Callable[[pd.Series], tuple[pd.Series, pd.Series]]


@dataclass(frozen=True)
class TextFilter:
    name: str
    native: Native
    kernel: Kernel
    metric_type: T.DataType = field(default_factory=T.DoubleType)
    doc: str = ""


def _toks(c: Column) -> Column:
    return F.filter(F.split(F.trim(F.coalesce(c, F.lit(""))), r"\s+"), lambda x: x != "")


def _n_toks(c: Column) -> Column:
    # token COUNT without materializing the array: maximal non-whitespace
    # runs == Python str.split() token count; regexp_count stays inside
    # whole-stage codegen (higher-order functions do not)
    return F.regexp_count(F.coalesce(c, F.lit("")), F.lit(r"\S+"))


def _nonnull(c: Column) -> Column:
    # Python `text.strip() != ''` parity: Spark trim() only strips 0x20,
    # so test for any non-whitespace char instead.
    return c.isNotNull() & c.rlike(r"\S")


# ---------------------------------------------------------------- filters

def _colon_end() -> TextFilter:
    def native(c):
        m = F.endswith(F.coalesce(c, F.lit("")), F.lit(":")).cast("int")
        return m, _nonnull(c) & (m == 0)

    def kernel(s):
        m = s.fillna("").str.endswith(":").astype("int32")
        keep = s.notna() & (s.fillna("").str.strip() != "") & (m == 0)
        return m, keep

    return TextFilter("colon_end", native, kernel, T.IntegerType(),
                      "drop texts ending with ':' (heuristics.py:13-58)")


def _word_number(lo: int = 20, hi: int = 100_000) -> TextFilter:
    def native(c):
        m = _n_toks(c)
        return m, (m >= lo) & (m < hi)

    def kernel(s):
        m = X.token_count(s)
        return m, (m >= lo) & (m < hi)

    return TextFilter("word_number", native, kernel, T.IntegerType(),
                      f"keep {lo} <= wordcount < {hi} (heuristics.py:61-115)")


def _char_number(lo: int = 100) -> TextFilter:
    def native(c):
        m = F.length(F.coalesce(c, F.lit("")))
        return m, m >= lo

    def kernel(s):
        m = s.fillna("").str.len().astype("int64")
        return m, m >= lo

    return TextFilter("char_number", native, kernel, T.IntegerType(),
                      f"keep len(text) >= {lo} (heuristics.py:1283-1350)")


def _content_null() -> TextFilter:
    def native(c):
        keep = _nonnull(c)
        return keep.cast("int"), keep

    def kernel(s):
        keep = s.notna() & (s.str.strip() != "")
        return keep.astype("int32"), keep

    return TextFilter("content_null", native, kernel, T.IntegerType(),
                      "drop null/blank texts (heuristics.py:301-355)")


def _sentence_number(lo: int = 1, hi: int = 7500) -> TextFilter:
    pat = X.SENTENCE_REGEX

    def native(c):
        m = F.regexp_count(F.coalesce(c, F.lit("")), F.lit(pat))
        return m, (m >= lo) & (m <= hi)

    def kernel(s):
        m = s.fillna("").str.count(pat).astype("int32")
        return m, (m >= lo) & (m <= hi)

    return TextFilter("sentence_number", native, kernel, T.IntegerType(),
                      f"keep {lo} <= #sentences <= {hi} (heuristics.py:119-177)")


def _mean_word_length(lo: float = 3.0, hi: float = 10.0) -> TextFilter:
    def native(c):
        # non-whitespace char count WITHOUT rebuilding the string:
        # len(text) - #whitespace-chars == len(regexp_replace(text,'\s',''))
        # exactly (each \s match is one char), and regexp_count skips the
        # StringBuffer copy the replace pays per row
        cc = F.coalesce(c, F.lit(""))
        chars = F.length(cc) - F.regexp_count(cc, F.lit(r"\s"))
        words = _n_toks(c)
        m = F.when(words > 0, chars.cast("double") / words)
        return m, m.isNotNull() & (m >= lo) & (m < hi)

    def kernel(s):
        chars = s.fillna("").str.replace(r"\s", "", regex=True).str.len()
        words = X.token_count(s)
        m = (chars / words.where(words > 0)).astype("float64")
        return m, m.notna() & (m >= lo) & (m < hi)

    return TextFilter("mean_word_length", native, kernel, T.DoubleType(),
                      f"keep {lo} <= mean word length < {hi} (heuristics.py:846-919)")


def _unique_words(threshold: float = 0.1) -> TextFilter:
    # normalized = lowercase, ASCII punctuation stripped, whitespace tokens
    def native(c):
        norm = F.translate(F.lower(F.coalesce(c, F.lit(""))), X.PUNCTUATION, "")
        toks = F.filter(F.split(F.trim(norm), r"\s+"), lambda x: x != "")
        m = F.when(F.size(toks) > 0,
                   F.size(F.array_distinct(toks)).cast("double") / F.size(toks))
        return m, m.isNotNull() & (m > threshold)

    table = str.maketrans("", "", X.PUNCTUATION)

    def kernel(s):
        toks = s.fillna("").str.lower().map(lambda v: v.translate(table)).str.split()
        total = toks.str.len()
        uniq = toks.map(lambda t: len(set(t)))
        m = (uniq / total.where(total > 0)).astype("float64")
        return m, m.notna() & (m > threshold)

    return TextFilter("unique_words", native, kernel, T.DoubleType(),
                      f"keep unique/total words > {threshold} (heuristics.py:1209-1281)")


def _alpha_words(threshold: float = 0.6) -> TextFilter:
    def native(c):
        # letter-bearing token count as ONE codegen regexp_count instead
        # of an interpreted higher-order filter + a per-token rlike:
        # '\S*[a-zA-Z]\S*' matches exactly once per maximal \S+ run that
        # contains an ASCII letter (a match can't cross whitespace; the
        # leftmost attempt at a token start succeeds via backtracking iff
        # the token holds a letter, and the trailing greedy \S* always
        # extends the match to the token end, so no token double-counts).
        # Values are pinned identical to the pandas kernel by the parity
        # suite on the dirty corpus.
        cc = F.coalesce(c, F.lit(""))
        total = F.regexp_count(cc, F.lit(r"\S+"))
        alpha = F.regexp_count(cc, F.lit(r"\S*[a-zA-Z]\S*"))
        m = F.when(total > 0, alpha.cast("double") / total)
        return m, m.isNotNull() & (m > threshold)

    def kernel(s):
        toks = X.tokens(s)
        total = toks.str.len()
        import re

        pat = re.compile("[a-zA-Z]")
        alpha = toks.map(lambda t: sum(1 for w in t if pat.search(w)))
        m = (alpha / total.where(total > 0)).astype("float64")
        return m, m.notna() & (m > threshold)

    return TextFilter("alpha_words", native, kernel, T.DoubleType(),
                      f"keep letter-word ratio > {threshold} (heuristics.py:429-500)")


def _symbol_word_ratio(threshold: float = 0.4) -> TextFilter:
    # symbols: '#', '...', '…' occurrences (heuristics.py:357-427)
    def native(c):
        cc = F.coalesce(c, F.lit(""))
        sym = (
            F.regexp_count(cc, F.lit("#"))
            + F.regexp_count(cc, F.lit(r"\.\.\."))
            + F.regexp_count(cc, F.lit("…"))
        )
        words = _n_toks(c)
        m = F.when(words > 0, sym.cast("double") / words)
        return m, m.isNotNull() & (m < threshold)

    def kernel(s):
        cc = s.fillna("")
        sym = cc.str.count("#") + cc.str.count(r"\.\.\.") + cc.str.count("…")
        words = X.token_count(s)
        m = (sym / words.where(words > 0)).astype("float64")
        return m, m.notna() & (m < threshold)

    return TextFilter("symbol_word_ratio", native, kernel, T.DoubleType(),
                      f"keep symbol/word ratio < {threshold}")


def _html_entity() -> TextFilter:
    pat = X.HTML_ENTITY_REGEX

    def native(c):
        m = F.regexp_count(F.coalesce(c, F.lit("")), F.lit(pat))
        return m, _nonnull(c) & (m == 0)

    def kernel(s):
        m = s.fillna("").str.count(pat).astype("int32")
        return m, s.notna() & (s.fillna("").str.strip() != "") & (m == 0)

    return TextFilter("html_entity", native, kernel, T.IntegerType(),
                      "drop texts containing HTML entities (heuristics.py:502-571)")


def _id_card(threshold: int = 3) -> TextFilter:
    pat = "(?i)" + X.ID_CARD_REGEX

    def native(c):
        m = F.regexp_count(F.coalesce(c, F.lit("")), F.lit(pat))
        return m, m < threshold

    def kernel(s):
        import re

        p = re.compile(X.ID_CARD_REGEX, re.IGNORECASE)
        m = s.fillna("").map(lambda v: len(p.findall(v))).astype("int32")
        return m, m < threshold

    return TextFilter("id_card", native, kernel, T.IntegerType(),
                      f"keep id-card-term matches < {threshold} (heuristics.py:573-636)")


def _no_punc(threshold: int = 112) -> TextFilter:
    # max words in a punctuation-free segment (split on [.!?,;:\n])
    def native(c):
        segs = F.split(F.coalesce(c, F.lit("")), "[.!?,;:\n]")
        counts = F.transform(
            segs, lambda seg: F.size(F.filter(F.split(F.trim(seg), r"\s+"), lambda x: x != ""))
        )
        m = F.array_max(counts)
        return m, _nonnull(c) & (m <= threshold)

    def kernel(s):
        import re

        splitter = re.compile("[.!?,;:\n]")
        m = s.fillna("").map(
            lambda v: max((len(seg.split()) for seg in splitter.split(v)), default=0)
        ).astype("int32")
        return m, s.notna() & (s.fillna("").str.strip() != "") & (m <= threshold)

    return TextFilter("no_punc", native, kernel, T.IntegerType(),
                      f"keep max punctuation-free segment <= {threshold} words")


def _special_character() -> TextFilter:
    pats = X.SPECIAL_CHAR_REGEXES

    def native(c):
        cc = F.coalesce(c, F.lit(""))
        m = sum(F.regexp_count(cc, F.lit(p)) for p in pats)
        return m, _nonnull(c) & (m == 0)

    def kernel(s):
        import re

        ps = [re.compile(p) for p in pats]
        cc = s.fillna("")
        m = sum(cc.map(lambda v, _p=p: len(_p.findall(v))) for p in ps).astype("int32")
        return m, s.notna() & (cc.str.strip() != "") & (m == 0)

    return TextFilter("special_character", native, kernel, T.IntegerType(),
                      "drop texts with control/special/escape chars (heuristics.py:712-779)")


def _watermark() -> TextFilter:
    pat = "(?i)(" + "|".join(X.WATERMARK_WORDS) + ")"

    def native(c):
        m = F.regexp_count(F.coalesce(c, F.lit("")), F.lit(pat))
        return m, _nonnull(c) & (m == 0)

    def kernel(s):
        import re

        p = re.compile("(" + "|".join(X.WATERMARK_WORDS) + ")", re.IGNORECASE)
        m = s.fillna("").map(lambda v: len(p.findall(v))).astype("int32")
        return m, s.notna() & (s.fillna("").str.strip() != "") & (m == 0)

    return TextFilter("watermark", native, kernel, T.IntegerType(),
                      "drop texts containing watermark terms (heuristics.py:781-844)")


def _stop_word(threshold: float = 0.05, min_count: int = 3) -> TextFilter:
    sw = sorted(X.STOPWORDS)

    def native(c):
        from dataflow_spark.functions.sparkutil import is_member, member_map

        toks = _toks(c)
        arr = member_map(sw)
        hits = F.size(F.filter(toks, lambda x: is_member(arr, F.lower(x))))
        m = F.when(F.size(toks) > 0, hits.cast("double") / F.size(toks))
        return m, m.isNotNull() & (m > threshold) & (hits >= min_count)

    def kernel(s):
        swset = X.STOPWORDS
        toks = X.tokens(s)
        total = toks.str.len()
        hits = toks.map(lambda t: sum(1 for w in t if w.lower() in swset))
        m = (hits / total.where(total > 0)).astype("float64")
        return m, m.notna() & (m > threshold) & (hits >= min_count)

    return TextFilter("stop_word", native, kernel, T.DoubleType(),
                      f"keep stopword ratio > {threshold} and count >= {min_count}")


def _curly_bracket(threshold: float = 0.025) -> TextFilter:
    def native(c):
        cc = F.coalesce(c, F.lit(""))
        braces = F.length(cc) - F.length(F.translate(cc, "{}", ""))
        m = F.when(F.length(cc) > 0, braces.cast("double") / F.length(cc))
        return m, m.isNotNull() & (m < threshold)

    def kernel(s):
        cc = s.fillna("")
        n = cc.str.len()
        braces = cc.str.count(r"\{") + cc.str.count(r"\}")
        m = (braces / n.where(n > 0)).astype("float64")
        return m, m.notna() & (m < threshold)

    return TextFilter("curly_bracket", native, kernel, T.DoubleType(),
                      f"keep curly-brace char ratio < {threshold} (heuristics.py:1000-1062)")


def _capital_words(threshold: float = 0.2) -> TextFilter:
    def native(c):
        toks = _toks(c)
        caps = F.size(
            F.filter(toks, lambda x: (x == F.upper(x)) & x.rlike("[A-Za-z]"))
        )
        m = F.when(F.size(toks) > 0, caps.cast("double") / F.size(toks))
        return m, m.isNotNull() & (m <= threshold)

    def kernel(s):
        import re

        letter = re.compile("[A-Za-z]")
        toks = X.tokens(s)
        total = toks.str.len()
        caps = toks.map(lambda t: sum(1 for w in t if w == w.upper() and letter.search(w)))
        m = (caps / total.where(total > 0)).astype("float64")
        return m, m.notna() & (m <= threshold)

    return TextFilter("capital_words", native, kernel, T.DoubleType(),
                      f"keep ALL-CAPS word ratio <= {threshold} (heuristics.py:1064-1137)")


def _lorem_ipsum(threshold: float = 3e-8) -> TextFilter:
    def native(c):
        cc = F.lower(F.coalesce(c, F.lit("")))
        hits = F.regexp_count(cc, F.lit(r"lorem\s+ipsum"))
        m = F.when(F.length(cc) > 0, hits.cast("double") / F.length(cc))
        return m, m.isNotNull() & (m <= threshold)

    def kernel(s):
        cc = s.fillna("").str.lower()
        n = cc.str.len()
        hits = cc.str.count(r"lorem\s+ipsum")
        m = (hits / n.where(n > 0)).astype("float64")
        return m, m.notna() & (m <= threshold)

    return TextFilter("lorem_ipsum", native, kernel, T.DoubleType(),
                      f"keep lorem-ipsum density <= {threshold} (heuristics.py:1139-1207)")


def _line_start_bullet(threshold: float = 0.9) -> TextFilter:
    bullets = list(X.BULLET_PREFIXES)

    def native(c):
        lines = F.filter(F.split(F.coalesce(c, F.lit("")), "\n"),
                         lambda ln: ln.rlike(r"\S"))
        isb = F.size(
            F.filter(
                lines,
                lambda ln: F.substring(F.ltrim(ln), 1, 1).isin(bullets),
            )
        )
        m = F.when(F.size(lines) > 0, isb.cast("double") / F.size(lines))
        return m, m.isNotNull() & (m <= threshold)

    def kernel(s):
        bset = tuple(bullets)

        def ratio(v: str):
            lines = [ln for ln in v.split("\n") if ln.strip()]
            if not lines:
                return np.nan
            return sum(1 for ln in lines if ln.lstrip()[:1] in bset) / len(lines)

        m = s.fillna("").map(ratio).astype("float64")
        return m, m.notna() & (m <= threshold)

    return TextFilter("line_start_bullet", native, kernel, T.DoubleType(),
                      f"keep bullet-line ratio <= {threshold} (heuristics.py:1352-1427)")


def _line_end_ellipsis(threshold: float = 0.3) -> TextFilter:
    def native(c):
        lines = F.filter(F.split(F.coalesce(c, F.lit("")), "\n"),
                         lambda ln: ln.rlike(r"\S"))
        ell = F.size(
            F.filter(
                lines,
                lambda ln: F.endswith(F.rtrim(ln), F.lit("..."))
                | F.endswith(F.rtrim(ln), F.lit("……")),
            )
        )
        m = F.when(F.size(lines) > 0, ell.cast("double") / F.size(lines))
        return m, m.isNotNull() & (m < threshold)

    def kernel(s):
        def ratio(v: str):
            lines = [ln for ln in v.split("\n") if ln.strip()]
            if not lines:
                return np.nan
            return sum(
                1 for ln in lines if ln.rstrip().endswith(("...", "……"))
            ) / len(lines)

        m = s.fillna("").map(ratio).astype("float64")
        return m, m.notna() & (m < threshold)

    return TextFilter("line_end_ellipsis", native, kernel, T.DoubleType(),
                      f"keep ellipsis-ended line ratio < {threshold} (heuristics.py:234-298)")


def _line_javascript(threshold: int = 3) -> TextFilter:
    def native(c):
        lines = F.filter(F.split(F.coalesce(c, F.lit("")), "\n"),
                         lambda ln: ln.rlike(r"\S"))
        nojs = F.size(
            F.filter(lines, lambda ln: ~F.contains(F.lower(ln), F.lit("javascript")))
        )
        m = nojs
        keep = _nonnull(c) & ((F.size(lines) <= 3) | (nojs >= threshold))
        return m, keep

    def kernel(s):
        def metric(v: str):
            lines = [ln for ln in v.split("\n") if ln.strip()]
            return sum(1 for ln in lines if "javascript" not in ln.lower()), len(lines)

        pairs = s.fillna("").map(metric)
        nojs = pairs.map(lambda p: p[0]).astype("int32")
        nlines = pairs.map(lambda p: p[1])
        keep = s.notna() & (s.fillna("").str.strip() != "") & (
            (nlines <= 3) | (nojs >= threshold)
        )
        return nojs, keep

    return TextFilter("line_javascript", native, kernel, T.IntegerType(),
                      f"keep if <=3 lines or >= {threshold} non-javascript lines")


def _blocklist(threshold: int = 1) -> TextFilter:
    words = sorted(X.BLOCKLIST_WORDS)

    def native(c):
        from dataflow_spark.functions.sparkutil import is_member, member_map

        toks = _toks(c)
        arr = member_map(words)
        m = F.size(F.filter(toks, lambda x: is_member(arr, F.lower(x))))
        return m, m <= threshold

    def kernel(s):
        wset = set(words)
        m = X.tokens(s).map(lambda t: sum(1 for w in t if w.lower() in wset)).astype("int32")
        return m, m <= threshold

    return TextFilter("blocklist", native, kernel, T.IntegerType(),
                      f"keep blocklist-word count <= {threshold} (heuristics.py:1503-1574)")


def _nonblank_lines(c: Column, sep: str) -> Column:
    return F.filter(F.split(F.coalesce(c, F.lit("")), sep),
                    lambda ln: ln.rlike(r"\S"))


def _dup_frac_filter(name: str, sep: str, py_sep: str, threshold: float) -> TextFilter:
    """Gopher-style repetition filter (Rae et al. 2021, table A1): the
    fraction of non-blank lines/paragraphs that are exact repeats of an
    earlier one. Beyond the reference's operator set — a large-scale
    pretraining pipeline staple. Pure Catalyst (split → array_distinct),
    zero shuffle, whole-row codegen."""

    def native(c):
        lines = _nonblank_lines(c, sep)
        n = F.size(lines)
        m = F.when(n > 0,
                   F.lit(1.0) - F.size(F.array_distinct(lines)) * F.lit(1.0) / n)
        return m, m.isNotNull() & (m <= threshold)

    def kernel(s):
        import re as _re

        pat = _re.compile(py_sep)

        def frac(v: str):
            lines = [ln for ln in pat.split(v) if ln.strip()]
            if not lines:
                return np.nan
            return 1.0 - len(set(lines)) * 1.0 / len(lines)

        m = s.fillna("").map(frac).astype("float64")
        return m, m.notna() & (m <= threshold)

    return TextFilter(name, native, kernel, T.DoubleType(),
                      f"keep duplicate-{name.split('_')[1]} fraction <= {threshold} "
                      "(Gopher repetition rule; not in the reference)")


def _dup_line_char_frac(threshold: float = 0.20) -> TextFilter:
    """Gopher: fraction of CHARACTERS sitting in repeated lines — repeats
    of long boilerplate lines weigh more than repeats of short ones."""

    def native(c):
        lines = _nonblank_lines(c, "\n")
        total = F.aggregate(lines, F.lit(0), lambda a, x: a + F.length(x))
        dchars = F.aggregate(F.array_distinct(lines), F.lit(0),
                             lambda a, x: a + F.length(x))
        m = F.when(total > 0, F.lit(1.0) - dchars * F.lit(1.0) / total)
        return m, m.isNotNull() & (m <= threshold)

    def kernel(s):
        def frac(v: str):
            lines = [ln for ln in v.split("\n") if ln.strip()]
            if not lines:
                return np.nan
            total = sum(len(ln) for ln in lines)
            dchars = sum(len(ln) for ln in dict.fromkeys(lines))
            if total == 0:
                return np.nan
            return 1.0 - dchars * 1.0 / total

        m = s.fillna("").map(frac).astype("float64")
        return m, m.notna() & (m <= threshold)

    return TextFilter("dup_line_char_frac", native, kernel, T.DoubleType(),
                      f"keep duplicate-line CHAR fraction <= {threshold} "
                      "(Gopher repetition rule; not in the reference)")


FILTERS: dict[str, TextFilter] = {
    f.name: f
    for f in [
        _colon_end(), _word_number(), _char_number(), _content_null(),
        _sentence_number(), _mean_word_length(), _unique_words(), _alpha_words(),
        _symbol_word_ratio(), _html_entity(), _id_card(), _no_punc(),
        _special_character(), _watermark(), _stop_word(), _curly_bracket(),
        _capital_words(), _lorem_ipsum(), _line_start_bullet(),
        _line_end_ellipsis(), _line_javascript(), _blocklist(),
        _dup_frac_filter("dup_line_frac", "\n", r"\n", 0.30),
        _dup_frac_filter("dup_para_frac", r"\n{2,}", r"\n{2,}", 0.30),
        _dup_line_char_frac(),
    ]
}


def filter_udf(name: str):
    """pandas_udf returning struct(metric, keep) from the filter's pandas
    kernel — the parity reference that tests compare ``native`` against."""
    flt = FILTERS[name]
    schema = T.StructType(
        [
            T.StructField("metric", flt.metric_type),
            T.StructField("keep", T.BooleanType()),
        ]
    )

    @F.pandas_udf(schema)
    def _udf(s: pd.Series) -> pd.DataFrame:
        metric, keep = flt.kernel(s)
        return pd.DataFrame({"metric": metric, "keep": keep.fillna(False)})

    return _udf


def with_filter_columns(df: DataFrame, name: str, col: str = "text") -> DataFrame:
    """Add ``<name>_metric`` and ``<name>_keep`` columns (label archetype)."""
    metric, keep = FILTERS[name].native(F.col(col))
    return df.withColumn(f"{name}_metric", metric).withColumn(
        f"{name}_keep", F.coalesce(keep, F.lit(False))
    )


def apply_filter(df: DataFrame, name: str, col: str = "text") -> DataFrame:
    """Keep only passing rows.

    r8: one Filter node per filter instead of the former
    withColumn(metric) → withColumn(keep) → filter → drop chain — the
    metric column never escaped apply_filter, so the predicate alone is
    the whole contract (identical rows out; label consumers use
    ``with_filter_columns`` directly). An 8-filter chain now adds 8
    plan nodes instead of 32, which is pure driver-side
    construction/analysis latency removed from every composed query."""
    _metric, keep = FILTERS[name].native(F.col(col))
    return df.where(F.coalesce(keep, F.lit(False)))


def apply_filters(df: DataFrame, names: list[str], col: str = "text") -> DataFrame:
    for n in names:
        df = apply_filter(df, n, col)
    return df
