"""Heuristic quality filters — per-row statistics + keep predicate.

Reference archetype (/root/reference/dataflow/operators/general_text/filter/
heuristics.py:53-57): compute a per-row metric, store it as a label column,
keep rows passing the predicate. Here each filter is:

* ``stats`` — the names of the per-row statistics it reads, entries of
  the one ``STATS`` table (so ``words``, the whitespace-token count, is
  one entry shared by ``word_number``, ``mean_word_length``,
  ``alpha_words`` and ``symbol_word_ratio``);
* ``rule(s) -> (metric: Column, keep: Column)`` — cheap arithmetic over
  those statistics. Pure Catalyst, no Python. ``apply_filters`` binds the
  union of the statistics once per row; ``native``/``with_filter_columns``
  inline them into a projection;
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

import functools
import operator
from dataclasses import dataclass, field
from typing import Callable, Mapping

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataflow_spark.functions import text as X
from dataflow_spark.functions.sparkutil import bind, is_member

Rule = Callable[[Mapping[str, Column]], tuple[Column, Column]]
Kernel = Callable[[pd.Series], tuple[pd.Series, pd.Series]]

TEXT = "text"  # the input column, as the root of the statistics table


def _z(c: Column) -> Column:
    return F.coalesce(c, F.lit(""))


def _count(pat: str) -> Callable[[Column], Column]:
    # regexp_count is rewritten to size(regexp_extract_all(...)): it builds
    # one string per match, which is why each count is worth binding once
    return lambda c: F.regexp_count(_z(c), F.lit(pat))


def _split_toks(c: Column) -> Column:
    return F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != "")


def _nonblank_lines(c: Column, sep: str) -> Column:
    return F.filter(F.split(_z(c), sep), lambda ln: ln.rlike(r"\S"))


def _n_where(pred) -> Callable[[Column], Column]:
    return lambda arr: F.size(F.filter(arr, pred))


def _chars_of(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0), lambda a, x: a + F.length(x))


# name -> (input statistics, builder over them). A builder may read the
# text (``TEXT``) or earlier statistics; ``apply_filters`` binds each
# statistic once per row, one level of inputs at a time.
STATS: dict[str, tuple[tuple[str, ...], Callable[..., Column]]] = {
    # Python `text.strip() != ''` parity: Spark trim() only strips 0x20,
    # so test for any non-whitespace char instead
    "nonblank": ((TEXT,), lambda c: c.isNotNull() & c.rlike(r"\S")),
    "chars": ((TEXT,), lambda c: F.length(_z(c))),
    # maximal non-whitespace runs == Python str.split() token count
    "words": ((TEXT,), _count(r"\S+")),
    "spaces": ((TEXT,), _count(r"\s")),
    # '\S*[a-zA-Z]\S*' matches exactly once per maximal \S+ run that
    # contains an ASCII letter (a match can't cross whitespace; the
    # leftmost attempt at a token start succeeds via backtracking iff the
    # token holds a letter, and the trailing greedy \S* always extends the
    # match to the token end, so no token double-counts)
    "alpha_words": ((TEXT,), _count(r"\S*[a-zA-Z]\S*")),
    "colon_end": ((TEXT,), lambda c: F.endswith(_z(c), F.lit(":")).cast("int")),
    "sentences": ((TEXT,), _count(X.SENTENCE_REGEX)),
    # symbols: '#', '...', '…' occurrences (heuristics.py:357-427)
    "symbols": ((TEXT,), lambda c: _count("#")(c) + _count(r"\.\.\.")(c) + _count("…")(c)),
    "html_entities": ((TEXT,), _count(X.HTML_ENTITY_REGEX)),
    "id_cards": ((TEXT,), _count("(?i)" + X.ID_CARD_REGEX)),
    "special_chars": ((TEXT,), lambda c: sum(_count(p)(c) for p in X.SPECIAL_CHAR_REGEXES)),
    "watermarks": ((TEXT,), _count("(?i)(" + "|".join(X.WATERMARK_WORDS) + ")")),
    "braces": ((TEXT,), lambda c: F.length(_z(c)) - F.length(F.translate(_z(c), "{}", ""))),
    # max words in a punctuation-free segment (split on [.!?,;:\n])
    "punc_free_words": ((TEXT,), lambda c: F.array_max(F.transform(
        F.split(_z(c), "[.!?,;:\n]"), lambda seg: F.size(_split_toks(seg))))),
    "lower": ((TEXT,), lambda c: F.lower(_z(c))),
    "lower_chars": (("lower",), F.length),
    "lorem": (("lower",), _count(r"lorem\s+ipsum")),
    # normalized = lowercase, ASCII punctuation stripped, whitespace tokens
    "norm_toks": (("lower",), lambda lc: _split_toks(F.translate(lc, X.PUNCTUATION, ""))),
    "norm_distinct": (("norm_toks",), lambda t: F.size(F.array_distinct(t))),
    "toks": ((TEXT,), lambda c: _split_toks(_z(c))),
    "stop_words": (("toks",), _n_where(lambda x: is_member(F.lower(x), X.STOPWORDS))),
    "blocked_words": (("toks",), _n_where(lambda x: is_member(F.lower(x), X.BLOCKLIST_WORDS))),
    "caps_words": (("toks",), _n_where(lambda x: (x == F.upper(x)) & x.rlike("[A-Za-z]"))),
    "lines": ((TEXT,), lambda c: _nonblank_lines(c, "\n")),
    "paras": ((TEXT,), lambda c: _nonblank_lines(c, r"\n{2,}")),
    "distinct_lines": (("lines",), lambda ls: F.size(F.array_distinct(ls))),
    "distinct_paras": (("paras",), lambda ps: F.size(F.array_distinct(ps))),
    "line_chars": (("lines",), _chars_of),
    "distinct_line_chars": (("lines",), lambda ls: _chars_of(F.array_distinct(ls))),
    "bullet_lines": (("lines",), _n_where(
        lambda ln: F.substring(F.ltrim(ln), 1, 1).isin(list(X.BULLET_PREFIXES)))),
    "ellipsis_lines": (("lines",), _n_where(
        lambda ln: F.endswith(F.rtrim(ln), F.lit("...")) | F.endswith(F.rtrim(ln), F.lit("……")))),
    "nojs_lines": (("lines",), _n_where(
        lambda ln: ~F.contains(F.lower(ln), F.lit("javascript")))),
}


def _stat_order(names) -> list[str]:
    """``names`` and the statistics they read, each once, inputs first."""
    out: list[str] = []

    def visit(n: str) -> None:
        if n != TEXT and n not in out:
            for i in STATS[n][0]:
                visit(i)
            out.append(n)

    for n in names:
        visit(n)
    return out


def _build(name: str, s: Mapping[str, Column]) -> Column:
    inputs, build = STATS[name]
    return build(*[s[i] for i in inputs])


def _inline_stats(c: Column, names) -> dict[str, Column]:
    s = {TEXT: c}
    for n in _stat_order(names):
        s[n] = _build(n, s)
    return s


def _with_bound_stats(c: Column, names, body: Callable[[Mapping[str, Column]], Column]) -> Column:
    """``body(s)`` with every statistic in ``names`` evaluated once per row:
    each level of the table (statistics of the text, then those of earlier
    statistics) is one struct bound by ``sparkutil.bind``."""
    order = _stat_order(names)
    depth: dict[str, int] = {TEXT: -1}
    for n in order:
        depth[n] = 1 + max(depth[i] for i in STATS[n][0])

    def level(d: int, s: dict[str, Column]) -> Column:
        here = [n for n in order if depth[n] == d]
        if not here:
            return body(s)
        row = F.struct(*[_build(n, s).alias(n) for n in here])
        return bind(row, lambda r: level(d + 1, {**s, **{n: r[n] for n in here}}))

    return level(0, {TEXT: c})


@dataclass(frozen=True)
class TextFilter:
    name: str
    stats: tuple[str, ...]
    rule: Rule
    kernel: Kernel
    metric_type: T.DataType = field(default_factory=T.DoubleType)
    doc: str = ""

    def native(self, c: Column) -> tuple[Column, Column]:
        """(metric, keep) with the statistics inlined, for a projection."""
        return self.rule(_inline_stats(c, self.stats))


def _ratio(num: Column, den: Column) -> Column:
    return F.when(den > 0, num.cast("double") / den)


# ---------------------------------------------------------------- filters

def _colon_end() -> TextFilter:
    def rule(s):
        m = s["colon_end"]
        return m, s["nonblank"] & (m == 0)

    def kernel(s):
        m = s.fillna("").str.endswith(":").astype("int32")
        keep = s.notna() & (s.fillna("").str.strip() != "") & (m == 0)
        return m, keep

    return TextFilter("colon_end", ("nonblank", "colon_end"), rule, kernel, T.IntegerType(),
                      "drop texts ending with ':' (heuristics.py:13-58)")


def _word_number(lo: int = 20, hi: int = 100_000) -> TextFilter:
    def rule(s):
        m = s["words"]
        return m, (m >= lo) & (m < hi)

    def kernel(s):
        m = X.token_count(s)
        return m, (m >= lo) & (m < hi)

    return TextFilter("word_number", ("words",), rule, kernel, T.IntegerType(),
                      f"keep {lo} <= wordcount < {hi} (heuristics.py:61-115)")


def _char_number(lo: int = 100) -> TextFilter:
    def rule(s):
        m = s["chars"]
        return m, m >= lo

    def kernel(s):
        m = s.fillna("").str.len().astype("int64")
        return m, m >= lo

    return TextFilter("char_number", ("chars",), rule, kernel, T.IntegerType(),
                      f"keep len(text) >= {lo} (heuristics.py:1283-1350)")


def _content_null() -> TextFilter:
    def rule(s):
        keep = s["nonblank"]
        return keep.cast("int"), keep

    def kernel(s):
        keep = s.notna() & (s.str.strip() != "")
        return keep.astype("int32"), keep

    return TextFilter("content_null", ("nonblank",), rule, kernel, T.IntegerType(),
                      "drop null/blank texts (heuristics.py:301-355)")


def _sentence_number(lo: int = 1, hi: int = 7500) -> TextFilter:
    pat = X.SENTENCE_REGEX

    def rule(s):
        m = s["sentences"]
        return m, (m >= lo) & (m <= hi)

    def kernel(s):
        m = s.fillna("").str.count(pat).astype("int32")
        return m, (m >= lo) & (m <= hi)

    return TextFilter("sentence_number", ("sentences",), rule, kernel, T.IntegerType(),
                      f"keep {lo} <= #sentences <= {hi} (heuristics.py:119-177)")


def _mean_word_length(lo: float = 3.0, hi: float = 10.0) -> TextFilter:
    def rule(s):
        # non-whitespace char count WITHOUT rebuilding the string:
        # len(text) - #whitespace-chars == len(regexp_replace(text,'\s',''))
        # exactly (each \s match is one char)
        m = _ratio(s["chars"] - s["spaces"], s["words"])
        return m, m.isNotNull() & (m >= lo) & (m < hi)

    def kernel(s):
        chars = s.fillna("").str.replace(r"\s", "", regex=True).str.len()
        words = X.token_count(s)
        m = (chars / words.where(words > 0)).astype("float64")
        return m, m.notna() & (m >= lo) & (m < hi)

    return TextFilter("mean_word_length", ("chars", "spaces", "words"), rule, kernel,
                      T.DoubleType(),
                      f"keep {lo} <= mean word length < {hi} (heuristics.py:846-919)")


def _unique_words(threshold: float = 0.1) -> TextFilter:
    def rule(s):
        m = _ratio(s["norm_distinct"], F.size(s["norm_toks"]))
        return m, m.isNotNull() & (m > threshold)

    table = str.maketrans("", "", X.PUNCTUATION)

    def kernel(s):
        toks = s.fillna("").str.lower().map(lambda v: v.translate(table)).str.split()
        total = toks.str.len()
        uniq = toks.map(lambda t: len(set(t)))
        m = (uniq / total.where(total > 0)).astype("float64")
        return m, m.notna() & (m > threshold)

    return TextFilter("unique_words", ("norm_toks", "norm_distinct"), rule, kernel,
                      T.DoubleType(),
                      f"keep unique/total words > {threshold} (heuristics.py:1209-1281)")


def _alpha_words(threshold: float = 0.6) -> TextFilter:
    def rule(s):
        # letter-bearing token count as ONE regexp_count instead of a
        # higher-order filter + a per-token rlike. Values are pinned
        # identical to the pandas kernel by the parity suite on the dirty
        # corpus.
        m = _ratio(s["alpha_words"], s["words"])
        return m, m.isNotNull() & (m > threshold)

    def kernel(s):
        toks = X.tokens(s)
        total = toks.str.len()
        import re

        pat = re.compile("[a-zA-Z]")
        alpha = toks.map(lambda t: sum(1 for w in t if pat.search(w)))
        m = (alpha / total.where(total > 0)).astype("float64")
        return m, m.notna() & (m > threshold)

    return TextFilter("alpha_words", ("alpha_words", "words"), rule, kernel, T.DoubleType(),
                      f"keep letter-word ratio > {threshold} (heuristics.py:429-500)")


def _symbol_word_ratio(threshold: float = 0.4) -> TextFilter:
    def rule(s):
        m = _ratio(s["symbols"], s["words"])
        return m, m.isNotNull() & (m < threshold)

    def kernel(s):
        cc = s.fillna("")
        sym = cc.str.count("#") + cc.str.count(r"\.\.\.") + cc.str.count("…")
        words = X.token_count(s)
        m = (sym / words.where(words > 0)).astype("float64")
        return m, m.notna() & (m < threshold)

    return TextFilter("symbol_word_ratio", ("symbols", "words"), rule, kernel, T.DoubleType(),
                      f"keep symbol/word ratio < {threshold}")


def _html_entity() -> TextFilter:
    pat = X.HTML_ENTITY_REGEX

    def rule(s):
        m = s["html_entities"]
        return m, s["nonblank"] & (m == 0)

    def kernel(s):
        m = s.fillna("").str.count(pat).astype("int32")
        return m, s.notna() & (s.fillna("").str.strip() != "") & (m == 0)

    return TextFilter("html_entity", ("nonblank", "html_entities"), rule, kernel,
                      T.IntegerType(),
                      "drop texts containing HTML entities (heuristics.py:502-571)")


def _id_card(threshold: int = 3) -> TextFilter:
    def rule(s):
        m = s["id_cards"]
        return m, m < threshold

    def kernel(s):
        import re

        p = re.compile(X.ID_CARD_REGEX, re.IGNORECASE)
        m = s.fillna("").map(lambda v: len(p.findall(v))).astype("int32")
        return m, m < threshold

    return TextFilter("id_card", ("id_cards",), rule, kernel, T.IntegerType(),
                      f"keep id-card-term matches < {threshold} (heuristics.py:573-636)")


def _no_punc(threshold: int = 112) -> TextFilter:
    def rule(s):
        m = s["punc_free_words"]
        return m, s["nonblank"] & (m <= threshold)

    def kernel(s):
        import re

        splitter = re.compile("[.!?,;:\n]")
        m = s.fillna("").map(
            lambda v: max((len(seg.split()) for seg in splitter.split(v)), default=0)
        ).astype("int32")
        return m, s.notna() & (s.fillna("").str.strip() != "") & (m <= threshold)

    return TextFilter("no_punc", ("nonblank", "punc_free_words"), rule, kernel, T.IntegerType(),
                      f"keep max punctuation-free segment <= {threshold} words")


def _special_character() -> TextFilter:
    pats = X.SPECIAL_CHAR_REGEXES

    def rule(s):
        m = s["special_chars"]
        return m, s["nonblank"] & (m == 0)

    def kernel(s):
        import re

        ps = [re.compile(p) for p in pats]
        cc = s.fillna("")
        m = sum(cc.map(lambda v, _p=p: len(_p.findall(v))) for p in ps).astype("int32")
        return m, s.notna() & (cc.str.strip() != "") & (m == 0)

    return TextFilter("special_character", ("nonblank", "special_chars"), rule, kernel,
                      T.IntegerType(),
                      "drop texts with control/special/escape chars (heuristics.py:712-779)")


def _watermark() -> TextFilter:
    def rule(s):
        m = s["watermarks"]
        return m, s["nonblank"] & (m == 0)

    def kernel(s):
        import re

        p = re.compile("(" + "|".join(X.WATERMARK_WORDS) + ")", re.IGNORECASE)
        m = s.fillna("").map(lambda v: len(p.findall(v))).astype("int32")
        return m, s.notna() & (s.fillna("").str.strip() != "") & (m == 0)

    return TextFilter("watermark", ("nonblank", "watermarks"), rule, kernel, T.IntegerType(),
                      "drop texts containing watermark terms (heuristics.py:781-844)")


def _stop_word(threshold: float = 0.05, min_count: int = 3) -> TextFilter:
    def rule(s):
        hits = s["stop_words"]
        m = _ratio(hits, F.size(s["toks"]))
        return m, m.isNotNull() & (m > threshold) & (hits >= min_count)

    def kernel(s):
        swset = X.STOPWORDS
        toks = X.tokens(s)
        total = toks.str.len()
        hits = toks.map(lambda t: sum(1 for w in t if w.lower() in swset))
        m = (hits / total.where(total > 0)).astype("float64")
        return m, m.notna() & (m > threshold) & (hits >= min_count)

    return TextFilter("stop_word", ("toks", "stop_words"), rule, kernel, T.DoubleType(),
                      f"keep stopword ratio > {threshold} and count >= {min_count}")


def _curly_bracket(threshold: float = 0.025) -> TextFilter:
    def rule(s):
        m = _ratio(s["braces"], s["chars"])
        return m, m.isNotNull() & (m < threshold)

    def kernel(s):
        cc = s.fillna("")
        n = cc.str.len()
        braces = cc.str.count(r"\{") + cc.str.count(r"\}")
        m = (braces / n.where(n > 0)).astype("float64")
        return m, m.notna() & (m < threshold)

    return TextFilter("curly_bracket", ("braces", "chars"), rule, kernel, T.DoubleType(),
                      f"keep curly-brace char ratio < {threshold} (heuristics.py:1000-1062)")


def _capital_words(threshold: float = 0.2) -> TextFilter:
    def rule(s):
        m = _ratio(s["caps_words"], F.size(s["toks"]))
        return m, m.isNotNull() & (m <= threshold)

    def kernel(s):
        import re

        letter = re.compile("[A-Za-z]")
        toks = X.tokens(s)
        total = toks.str.len()
        caps = toks.map(lambda t: sum(1 for w in t if w == w.upper() and letter.search(w)))
        m = (caps / total.where(total > 0)).astype("float64")
        return m, m.notna() & (m <= threshold)

    return TextFilter("capital_words", ("toks", "caps_words"), rule, kernel, T.DoubleType(),
                      f"keep ALL-CAPS word ratio <= {threshold} (heuristics.py:1064-1137)")


def _lorem_ipsum(threshold: float = 3e-8) -> TextFilter:
    def rule(s):
        # the length of the LOWERCASED text: lower() can change it
        m = _ratio(s["lorem"], s["lower_chars"])
        return m, m.isNotNull() & (m <= threshold)

    def kernel(s):
        cc = s.fillna("").str.lower()
        n = cc.str.len()
        hits = cc.str.count(r"lorem\s+ipsum")
        m = (hits / n.where(n > 0)).astype("float64")
        return m, m.notna() & (m <= threshold)

    return TextFilter("lorem_ipsum", ("lorem", "lower_chars"), rule, kernel, T.DoubleType(),
                      f"keep lorem-ipsum density <= {threshold} (heuristics.py:1139-1207)")


def _line_start_bullet(threshold: float = 0.9) -> TextFilter:
    bullets = tuple(X.BULLET_PREFIXES)

    def rule(s):
        m = _ratio(s["bullet_lines"], F.size(s["lines"]))
        return m, m.isNotNull() & (m <= threshold)

    def kernel(s):
        def ratio(v: str):
            lines = [ln for ln in v.split("\n") if ln.strip()]
            if not lines:
                return np.nan
            return sum(1 for ln in lines if ln.lstrip()[:1] in bullets) / len(lines)

        m = s.fillna("").map(ratio).astype("float64")
        return m, m.notna() & (m <= threshold)

    return TextFilter("line_start_bullet", ("lines", "bullet_lines"), rule, kernel,
                      T.DoubleType(),
                      f"keep bullet-line ratio <= {threshold} (heuristics.py:1352-1427)")


def _line_end_ellipsis(threshold: float = 0.3) -> TextFilter:
    def rule(s):
        m = _ratio(s["ellipsis_lines"], F.size(s["lines"]))
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

    return TextFilter("line_end_ellipsis", ("lines", "ellipsis_lines"), rule, kernel,
                      T.DoubleType(),
                      f"keep ellipsis-ended line ratio < {threshold} (heuristics.py:234-298)")


def _line_javascript(threshold: int = 3) -> TextFilter:
    def rule(s):
        nojs = s["nojs_lines"]
        return nojs, s["nonblank"] & ((F.size(s["lines"]) <= 3) | (nojs >= threshold))

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

    return TextFilter("line_javascript", ("nonblank", "lines", "nojs_lines"), rule, kernel,
                      T.IntegerType(),
                      f"keep if <=3 lines or >= {threshold} non-javascript lines")


def _blocklist(threshold: int = 1) -> TextFilter:
    def rule(s):
        m = s["blocked_words"]
        return m, m <= threshold

    def kernel(s):
        wset = X.BLOCKLIST_WORDS
        m = X.tokens(s).map(lambda t: sum(1 for w in t if w.lower() in wset)).astype("int32")
        return m, m <= threshold

    return TextFilter("blocklist", ("blocked_words",), rule, kernel, T.IntegerType(),
                      f"keep blocklist-word count <= {threshold} (heuristics.py:1503-1574)")


def _dup_frac_filter(name: str, lines: str, py_sep: str, threshold: float) -> TextFilter:
    """Gopher-style repetition filter (Rae et al. 2021, table A1): the
    fraction of non-blank lines/paragraphs (the ``lines`` statistic) that
    are exact repeats of an earlier one. Beyond the reference's operator
    set — a large-scale pretraining pipeline staple. Pure Catalyst
    (split → array_distinct), zero shuffle."""
    distinct = f"distinct_{lines}"

    def rule(s):
        n = F.size(s[lines])
        m = F.when(n > 0, F.lit(1.0) - s[distinct] * F.lit(1.0) / n)
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

    return TextFilter(name, (lines, distinct), rule, kernel, T.DoubleType(),
                      f"keep duplicate-{name.split('_')[1]} fraction <= {threshold} "
                      "(Gopher repetition rule; not in the reference)")


def _dup_line_char_frac(threshold: float = 0.20) -> TextFilter:
    """Gopher: fraction of CHARACTERS sitting in repeated lines — repeats
    of long boilerplate lines weigh more than repeats of short ones."""

    def rule(s):
        total = s["line_chars"]
        m = F.when(total > 0, F.lit(1.0) - s["distinct_line_chars"] * F.lit(1.0) / total)
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

    return TextFilter("dup_line_char_frac", ("line_chars", "distinct_line_chars"), rule,
                      kernel, T.DoubleType(),
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
        _dup_frac_filter("dup_line_frac", "lines", r"\n", 0.30),
        _dup_frac_filter("dup_para_frac", "paras", r"\n{2,}", 0.30),
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
    """Keep only the rows passing filter ``name``."""
    return apply_filters(df, [name], col)


def apply_filters(df: DataFrame, names: list[str], col: str = "text") -> DataFrame:
    """Keep only the rows passing every filter in ``names``: ONE ``Filter``
    node whose condition binds the union of the filters' statistics once
    per row (``_with_bound_stats``) and ANDs their keeps.

    Spark's ``FilterExec`` shares no subexpressions, so written inline the
    8-filter curate chain evaluated the ``\\S+`` token count 12 times per
    row, the ``\\s`` count 3 times and the unique-words split 6 times. Two
    cheaper-looking plans were measured and do not work:

    * a metric ``Project`` followed by a ``Filter``: predicate pushdown
      inlines the projected metrics back into the Filter condition;
    * a condition without higher-order functions: it is compiled with
      whole-stage codegen, and a codegen ``Filter`` gets no subexpression
      elimination either. On 35,712 cached rows the 7 curate filters
      other than ``unique_words`` took 2.97 s as a codegen Filter; all 8
      took 1.36 s as the interpreted inline predicate this replaced.

    Binding each filter's new statistics only after the earlier keeps
    pass (so a row failing ``word_number`` skips the rest) was measured
    too, on the same 35,712 rows with the quality score (4 vCPU, three
    alternating processes): 1.62-1.76 s against 1.37-1.61 s for one
    binding of the union, and 0.42-0.48 s against 0.32-0.36 s to build
    the plan. The nested bindings cost more than the skipped work saves.
    """
    if not names:
        return df
    flts = [FILTERS[n] for n in names]

    def keep_all(s: Mapping[str, Column]) -> Column:
        return functools.reduce(
            operator.and_, [F.coalesce(f.rule(s)[1], F.lit(False)) for f in flts]
        )

    return df.where(_with_bound_stats(F.col(col), [n for f in flts for n in f.stats], keep_all))
