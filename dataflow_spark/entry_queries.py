"""Driver-contract query registry: Spark queries + DuckDB oracle SQL.

Every implemented operator from SURVEY.md §2 (plus the training-data-
pipeline operators: dedup families, ANN, text analysis, windows) gets a
``queries()`` entry; SQL-expressible ones also get an ``oracle_sql()``
entry executed by DuckDB on the same parquet tables. Column names and
value rounding are aligned on both sides because the driver hash-compares
values after sorting columns by name.

Float discipline: ratios/similarities are rounded (identical op order on
both sides); big-table SUMs go through exact DECIMAL accumulation and are
cast back to double — parallel double summation order would otherwise
make hashes flaky.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from dataflow_spark.functions import text as X
from dataflow_spark.functions import scorers as S
from dataflow_spark.functions.filters import (
    FILTERS,
    apply_filters,
    with_filter_columns,
)
from dataflow_spark.functions.refiners import REFINERS, refiner_column
from dataflow_spark.operators import dedup as D
from dataflow_spark.operators import lm as LM
from dataflow_spark.operators import sampling as SAMP
from dataflow_spark.operators import similarity as SIM


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _par(df: DataFrame) -> DataFrame:
    """Widen a single-row-group scan before a CPU-heavy per-row chain
    (sparkutil.widen_for_compute). Applied ONLY to queries whose output
    is partitioning-invariant: per-row projections, exact-integer
    aggregations, decimal sums, and ordered per-row FP folds."""
    from dataflow_spark.functions.sparkutil import widen_for_compute

    return widen_for_compute(df)


# --------------------------------------------------------------- SQL helpers

_PUNCT_SQL = X.PUNCTUATION.replace("'", "''")
_SW_SQL = "[" + ", ".join("'" + w.replace("'", "''") + "'" for w in sorted(X.STOPWORDS)) + "]"
_BLOCK_SQL = "[" + ", ".join(f"'{w}'" for w in sorted(X.BLOCKLIST_WORDS)) + "]"

# RE2 (DuckDB) spells unicode escapes \x{FFF9}; Python re uses ￹.
_SPECIAL_RE2 = [
    "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f]",
    "[\\x{FFF9}-\\x{FFFC}\\x{FFFE}\\x{FFFF}]",
    "\\\\x[0-9a-fA-F]{2}",
    "[\\x{E000}-\\x{F8FF}]",
]


def _sql_toks(col: str = "text") -> str:
    return (
        f"list_filter(regexp_split_to_array(coalesce({col}, ''), '\\s+'), x -> x <> '')"
    )


def _sql_lang_arr(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in sorted(X.LANG_STOPWORDS[lang])) + "]"


# ------------------------------------------------------------------ refiners

_REFINER_ORACLES = {
    "remove_extra_spaces": "trim(regexp_replace(text, '\\s+', ' ', 'g'))",
    "lowercase": "lower(text)",
    "remove_numbers": "regexp_replace(text, '[0-9]', '', 'g')",
    "remove_punctuation": f"translate(text, '{_PUNCT_SQL}', '')",
    "remove_html_url": (
        "regexp_replace(regexp_replace(text, 'https?://\\S+', '', 'g'),"
        " '<[^>]*>', '', 'g')"
    ),
    "normalize_text": (
        "regexp_replace(regexp_replace(text,"
        " '\\b(0?[1-9]|1[0-2])/(0?[1-9]|[12][0-9]|3[01])/([0-9]{4})\\b',"
        " '\\3-\\1-\\2', 'g'), '\\$([0-9]+(?:\\.[0-9]+)?)', '\\1 USD', 'g')"
    ),
}


def _pii_oracle_expr() -> str:
    # chained regexp_replace built from an INDEPENDENT parse of the
    # neutral serialized table (resources/pii_patterns.json) — NOT the
    # engine's constructed PII_PATTERNS object, so an engine-side
    # transcription slip shows up as an oracle mismatch (r5 ask #5)
    import json

    from dataflow_spark.resources import rule_table_path

    with open(rule_table_path("pii_patterns.json"), encoding="utf-8") as f:
        rules = json.load(f)
    expr = "text"
    for pat, rep in rules:
        expr = f"regexp_replace({expr}, '{pat}', '{rep}', 'g')"
    return expr


_REFINER_ORACLES["redact_pii"] = _pii_oracle_expr()


def _ccnet_norm_oracle_expr(src: str = "text") -> str:
    # the SAME pinned table as the engine (text.CCNET_UNICODE_PUNCT)
    expr = (
        f"regexp_replace(regexp_replace({src}, '^\\s+|\\s+$', '', 'g'),"
        " '[0-9０-９]', '0', 'g')"
    )
    for src, dst in X.CCNET_UNICODE_PUNCT:
        expr = f"replace({expr}, '{src}', '{dst.replace(chr(39), chr(39) * 2)}')"
    return f"regexp_replace({expr}, '{X.NON_PRINTING_CLASS}', '', 'g')"


_REFINER_ORACLES["ccnet_normalize"] = _ccnet_norm_oracle_expr()


def _html_md_oracle_expr(src: str = "text") -> str:
    # chained regexp_replace from an INDEPENDENT parse of the neutral
    # serialized rule table (resources/html_md_rules.json) — not the
    # engine's HTML_MD_RULES object (r5 ask #5); RE2 replacement syntax
    # (\1) is the file's stored convention
    import json

    from dataflow_spark.resources import rule_table_path

    with open(rule_table_path("html_md_rules.json"), encoding="utf-8") as f:
        rules = json.load(f)
    expr = src
    for pat, rep in rules:
        p = pat.replace("'", "''")
        r = rep.replace("'", "''")
        expr = f"regexp_replace({expr}, '{p}', '{r}', 'g')"
    return expr


_REFINER_ORACLES["html_to_markdown"] = _html_md_oracle_expr()


def _lemma_oracle_expr() -> str:
    from dataflow_spark.functions.lemmatizer import oracle_sql_expr

    return oracle_sql_expr("text")


_REFINER_ORACLES["lemmatize"] = _lemma_oracle_expr()


def _ner_oracle_expr() -> str:
    from dataflow_spark.functions.refiners import NER_PATTERNS

    expr = "text"
    for pat, rep in NER_PATTERNS:
        pat_sql = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{pat_sql}', '{rep}', 'g')"
    return expr


_REFINER_ORACLES["ner_mask"] = _ner_oracle_expr()

# the emoji class is written in \x{...} syntax — valid in both Java regex
# (Spark native) and RE2 (DuckDB)
_REFINER_ORACLES["remove_emoji"] = (
    f"regexp_replace(text, '{X.EMOJI_CLASS_X}', '', 'g')"
)
_REFINER_ORACLES["remove_html_entity"] = (
    f"regexp_replace(text, '{X.HTML_ENTITY_REGEX}', '', 'g')"
)
_REFINER_ORACLES["remove_image_refs"] = (
    "regexp_replace(regexp_replace(text, '!\\[[^\\]]*\\]\\([^)]*\\)', '', 'g'),"
    " '(?i)<img[^>]*>', '', 'g')"
)
_REFINER_ORACLES["remove_references"] = (
    "regexp_replace(regexp_replace(text, '\\[[0-9]+\\]', '', 'g'),"
    " '(?is)\\n\\s*references\\s*\\n.*$', '', 'g')"
)
def _emoticon_oracle() -> str:
    from dataflow_spark.functions.refiners import _EMOTICON_RE

    return f"regexp_replace(text, '{_EMOTICON_RE.replace(chr(39), chr(39)*2)}', '', 'g')"


def _contraction_oracle() -> str:
    from dataflow_spark.functions.refiners import CONTRACTIONS

    expr = "text"
    for a, b in CONTRACTIONS:
        qa, qb = a.replace("'", "''"), b.replace("'", "''")
        expr = f"replace({expr}, '{qa}', '{qb}')"
    return expr


_REFINER_ORACLES["remove_emoticons"] = _emoticon_oracle()
_REFINER_ORACLES["expand_contractions"] = _contraction_oracle()

_REFINER_ORACLES["remove_stopwords"] = (
    "array_to_string(list_filter(regexp_split_to_array(trim(text), '\\s+'),"
    f" x -> x <> '' AND NOT list_contains({_SW_SQL}, lower(x))), ' ')"
)


def _refiner_query(name: str):
    def q(spark: SparkSession, sf: str) -> DataFrame:
        df = _t(spark, sf, "documents")
        return df.select("doc_id", refiner_column(name, F.col("text")).alias("text"))

    return q


# ------------------------------------------------------------------- filters

def _filter_query(name: str):
    cast_to = (
        "double" if isinstance(FILTERS[name].metric_type, T.DoubleType) else "long"
    )

    def q(spark: SparkSession, sf: str) -> DataFrame:
        df = _t(spark, sf, "documents").select("doc_id", "text")
        out = with_filter_columns(df, name)
        metric = F.col(f"{name}_metric").cast(cast_to)
        if cast_to == "double":
            metric = F.round(metric, 9)
        return out.filter(F.col(f"{name}_keep")).select(
            "doc_id", metric.alias("metric")
        )

    return q


_TOKS = _sql_toks()

_FILTER_ORACLES: dict[str, str] = {
    "colon_end": f"""
        SELECT doc_id, CAST(ends_with(coalesce(text,''), ':') AS BIGINT) AS metric
        FROM documents
        WHERE regexp_matches(text, '\\S') AND NOT ends_with(coalesce(text,''), ':')""",
    "word_number": f"""
        SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS metric FROM documents
        WHERE len({_TOKS}) >= 20 AND len({_TOKS}) < 100000""",
    "char_number": """
        SELECT doc_id, CAST(length(coalesce(text,'')) AS BIGINT) AS metric
        FROM documents WHERE length(coalesce(text,'')) >= 100""",
    "content_null": """
        SELECT doc_id, CAST(1 AS BIGINT) AS metric FROM documents
        WHERE text IS NOT NULL AND regexp_matches(text, '\\S')""",
    "sentence_number": """
        SELECT doc_id,
               CAST(len(regexp_extract_all(coalesce(text,''), '\\b[^.!?\\n]+[.!?]*')) AS BIGINT) AS metric
        FROM documents
        WHERE len(regexp_extract_all(coalesce(text,''), '\\b[^.!?\\n]+[.!?]*')) BETWEEN 1 AND 7500""",
    "mean_word_length": f"""
        WITH m AS (
          SELECT doc_id,
                 length(regexp_replace(coalesce(text,''), '\\s', '', 'g')) AS chars,
                 len({_TOKS}) AS words
          FROM documents)
        SELECT doc_id, round(chars * 1.0 / words, 9) AS metric FROM m
        WHERE words > 0 AND chars * 1.0 / words >= 3.0 AND chars * 1.0 / words < 10.0""",
    "unique_words": f"""
        WITH m AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(
                    translate(lower(coalesce(text,'')), '{_PUNCT_SQL}', ''), '\\s+'),
                    x -> x <> '') AS toks
          FROM documents)
        SELECT doc_id, round(len(list_distinct(toks)) * 1.0 / len(toks), 9) AS metric
        FROM m WHERE len(toks) > 0 AND len(list_distinct(toks)) * 1.0 / len(toks) > 0.1""",
    "alpha_words": f"""
        WITH m AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
        SELECT doc_id,
               round(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]'))) * 1.0 / len(toks), 9) AS metric
        FROM m WHERE len(toks) > 0
          AND len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]'))) * 1.0 / len(toks) > 0.6""",
    "symbol_word_ratio": f"""
        WITH m AS (
          SELECT doc_id,
                 len(regexp_extract_all(coalesce(text,''), '#'))
                 + len(regexp_extract_all(coalesce(text,''), '\\.\\.\\.'))
                 + len(regexp_extract_all(coalesce(text,''), '…')) AS sym,
                 len({_TOKS}) AS words
          FROM documents)
        SELECT doc_id, round(sym * 1.0 / words, 9) AS metric FROM m
        WHERE words > 0 AND sym * 1.0 / words < 0.4""",
    "html_entity": f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(coalesce(text,''), '{X.HTML_ENTITY_REGEX}')) AS BIGINT) AS metric
        FROM documents
        WHERE regexp_matches(text, '\\S')
          AND len(regexp_extract_all(coalesce(text,''), '{X.HTML_ENTITY_REGEX}')) = 0""",
    "id_card": f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(coalesce(text,''), '(?i){X.ID_CARD_REGEX}')) AS BIGINT) AS metric
        FROM documents
        WHERE len(regexp_extract_all(coalesce(text,''), '(?i){X.ID_CARD_REGEX}')) < 3""",
    "no_punc": f"""
        WITH m AS (
          SELECT doc_id,
                 list_max(list_transform(
                    regexp_split_to_array(coalesce(text,''), '[.!?,;:\\n]'),
                    seg -> len(list_filter(regexp_split_to_array(trim(seg), '\\s+'), x -> x <> ''))
                 )) AS mx
          FROM documents)
        SELECT m.doc_id, CAST(mx AS BIGINT) AS metric
        FROM m JOIN documents d ON m.doc_id = d.doc_id
        WHERE regexp_matches(d.text, '\\S') AND mx <= 112""",
    "watermark": """
        SELECT doc_id,
               CAST(len(regexp_extract_all(coalesce(text,''), '(?i)(confidential|watermark|copyright|all rights reserved|draft)')) AS BIGINT) AS metric
        FROM documents
        WHERE regexp_matches(text, '\\S')
          AND len(regexp_extract_all(coalesce(text,''), '(?i)(confidential|watermark|copyright|all rights reserved|draft)')) = 0""",
    "stop_word": f"""
        WITH m AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents),
        h AS (
          SELECT doc_id, len(toks) AS words,
                 len(list_filter(toks, x -> list_contains({_SW_SQL}, lower(x)))) AS hits
          FROM m)
        SELECT doc_id, round(hits * 1.0 / words, 9) AS metric FROM h
        WHERE words > 0 AND hits * 1.0 / words > 0.05 AND hits >= 3""",
    "curly_bracket": """
        WITH m AS (
          SELECT doc_id, length(coalesce(text,'')) AS n,
                 len(regexp_extract_all(coalesce(text,''), '[{}]')) AS braces
          FROM documents)
        SELECT doc_id, round(braces * 1.0 / n, 9) AS metric FROM m
        WHERE n > 0 AND braces * 1.0 / n < 0.025""",
    "capital_words": f"""
        WITH m AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        h AS (SELECT doc_id, len(toks) AS words,
                     len(list_filter(toks, x -> upper(x) = x AND regexp_matches(x, '[A-Za-z]'))) AS caps
              FROM m)
        SELECT doc_id, round(caps * 1.0 / words, 9) AS metric FROM h
        WHERE words > 0 AND caps * 1.0 / words <= 0.2""",
    "lorem_ipsum": """
        WITH m AS (
          SELECT doc_id, length(coalesce(text,'')) AS n,
                 len(regexp_extract_all(lower(coalesce(text,'')), 'lorem\\s+ipsum')) AS hits
          FROM documents)
        SELECT doc_id, round(hits * 1.0 / n, 9) AS metric FROM m
        WHERE n > 0 AND hits * 1.0 / n <= 3e-8""",
    "blocklist": f"""
        WITH m AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
        SELECT doc_id,
               CAST(len(list_filter(toks, x -> list_contains({_BLOCK_SQL}, lower(x)))) AS BIGINT) AS metric
        FROM m
        WHERE len(list_filter(toks, x -> list_contains({_BLOCK_SQL}, lower(x)))) <= 1""",
    "special_character": f"""
        WITH m AS (
          SELECT doc_id, text,
                 len(regexp_extract_all(coalesce(text,''), '{_SPECIAL_RE2[0]}'))
               + len(regexp_extract_all(coalesce(text,''), '{_SPECIAL_RE2[1]}'))
               + len(regexp_extract_all(coalesce(text,''), '{_SPECIAL_RE2[2]}'))
               + len(regexp_extract_all(coalesce(text,''), '{_SPECIAL_RE2[3]}')) AS hits
          FROM documents)
        SELECT doc_id, CAST(hits AS BIGINT) AS metric FROM m
        WHERE regexp_matches(text, '\\S') AND hits = 0""",
    "line_start_bullet": """
        WITH m AS (
          SELECT doc_id,
                 list_filter(string_split(coalesce(text,''), chr(10)), l -> regexp_matches(l, '\\S')) AS lines
          FROM documents),
        h AS (SELECT doc_id, len(lines) AS n,
                     len(list_filter(lines, l -> list_contains(['-','*','•','●','▪','·','+'], substr(ltrim(l), 1, 1)))) AS b
              FROM m)
        SELECT doc_id, round(b * 1.0 / n, 9) AS metric FROM h
        WHERE n > 0 AND b * 1.0 / n <= 0.9""",
    "line_end_ellipsis": """
        WITH m AS (
          SELECT doc_id,
                 list_filter(string_split(coalesce(text,''), chr(10)), l -> regexp_matches(l, '\\S')) AS lines
          FROM documents),
        h AS (SELECT doc_id, len(lines) AS n,
                     len(list_filter(lines, l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '……'))) AS e
              FROM m)
        SELECT doc_id, round(e * 1.0 / n, 9) AS metric FROM h
        WHERE n > 0 AND e * 1.0 / n < 0.3""",
    "line_javascript": """
        WITH m AS (
          SELECT doc_id, text,
                 list_filter(string_split(coalesce(text,''), chr(10)), l -> regexp_matches(l, '\\S')) AS lines
          FROM documents),
        h AS (SELECT doc_id, text, len(lines) AS n,
                     len(list_filter(lines, l -> NOT contains(lower(l), 'javascript'))) AS nojs
              FROM m)
        SELECT doc_id, CAST(nojs AS BIGINT) AS metric FROM h
        WHERE regexp_matches(text, '\\S') AND (n <= 3 OR nojs >= 3)""",
}

# Gopher repetition rules (Rae et al. 2021, table A1) — beyond the
# reference's filter set; pretraining-pipeline staples. The documents
# table is single-line, which would make these gates vacuous (metric 0
# everywhere), so the gate queries run on a PLANTED multi-line derivation
# (house pattern: the embedding-dedup plants, the SMILES plants): doc
# text as line 1, its 60-char prefix as line 2, then doc_id-conditioned
# repeats — %3 repeats the full text line, %4 the prefix line, %5 the
# whole first paragraph — yielding metric spread on both sides of every
# threshold. Engine and oracle construct it independently.
_DUP_PLANT_SQL = """(
    SELECT doc_id,
           (t || chr(10) || l2) || chr(10) || chr(10) ||
           (l3 || chr(10) || l4) || chr(10) || chr(10) || p3 AS text
    FROM (
      SELECT doc_id, t, l2,
             CASE WHEN doc_id % 3 = 0 THEN t
                  ELSE 'u' || CAST(doc_id AS VARCHAR) END AS l3,
             CASE WHEN doc_id % 4 = 0 THEN l2
                  ELSE 'v' || CAST(doc_id AS VARCHAR) END AS l4,
             CASE WHEN doc_id % 5 = 0 THEN t || chr(10) || l2
                  ELSE 'w' || CAST(doc_id AS VARCHAR) END AS p3
      FROM (SELECT doc_id, coalesce(text,'') AS t,
                   substr(coalesce(text,''), 1, 60) AS l2
            FROM documents)))"""

_DUP_FILTER_ORACLES: dict[str, str] = {
    "dup_line_frac": f"""
        WITH m AS (
          SELECT doc_id,
                 list_filter(string_split(text, chr(10)),
                             l -> regexp_matches(l, '\\S')) AS lines
          FROM {_DUP_PLANT_SQL})
        SELECT doc_id,
               round(1.0 - len(list_distinct(lines)) * 1.0 / len(lines), 9) AS metric
        FROM m WHERE len(lines) > 0
          AND 1.0 - len(list_distinct(lines)) * 1.0 / len(lines) <= 0.30""",
    "dup_para_frac": f"""
        WITH m AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(text, '\\n{{2,}}'),
                             l -> regexp_matches(l, '\\S')) AS lines
          FROM {_DUP_PLANT_SQL})
        SELECT doc_id,
               round(1.0 - len(list_distinct(lines)) * 1.0 / len(lines), 9) AS metric
        FROM m WHERE len(lines) > 0
          AND 1.0 - len(list_distinct(lines)) * 1.0 / len(lines) <= 0.30""",
    "dup_line_char_frac": f"""
        WITH m AS (
          SELECT doc_id,
                 list_filter(string_split(text, chr(10)),
                             l -> regexp_matches(l, '\\S')) AS lines
          FROM {_DUP_PLANT_SQL}),
        h AS (SELECT doc_id,
                     list_sum(list_transform(lines, l -> length(l))) AS total,
                     list_sum(list_transform(list_distinct(lines), l -> length(l))) AS dchars
              FROM m WHERE len(lines) > 0)
        SELECT doc_id, round(1.0 - dchars * 1.0 / total, 9) AS metric
        FROM h WHERE total > 0 AND 1.0 - dchars * 1.0 / total <= 0.20""",
}


def _planted_multiline_docs(spark, sf):
    """Engine-side twin of _DUP_PLANT_SQL (independent construction)."""
    d = _t(spark, sf, "documents").select("doc_id", "text")
    t = F.coalesce(F.col("text"), F.lit(""))
    l2 = F.substring(t, 1, 60)
    sid = F.col("doc_id").cast("string")
    l3 = F.when(F.col("doc_id") % 3 == 0, t).otherwise(F.concat(F.lit("u"), sid))
    l4 = F.when(F.col("doc_id") % 4 == 0, l2).otherwise(F.concat(F.lit("v"), sid))
    p3 = F.when(F.col("doc_id") % 5 == 0, F.concat_ws("\n", t, l2)).otherwise(
        F.concat(F.lit("w"), sid)
    )
    ml = F.concat_ws(
        "\n\n", F.concat_ws("\n", t, l2), F.concat_ws("\n", l3, l4), p3
    )
    return d.select("doc_id", ml.alias("text"))


def _dup_filter_query(name: str):
    def q(spark: SparkSession, sf: str) -> DataFrame:
        out = with_filter_columns(_planted_multiline_docs(spark, sf), name)
        metric = F.round(F.col(f"{name}_metric").cast("double"), 9)
        return out.filter(F.col(f"{name}_keep")).select(
            "doc_id", metric.alias("metric")
        )

    return q


# -------------------------------------------------------------------- dedup

def _q_dedup_exact_md5(spark, sf):
    df = _t(spark, sf, "documents").select("doc_id", "text")
    return D.dedup_exact(df, ["text"], "doc_id", algo="md5")


def _q_dedup_ccnet_sha1_64(spark, sf):
    """The REAL CCNetDeduplicator path (ccnet_deduplicator.py:9-39):
    first-wins on the 64-bit sha1 prefix, via the engine's
    dedup_exact(algo='ccnet'). DuckDB 1.0 has no sha1 builtin — the
    oracle IMPLEMENTS SHA-1 itself as a recursive CTE (padding, message
    schedule, all 80 rounds per block in 32-bit BIGINT arithmetic,
    verified byte-for-byte against hashlib on boundary vectors and the
    full corpus), so the true crypto path has an exact independent twin."""
    df = _t(spark, sf, "documents").select("doc_id", "text")
    return D.dedup_exact(df, ["text"], "doc_id", algo="ccnet")


_SHA1_M = 4294967295


def _sha1_cte_sql(src_select: str) -> str:
    """Recursive-CTE SHA-1 over ``src_select`` (must yield (id, txt)).
    Emits CTEs ending in ``sha1hex(id, hx20)`` = lowercase hex digest.
    State machine: one recursion step per (block, round); the 16-entry
    message schedule window rides along as a BIGINT list; block
    boundaries fold the working vars into h0..h4. All arithmetic is
    BIGINT masked to 32 bits; rotations are shift/or/mask (note the outer
    parens on the mask — '&' binds looser than '+' in SQL)."""
    m = _SHA1_M
    rotl = lambda x, n: (  # noqa: E731
        f"(((({x}) << {n}) | (({x}) >> {32 - n})) & {m})"
    )
    return f"""
    src AS (SELECT id, hex(encode(txt)) AS hx, octet_length(encode(txt)) AS len
            FROM ({src_select})),
    pad AS (SELECT id,
                   hx || '80'
                      || repeat('0', 2 * (CASE WHEN (len % 64) < 56
                                               THEN 55 - (len % 64)
                                               ELSE 119 - (len % 64) END))
                      || lpad(hex(len * 8), 16, '0') AS ph
            FROM src),
    blocks AS (SELECT id, ph, (length(ph) / 128)::INT AS nblk FROM pad),
    sha AS (
      SELECT id, 0 AS blk, 0 AS rnd,
             1732584193::BIGINT AS h0, 4023233417::BIGINT AS h1,
             2562383102::BIGINT AS h2, 271733878::BIGINT AS h3,
             3285377520::BIGINT AS h4,
             1732584193::BIGINT AS a, 4023233417::BIGINT AS b,
             2562383102::BIGINT AS c, 271733878::BIGINT AS d,
             3285377520::BIGINT AS e,
             []::BIGINT[] AS w
      FROM blocks
      UNION ALL
      SELECT id, nblk_out AS blk, rnd_out AS rnd,
             h0n, h1n, h2n, h3n, h4n, an, bn, cn, dn, en, wn
      FROM (
        SELECT s.id,
               CASE WHEN s.rnd < 79 THEN s.blk ELSE s.blk + 1 END AS nblk_out,
               CASE WHEN s.rnd < 79 THEN s.rnd + 1 ELSE 0 END AS rnd_out,
               CASE WHEN s.rnd < 79 THEN s.h0 ELSE (s.h0 + temp) & {m} END AS h0n,
               CASE WHEN s.rnd < 79 THEN s.h1 ELSE (s.h1 + s.a) & {m} END AS h1n,
               CASE WHEN s.rnd < 79 THEN s.h2 ELSE (s.h2 + rb) & {m} END AS h2n,
               CASE WHEN s.rnd < 79 THEN s.h3 ELSE (s.h3 + s.c) & {m} END AS h3n,
               CASE WHEN s.rnd < 79 THEN s.h4 ELSE (s.h4 + s.d) & {m} END AS h4n,
               CASE WHEN s.rnd < 79 THEN temp ELSE (s.h0 + temp) & {m} END AS an,
               CASE WHEN s.rnd < 79 THEN s.a  ELSE (s.h1 + s.a) & {m} END AS bn,
               CASE WHEN s.rnd < 79 THEN rb   ELSE (s.h2 + rb) & {m} END AS cn,
               CASE WHEN s.rnd < 79 THEN s.c  ELSE (s.h3 + s.c) & {m} END AS dn,
               CASE WHEN s.rnd < 79 THEN s.d  ELSE (s.h4 + s.d) & {m} END AS en,
               CASE WHEN s.rnd < 79 THEN list_append(s.w, wt) ELSE []::BIGINT[] END AS wn
        FROM (
          SELECT s.*, b.ph, b.nblk,
                 CASE WHEN s.rnd < 16
                      THEN ('0x' || substr(b.ph, s.blk * 128 + s.rnd * 8 + 1, 8))::BIGINT
                      ELSE {rotl("xor(xor(s.w[s.rnd - 2], s.w[s.rnd - 7]),"
                                 " xor(s.w[s.rnd - 13], s.w[s.rnd - 15]))", 1)}
                 END AS wt,
                 CASE WHEN s.rnd < 20 THEN (s.b & s.c) | (xor(s.b, {m}) & s.d)
                      WHEN s.rnd < 40 THEN xor(xor(s.b, s.c), s.d)
                      WHEN s.rnd < 60 THEN (s.b & s.c) | (s.b & s.d) | (s.c & s.d)
                      ELSE xor(xor(s.b, s.c), s.d) END AS f,
                 CASE WHEN s.rnd < 20 THEN 1518500249::BIGINT
                      WHEN s.rnd < 40 THEN 1859775393::BIGINT
                      WHEN s.rnd < 60 THEN 2400959708::BIGINT
                      ELSE 3395469782::BIGINT END AS k,
                 {rotl("s.b", 30)} AS rb
          FROM sha s JOIN blocks b USING (id)
          WHERE s.blk < b.nblk
        ) s,
        LATERAL (SELECT ({rotl("s.a", 5)} + s.f + s.e + s.k + s.wt) & {m} AS temp) t
      )
    ),
    sha1hex AS (
      SELECT sha.id,
             lower(lpad(hex(h0), 8, '0') || lpad(hex(h1), 8, '0')
                   || lpad(hex(h2), 8, '0') || lpad(hex(h3), 8, '0')
                   || lpad(hex(h4), 8, '0')) AS hx20
      FROM sha JOIN blocks USING (id)
      WHERE sha.blk = blocks.nblk AND sha.rnd = 0
    )"""


def _q_dedup_ccnet_twin_md5(spark, sf):
    # TWIN, not the real thing: md5-prefix analogue of ccnet's sha1-64bit
    # first-wins machinery, named so the green row says what it checks
    # (DuckDB 1.0 lacks sha1 and its crypto extension needs network; the
    # engine's true sha1 path dedup_exact(algo="ccnet") is pytest-verified
    # in test_dedup, and dedup_ccnet_sha256_64 oracles a REAL crypto hash).
    df = _t(spark, sf, "documents").select("doc_id", "text")
    tagged = df.withColumn(
        "__h", F.substring(F.md5(F.concat_ws("\n", F.coalesce("text", F.lit("")))), 1, 16)
    )
    win = tagged.groupBy("__h").agg(
        F.min_by(F.struct("doc_id", "text"), F.col("doc_id")).alias("row")
    )
    return win.select("row.*")


def _q_dedup_ccnet_sha256_64(spark, sf):
    # The ccnet 64-bit-hash-prefix first-wins shape over a real
    # cryptographic hash BOTH engines implement natively: Spark sha2(·,256)
    # vs DuckDB sha256(·), first 16 hex chars = 64 bits — exercises the
    # exact machinery of ccnet_deduplicator.py:9-39 end-to-end with an
    # independent oracle (sha1 itself has no DuckDB twin in this container).
    df = _t(spark, sf, "documents").select("doc_id", "text")
    tagged = df.withColumn(
        "__h",
        F.substring(F.sha2(F.concat_ws("\n", F.coalesce("text", F.lit(""))), 256), 1, 16),
    )
    win = tagged.groupBy("__h").agg(
        F.min_by(F.struct("doc_id", "text"), F.col("doc_id")).alias("row")
    )
    return win.select("row.*")


def _q_dedup_minhash(spark, sf):
    df = _t(spark, sf, "documents").select("doc_id", "text")
    return D.dedup_minhash(df, "doc_id").select("doc_id", "text")


def _q_dedup_simhash(spark, sf):
    df = _t(spark, sf, "documents").select("doc_id", "text")
    return D.dedup_simhash(df, "doc_id").select("doc_id", "text")


def _q_dedup_ngram_chunks(spark, sf):
    df = _t(spark, sf, "documents").select("doc_id", "text")
    return D.dedup_ngram_chunks(df, "doc_id").select("doc_id", "text")


def _q_dedup_ngram_jaccard(spark, sf):
    df = _t(spark, sf, "documents").select("doc_id", "text")
    return D.dedup_ngram_jaccard(df, "doc_id", threshold=0.8).select("doc_id", "text")


def _q_dedup_embedding(spark, sf):
    """The synthetic embeddings carry no pair above the 0.97 threshold, so
    the raw table would exercise neither the verify nor the greedy resolve
    (a vacuous gate row). Plant exact duplicates (vec_id + 100000, same
    vector) for vec_id < 25 — first-wins must keep every original and drop
    every plant, and the oracle re-derives that from the same augmented
    input."""
    df = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    plants = df.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    aug = df.unionByName(plants)
    return D.dedup_embedding_cosine(aug, "vec_id", threshold=0.97, dim=64).select("vec_id")


def _q_dedup_semdedup(spark, sf):
    """SemDeDup (similarity.semdedup_kmeans): k-means-clustered embedding
    near-dedup, clusters from the deterministic integer Lloyd trainer.
    The corpus plants exact clones (must all drop) and first-coordinate
    x3 perturbed clones (a mix of outcomes) — see _SEMDEDUP_SRC."""
    df = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    exact = df.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    pert = df.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == F.lit(0), x * F.lit(3.0)).otherwise(x),
        ).alias("embedding"),
    )
    aug = df.unionByName(exact).unionByName(pert)
    return SIM.semdedup_kmeans(aug, threshold=0.95, train_fraction=0.5).select(
        "vec_id", F.col("cid").cast("int").alias("cid")
    )


# ---------------------------------------------- near-dup dedup DuckDB oracles
#
# Every near-dup family resolves first-wins over a *verified candidate edge*
# relation: rows i<j collide iff they share >= min_shared bands AND (for
# verified families) the exact similarity check passes. That relation is what
# the engine's bucket-claim greedy consumes (operators/dedup.py
# _greedy_claim_resolve), so an oracle that (1) re-derives the bands with the
# exact same integer arithmetic, (2) materializes the verified edges with a
# band self-join, and (3) replays the reference's sequential first-wins scan
# (minhash_deduplicator.py:74-86) as a recursive CTE over only the ids that
# have edges, reproduces the keep-set bit-for-bit. The greedy state is a
# kept-id list; a row is dropped iff any of its smaller verified neighbors is
# kept — identical to "a kept row claimed >= min_shared of my bands and the
# verify passed".
#
# Caveats (hold on the synthetic tables at every SF: min text length 48,
# pure-ASCII): docs shorter than the 5-char shingle window and empty-token
# docs are treated as never-colliding by the oracles, while the engine gives
# them degenerate signatures that can collide with other degenerate rows.
# The engine shingles CHAR 5-grams over their utf-8 bytes (datasketch unit);
# on this pure-ASCII corpus that equals the byte-window polynomial the SQL
# below computes via ord(substr(t,i,1)) — multibyte parity is pinned by
# tests/test_dedup.py::test_minhash_multibyte_corpus_matches_sequential.


def _greedy_dedup_oracle(prelude: str, edges_sql: str, final_select: str) -> str:
    return f"""
WITH RECURSIVE {prelude},
edges AS ({edges_sql}),
scan AS MATERIALIZED (
  SELECT id,
         coalesce(list_sort(list(DISTINCT src) FILTER (src IS NOT NULL)),
                  CAST([] AS BIGINT[])) AS nbrs,
         row_number() OVER (ORDER BY id) AS rn
  FROM (SELECT dst AS id, src FROM edges
        UNION ALL
        SELECT src AS id, NULL AS src FROM edges)
  GROUP BY id),
greedy AS (
  SELECT 0::BIGINT AS rn, CAST([] AS BIGINT[]) AS kept
  UNION ALL
  SELECT s.rn,
         CASE WHEN len(list_intersect(s.nbrs, g.kept)) = 0
              THEN list_append(g.kept, s.id) ELSE g.kept END
  FROM greedy g JOIN scan s ON s.rn = g.rn + 1),
fk AS (SELECT kept FROM greedy ORDER BY rn DESC LIMIT 1)
{final_select}"""


def _minhash_band_ctes(bands: int, rows_per_band: int, seed: int = 1) -> str:
    """CTE chain defining ``bands(doc_id, bi, bh)`` — the exact multiply-shift
    MinHash banding of operators/dedup.py minhash_signature_udf: distinct
    byte-5-gram base-257 polynomial shingles (exact in int64: < 2^41),
    h_i(x) = (a_i*x + b_i) mod 2^64 done in HUGEINT with a bitwise-AND mask
    (20x faster than %), unsigned min per permutation, band key = md5 of the
    comma-joined row-slice (same equality classes as the engine's xxhash64
    slice key)."""
    a, b = D.minhash_perm_constants(128, seed)
    used = bands * rows_per_band
    perm_rows = ",".join(
        f"({i},{int(x)}::HUGEINT,{int(y)}::HUGEINT)"
        for i, (x, y) in enumerate(zip(a, b))
        if i < used
    )
    return f"""c AS (SELECT doc_id, coalesce(text,'') AS t FROM documents),
sh0 AS (
  SELECT doc_id, list_distinct(list_transform(range(1, length(t) - 3),
           i -> ord(substr(t, i::int, 1))::HUGEINT * 4362470401
              + ord(substr(t, (i+1)::int, 1)) * 16974593
              + ord(substr(t, (i+2)::int, 1)) * 66049
              + ord(substr(t, (i+3)::int, 1)) * 257
              + ord(substr(t, (i+4)::int, 1)))) AS shs
  FROM c WHERE length(t) >= 5),
shu AS (SELECT doc_id, unnest(shs) AS x FROM sh0),
perms AS (SELECT * FROM (VALUES {perm_rows}) v(i, pa, pb)),
mins AS (
  SELECT doc_id, i, min((x * pa + pb) & 18446744073709551615::HUGEINT) AS mv
  FROM shu, perms GROUP BY doc_id, i),
bands AS (
  SELECT doc_id, (i // {rows_per_band})::int AS bi,
         md5(string_agg(mv, ',' ORDER BY i)) AS bh
  FROM mins GROUP BY doc_id, (i // {rows_per_band})::int)"""


_DOC_KEEP = """SELECT d.doc_id, d.text FROM documents d
WHERE d.doc_id NOT IN (SELECT id FROM scan)
   OR list_contains((SELECT kept FROM fk), d.doc_id)"""


def _minhash_oracle() -> str:
    b, r = D.optimal_band_param(0.9, 128)
    return _greedy_dedup_oracle(
        _minhash_band_ctes(b, r),
        """SELECT DISTINCT l.doc_id::BIGINT AS src, r.doc_id::BIGINT AS dst
           FROM bands l JOIN bands r
             ON l.bi = r.bi AND l.bh = r.bh AND l.doc_id < r.doc_id""",
        _DOC_KEEP,
    )


def _ngram_jaccard_oracle(threshold: float = 0.8) -> str:
    b, r = D.optimal_band_param(threshold, 128)
    edges = f"""SELECT c0.src, c0.dst FROM (
        SELECT DISTINCT l.doc_id::BIGINT AS src, r.doc_id::BIGINT AS dst
        FROM bands l JOIN bands r
          ON l.bi = r.bi AND l.bh = r.bh AND l.doc_id < r.doc_id) c0
      JOIN sh0 p1 ON p1.doc_id = c0.src
      JOIN sh0 p2 ON p2.doc_id = c0.dst
      WHERE len(p1.shs) + len(p2.shs) - len(list_intersect(p1.shs, p2.shs)) > 0
        AND len(list_intersect(p1.shs, p2.shs))
            / CAST(len(p1.shs) + len(p2.shs)
                   - len(list_intersect(p1.shs, p2.shs)) AS DOUBLE) >= {threshold}"""
    return _greedy_dedup_oracle(_minhash_band_ctes(b, r), edges, _DOC_KEEP)


def _simhash_oracle(max_hamming: int = 3) -> str:
    bit_rows = ",".join(f"({i},{1 << i}::HUGEINT)" for i in range(64))
    prelude = f"""tk AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(coalesce(text,'')), '\\s+'),
                             x -> x <> '') AS toks
  FROM documents),
tw AS (
  SELECT doc_id, tok, count(*) AS w
  FROM (SELECT doc_id, unnest(toks) AS tok FROM tk) GROUP BY doc_id, tok),
th AS (
  SELECT doc_id, w,
         ('0x' || substr(md5(tok), 17, 8))::BIGINT * 4294967296::HUGEINT
         + ('0x' || substr(md5(tok), 25, 8))::BIGINT AS h
  FROM tw),
bitsv AS (SELECT * FROM (VALUES {bit_rows}) v(bi, p)),
votes AS (
  SELECT doc_id, bi, sum(CASE WHEN (h & p) != 0 THEN w ELSE -w END) AS v
  FROM th, bitsv GROUP BY doc_id, bi),
sim AS (
  SELECT v0.doc_id, coalesce(sum(p) FILTER (v0.v > 0), 0::HUGEINT) AS shu
  FROM votes v0 JOIN bitsv USING (bi) GROUP BY v0.doc_id),
sims AS (
  SELECT doc_id,
         (CASE WHEN shu >= 9223372036854775808::HUGEINT
               THEN shu - 18446744073709551616::HUGEINT ELSE shu END)::BIGINT AS s,
         shu
  FROM sim),
bands AS (
  SELECT doc_id, b.j::int AS bi, ((shu // b.p16) % 65536)::int AS bh
  FROM sims, (VALUES (0,1::HUGEINT),(1,65536::HUGEINT),
                     (2,4294967296::HUGEINT),(3,281474976710656::HUGEINT)) b(j, p16))"""
    edges = f"""SELECT c0.src, c0.dst FROM (
        SELECT DISTINCT l.doc_id::BIGINT AS src, r.doc_id::BIGINT AS dst
        FROM bands l JOIN bands r
          ON l.bi = r.bi AND l.bh = r.bh AND l.doc_id < r.doc_id) c0
      JOIN sims s1 ON s1.doc_id = c0.src
      JOIN sims s2 ON s2.doc_id = c0.dst
      WHERE bit_count(xor(s1.s, s2.s)) <= {max_hamming}"""
    return _greedy_dedup_oracle(prelude, edges, _DOC_KEEP)


def _ngram_chunks_oracle(n_chunks: int = 3) -> str:
    prelude = f"""cc AS (SELECT doc_id, coalesce(text,'') AS t FROM documents),
ch AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(0, {n_chunks}),
           i -> md5(substr(t, (i * (length(t) // {n_chunks}) + 1)::int,
                           (length(t) // {n_chunks})::int))))) AS band
  FROM cc)"""
    edges = """SELECT DISTINCT l.doc_id::BIGINT AS src, r.doc_id::BIGINT AS dst
      FROM ch l JOIN ch r ON l.band = r.band AND l.doc_id < r.doc_id"""
    return _greedy_dedup_oracle(prelude, edges, _DOC_KEEP)


def _embedding_cosine_oracle(
    threshold: float = 0.97,
    n_planes: int = 12,
    n_tables: int = 3,
    dim: int = 64,
    src: str = "embeddings",
) -> str:
    thr_bp = int(round(threshold * 10_000))
    prelude = f"""qv AS (
  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
                                e -> CAST(floor(e * 1000000) AS BIGINT)) AS q
  FROM {src}),
pl AS (
  SELECT a.t, b.p, c.d,
         CASE WHEN substr(md5(a.t || ':' || b.p || ':' || c.d), 1, 1)
                   IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END AS w
  FROM range({n_tables}) a(t), range({n_planes}) b(p), range({dim}) c(d)),
qd AS (SELECT vec_id, d.d, q[(d.d + 1)::int] AS qd FROM qv, range({dim}) d(d)),
proj AS (
  SELECT vec_id, t, p, sum(qd * w) AS sv
  FROM qd JOIN pl USING (d) GROUP BY vec_id, t, p),
bands AS (
  SELECT vec_id,
         t || ':' || string_agg(CASE WHEN sv > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS band
  FROM proj GROUP BY vec_id, t),
pv AS (SELECT vec_id, q, list_sum(list_transform(q, x -> x * x)) AS nn FROM qv)"""
    edges = f"""SELECT src, dst FROM (
        SELECT c0.src, c0.dst, a.nn AS na, b.nn AS nb,
               list_sum(list_transform(range(1, {dim + 1}),
                        k -> a.q[k::int] * b.q[k::int])) AS dot
        FROM (SELECT DISTINCT l.vec_id::BIGINT AS src, r.vec_id::BIGINT AS dst
              FROM bands l JOIN bands r
                ON l.band = r.band AND l.vec_id < r.vec_id) c0
        JOIN pv a ON a.vec_id = c0.src
        JOIN pv b ON b.vec_id = c0.dst)
      WHERE dot > 0 AND dot * dot * 100000000 >= {thr_bp * thr_bp} * na * nb"""
    final = f"""SELECT d.vec_id FROM {src} d
WHERE d.vec_id NOT IN (SELECT id FROM scan)
   OR list_contains((SELECT kept FROM fk), d.vec_id)"""
    return _greedy_dedup_oracle(prelude, edges, final)


# ------------------------------------------------------------------ scorers

def _q_score_ngram(spark, sf):
    df = _par(_t(spark, sf, "documents"))
    return df.select("doc_id", F.round(S.ngram_score_native(F.col("text")), 9).alias("ngram_score"))


def _q_score_token_count(spark, sf):
    df = _t(spark, sf, "documents")
    e = S.token_count_exprs(F.col("text"))
    return df.select(
        "doc_id",
        e["n_tokens_ws"].cast("long").alias("n_tokens_ws"),
        e["n_chars"].cast("long").alias("n_chars_m"),
        e["n_tokens_bpe_est"].cast("long").alias("n_tokens_bpe_est"),
    )


_BPE_K = 8  # merges for the oracle-gated BPE queries (unrolled CTE depth)


def _q_score_token_count_bpe(spark, sf):
    """ToKenInfo upgraded (token_info.py:24-42): REAL corpus-trained BPE
    token counts — merge table learned from the documents table itself
    (exact-integer pair counts, lexicographic tie-break), counting via
    nested codegen'd string replaces. The oracle re-derives the ENTIRE
    training loop in SQL (one unrolled pair-count CTE per merge), so the
    merge table is recomputed, not shared."""
    from dataflow_spark.operators.bpe import bpe_token_count, train_bpe_local

    df = _t(spark, sf, "documents")
    # train_bpe_local equals the distributed merge loop exactly
    # (pytest-pinned tie-break and replace semantics); it replaces k
    # driver-coordinated Spark jobs with one vocab-sized collect + a
    # C-speed driver merge loop
    merges = train_bpe_local(df, "text", n_merges=_BPE_K)
    return df.select(
        "doc_id", bpe_token_count("text", merges).alias("n_tokens_bpe")
    )


def _q_answer_token_length_filter_bpe(spark, sf):
    """AnswerTokenLengthFilter with the r5 trained tokenizer (the
    reference counts with a real tokenizer — answer_token_length_filter.
    py:11-46); cap chosen so the sf corpus splits into keep/drop."""
    from dataflow_spark.operators.bpe import train_bpe_local
    from dataflow_spark.operators.reasoning import answer_token_length_filter

    df = _t(spark, sf, "documents").select("doc_id", "text")
    merges = train_bpe_local(df, "text", n_merges=_BPE_K)
    return answer_token_length_filter(
        df, "text", max_answer_token_length=200, merges=merges
    )


def _bpe_train_ctes(k: int, table: str = "documents") -> str:
    """CTE chain re-deriving the BPE training loop: w0 = word counts as
    ␟-interspersed strings; per merge i, p_i = the (count DESC, pair ASC)
    argmax adjacent pair and w_i = w_{i-1} with that pair merged via
    plain replace (leftmost-first non-overlapping = the BPE greedy scan,
    identical in Spark/DuckDB). coalesce guards make exhausted merge
    slots no-ops ('␟␟' can never occur: symbols are never empty)."""
    us, rs = "chr(31)", "chr(30)"
    clean = f"replace(replace(coalesce(text, ''), {us}, ''), {rs}, '')"
    parts = [
        f"""w0 AS MATERIALIZED (
  SELECT array_to_string(string_split(word, ''), {us}) AS w,
         count(*)::BIGINT AS cnt
  FROM (SELECT unnest(list_filter(
          regexp_split_to_array(trim({clean}), '\\s+'), x -> x <> '')) AS word
        FROM {table})
  GROUP BY 1)"""
    ]
    for i in range(1, k + 1):
        parts.append(
            f"""p{i} AS MATERIALIZED (
  SELECT pair FROM (
    SELECT unnest(list_transform(range(1, len(syms)),
             j -> syms[j] || {us} || syms[j + 1])) AS pair, cnt
    FROM (SELECT string_split(w, {us}) AS syms, cnt FROM w{i - 1})
    WHERE len(syms) >= 2)
  GROUP BY pair ORDER BY sum(cnt) DESC, pair ASC LIMIT 1)"""
        )
        parts.append(
            f"""w{i} AS MATERIALIZED (
  SELECT replace(w, coalesce((SELECT pair FROM p{i}), {us} || {us}),
                 coalesce(replace((SELECT pair FROM p{i}), {us}, ''), '')) AS w,
         cnt
  FROM w{i - 1})"""
        )
    return ",\n".join(parts)


def _bpe_count_oracle(k: int) -> str:
    """Full oracle: training replay + per-doc ␟/␞ segmentation + the k
    nested replaces + the separator-count token formula."""
    us, rs = "chr(31)", "chr(30)"
    clean = f"replace(replace(coalesce(text, ''), {us}, ''), {rs}, '')"
    docseg = f"""docseg AS (
  SELECT doc_id, array_to_string(list_transform(
           list_filter(regexp_split_to_array(trim({clean}), '\\s+'),
                       x -> x <> ''),
           wd -> array_to_string(string_split(wd, ''), {us})), {rs}) AS seg
  FROM documents)"""
    rep = "seg"
    for i in range(1, k + 1):
        rep = (
            f"replace({rep}, coalesce((SELECT pair FROM p{i}), {us} || {us}),"
            f" coalesce(replace((SELECT pair FROM p{i}), {us}, ''), ''))"
        )
    return f"""WITH {_bpe_train_ctes(k)},
{docseg},
m AS (SELECT doc_id, {rep} AS s FROM docseg)
SELECT doc_id,
       CAST(CASE WHEN length(s) = 0 THEN 0
            ELSE length(s) - length(replace(replace(s, {us}, ''), {rs}, '')) + 1
            END AS INTEGER) AS n_tokens_bpe
FROM m"""


def _bpe_filter_oracle(k: int, cap: int) -> str:
    base = _bpe_count_oracle(k)
    return f"""WITH counted AS ({base})
SELECT d.doc_id, d.text
FROM documents d JOIN counted c ON c.doc_id = d.doc_id
WHERE c.n_tokens_bpe <= {cap}"""


def _q_score_quality(spark, sf):
    df = _t(spark, sf, "documents")
    return df.select("doc_id", F.round(S.quality_score_native(F.col("text")), 9).alias("quality"))


def _q_score_lang_id(spark, sf):
    df = _t(spark, sf, "documents")
    return df.select("doc_id", S.lang_id_native(F.col("text")).alias("lang_pred"))


def _q_score_distinct_n(spark, sf):
    """Corpus-level distinct-1/distinct-2 per source (Li et al. 2016,
    the generation-diversity staple the reference's Vendi/Task2Vec
    family sits beside): |distinct n-grams| / |n-grams|. One explode +
    one combinable count-distinct aggregate per n — corpus-size state
    never leaves the executors."""
    df = _t(spark, sf, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))), r"\s+"),
        lambda x: x != "",
    )
    uni = df.select("source", F.explode(toks).alias("g"))
    bi = df.select(
        "source",
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
    )
    d1 = uni.groupBy("source").agg(
        F.round(F.countDistinct("g") / F.count("g"), 9).alias("distinct_1")
    )
    d2 = bi.groupBy("source").agg(
        F.round(F.countDistinct("g") / F.count("g"), 9).alias("distinct_2")
    )
    return d1.join(d2, "source", "left")


def _q_quality_signals(spark, sf):
    """Dolma/RedPajama-style fused signal bundle (stats.
    quality_signals_exprs): eleven per-document quality signals — each
    individually oracled elsewhere — computed in ONE projection over ONE
    parquet scan (the 100-TB lever is the scan count)."""
    from dataflow_spark.functions.stats import quality_signals_exprs

    df = _par(_t(spark, sf, "documents"))
    sig = quality_signals_exprs(F.col("text"))
    return df.select("doc_id", *[col.alias(k) for k, col in sig.items()])


def _q_score_fingerprint(spark, sf):
    df = _t(spark, sf, "documents")
    return df.select("doc_id", S.fingerprint_md5_native(F.col("text")).alias("fp"))


def _q_score_lexdiv(spark, sf):
    df = _t(spark, sf, "documents")
    res = S.lexical_diversity_udf()(F.col("text"))
    return df.select(
        "doc_id",
        F.round(res["mtld"], 6).alias("mtld"),
        F.round(res["hdd"], 6).alias("hdd"),
    )


def _q_score_winnowing(spark, sf):
    # exploded (doc_id, fp) rows — scalar columns so the driver's
    # canonicalizer can sort/hash them (arrays are unhashable in pandas)
    df = _t(spark, sf, "documents")
    return df.select(
        "doc_id", S.winnowing_fingerprints_native(F.col("text")).alias("fps")
    ).select("doc_id", F.explode("fps").alias("fp"))


_SCORER_ORACLES = {
    "score_ngram": f"""
        WITH m AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(
                    translate(lower(coalesce(text,'')), '{_PUNCT_SQL}', ''), '\\s+'),
                    x -> x <> '') AS toks
          FROM documents)
        SELECT doc_id,
               round(CASE WHEN len(toks) < 5 THEN 1.0
                     ELSE len(list_distinct(list_transform(range(1, len(toks) - 3),
                          i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) * 1.0
                          / (len(toks) - 4) END, 9) AS ngram_score
        FROM m""",
    "score_token_count": f"""
        SELECT doc_id,
               CAST(len({_TOKS}) AS BIGINT) AS n_tokens_ws,
               CAST(length(coalesce(text,'')) AS BIGINT) AS n_chars_m,
               CAST(ceil(length(coalesce(text,'')) / 4.0) AS BIGINT) AS n_tokens_bpe_est
        FROM documents""",
    "score_quality": f"""
        WITH m AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
        h AS (
          SELECT doc_id, len(toks) AS n,
                 len(list_filter(toks, x -> list_contains({_SW_SQL}, lower(x)))) AS stop_hits,
                 len(list_filter(toks, x -> upper(x) = x AND regexp_matches(x, '[A-Za-z]'))) AS caps,
                 len(regexp_extract_all(coalesce(text,''), '#'))
                 + len(regexp_extract_all(coalesce(text,''), '\\.\\.\\.'))
                 + len(regexp_extract_all(coalesce(text,''), '…')) AS sym
          FROM m)
        SELECT doc_id,
               round(CASE WHEN n > 0 THEN
                 0.3 * least(1.0, n / 50.0)
               + 0.3 * least(1.0, 5.0 * (stop_hits / CAST(n AS DOUBLE)))
               + 0.2 * (1.0 - caps / CAST(n AS DOUBLE))
               + 0.2 * greatest(0.0, 1.0 - 10.0 * (sym / CAST(n AS DOUBLE)))
               ELSE 0.0 END, 9) AS quality
        FROM h""",
    "score_lang_id": f"""
        WITH m AS (
          SELECT doc_id, list_transform({_TOKS}, x -> lower(x)) AS toks FROM documents),
        h AS (
          SELECT doc_id,
                 len(list_filter(toks, x -> list_contains({_sql_lang_arr('en')}, x))) AS c_en,
                 len(list_filter(toks, x -> list_contains({_sql_lang_arr('de')}, x))) AS c_de,
                 len(list_filter(toks, x -> list_contains({_sql_lang_arr('fr')}, x))) AS c_fr,
                 len(list_filter(toks, x -> list_contains({_sql_lang_arr('es')}, x))) AS c_es
          FROM m)
        SELECT doc_id,
               CASE WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
                    WHEN c_de > 0 AND c_de >= c_fr AND c_de >= c_es THEN 'de'
                    WHEN c_fr > 0 AND c_fr >= c_es THEN 'fr'
                    WHEN c_es > 0 THEN 'es'
                    ELSE 'unknown' END AS lang_pred
        FROM h""",
    "score_fingerprint": """
        SELECT doc_id,
               md5(trim(regexp_replace(lower(coalesce(text,'')), '\\s+', ' ', 'g'))) AS fp
        FROM documents""",
    # winnowing: md5-based char 8-gram hashes, window-16 minima, distinct
    # sorted, exploded — exact twin of winnowing_fingerprints_native
    "score_winnowing": """
        WITH m AS (
          SELECT doc_id,
                 trim(regexp_replace(lower(coalesce(text,'')), '\\s+', ' ', 'g')) AS norm
          FROM documents),
        g AS (
          SELECT doc_id,
                 list_transform(range(1, len(norm) - 6),
                   i -> ('0x' || substr(md5(substr(norm, i, 8)), 1, 15))::BIGINT) AS h
          FROM m WHERE len(norm) >= 8),
        w AS (
          SELECT doc_id,
                 CASE WHEN len(h) <= 16 THEN [list_min(h)]
                      ELSE list_transform(range(1, len(h) - 14),
                             i -> list_min(h[i:i+15]))
                 END AS mins
          FROM g)
        SELECT doc_id, unnest(list_sort(list_distinct(mins))) AS fp FROM w""",
}

_SCORER_ORACLES["score_distinct_n"] = f"""
    WITH tk AS (SELECT source,
                       list_transform({_TOKS}, x -> lower(x)) AS toks
                FROM documents),
    uni AS (SELECT source, unnest(toks) AS g FROM tk),
    bi AS (SELECT source, u.g FROM tk,
           unnest(CASE WHEN len(toks) >= 2
                  THEN list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i + 1])
                  ELSE [] END) AS u(g)),
    d1 AS (SELECT source,
                  round(count(DISTINCT g) * 1.0 / count(g), 9) AS distinct_1
           FROM uni GROUP BY source),
    d2 AS (SELECT source,
                  round(count(DISTINCT g) * 1.0 / count(g), 9) AS distinct_2
           FROM bi GROUP BY source)
    SELECT d1.source, d1.distinct_1, d2.distinct_2
    FROM d1 LEFT JOIN d2 USING (source)"""

# quality_signals: the fused bundle replays every member signal's oracle
# expression over ONE shared token CTE pair (toks = whitespace tokens,
# utoks = punct-stripped lowercase tokens — the two tokenizations the
# member operators use), mirroring the engine's single-Project fusion.
_SCORER_ORACLES["quality_signals"] = f"""
    WITH m AS (
      SELECT doc_id, text, {_TOKS} AS toks,
             list_filter(regexp_split_to_array(
                translate(lower(coalesce(text,'')), '{_PUNCT_SQL}', ''), '\\s+'),
                x -> x <> '') AS utoks,
             length(regexp_replace(coalesce(text,''), '\\s', '', 'g')) AS nschars
      FROM documents),
    h AS (
      SELECT doc_id, text, toks, utoks, nschars,
             len(toks) AS words,
             len(list_filter(toks, x -> list_contains({_SW_SQL}, lower(x)))) AS stop_hits,
             len(list_filter(toks, x -> upper(x) = x AND regexp_matches(x, '[A-Za-z]'))) AS caps,
             len(regexp_extract_all(coalesce(text,''), '#'))
             + len(regexp_extract_all(coalesce(text,''), '\\.\\.\\.'))
             + len(regexp_extract_all(coalesce(text,''), '…')) AS sym,
             len(list_filter(list_transform(toks, x -> lower(x)),
                             x -> list_contains({_sql_lang_arr('en')}, x))) AS c_en,
             len(list_filter(list_transform(toks, x -> lower(x)),
                             x -> list_contains({_sql_lang_arr('de')}, x))) AS c_de,
             len(list_filter(list_transform(toks, x -> lower(x)),
                             x -> list_contains({_sql_lang_arr('fr')}, x))) AS c_fr,
             len(list_filter(list_transform(toks, x -> lower(x)),
                             x -> list_contains({_sql_lang_arr('es')}, x))) AS c_es
      FROM m)
    SELECT doc_id,
           CAST(words AS BIGINT) AS n_words,
           CAST(length(coalesce(text,'')) AS BIGINT) AS n_chars,
           CASE WHEN words > 0 THEN round(nschars * 1.0 / words, 9) END AS mean_word_len,
           CASE WHEN len(utoks) > 0
                THEN round(len(list_distinct(utoks)) * 1.0 / len(utoks), 9)
           END AS unique_word_ratio,
           CASE WHEN words > 0
                THEN round(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
                           * 1.0 / words, 9)
           END AS alpha_word_ratio,
           CASE WHEN words > 0 THEN round(sym * 1.0 / words, 9) END AS symbol_word_ratio,
           CASE WHEN words > 0 THEN round(stop_hits * 1.0 / words, 9) END AS stopword_ratio,
           CASE WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
                WHEN c_de > 0 AND c_de >= c_fr AND c_de >= c_es THEN 'de'
                WHEN c_fr > 0 AND c_fr >= c_es THEN 'fr'
                WHEN c_es > 0 THEN 'es'
                ELSE 'unknown' END AS lang_pred,
           round(CASE WHEN len(utoks) < 5 THEN 1.0
                 ELSE len(list_distinct(list_transform(range(1, len(utoks) - 3),
                      i -> array_to_string(list_slice(utoks, i, i + 4), ' ')))) * 1.0
                      / (len(utoks) - 4) END, 9) AS ngram_score,
           round(CASE WHEN words > 0 THEN
             0.3 * least(1.0, words / 50.0)
           + 0.3 * least(1.0, 5.0 * (stop_hits / CAST(words AS DOUBLE)))
           + 0.2 * (1.0 - caps / CAST(words AS DOUBLE))
           + 0.2 * greatest(0.0, 1.0 - 10.0 * (sym / CAST(words AS DOUBLE)))
           ELSE 0.0 END, 9) AS quality,
           md5(trim(regexp_replace(lower(coalesce(text,'')), '\\s+', ' ', 'g'))) AS fp
    FROM h"""


# ---------------------------------------------------------- windows (events)

def _q_window_tumbling(spark, sf):
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.col("value").cast("decimal(30,6)")).cast("double")).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            F.round("sum_value", 4).alias("sum_value"),
        )
    )


def _q_window_sliding(spark, sf):
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def _q_window_session(spark, sf):
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


_WINDOW_ORACLES = {
    "window_tumbling": """
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               count(*) AS n_events,
               round(CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE), 4) AS sum_value
        FROM events GROUP BY 1, 2""",
    "window_sliding": """
        SELECT strftime(time_bucket(INTERVAL '30 minutes', ts)
                        - k * INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, count(*) AS n_events
        FROM events, unnest([0, 1]) AS t(k)
        GROUP BY 1, 2""",
    "window_session": """
        WITH gaps AS (
          SELECT user_id, ts,
                 CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                           > INTERVAL '10 minutes' OR
                           lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                      THEN 1 ELSE 0 END AS new_s
          FROM events),
        islands AS (
          SELECT user_id, ts,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM gaps)
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(max(ts) + INTERVAL '10 minutes', '%Y-%m-%d %H:%M:%S') AS session_end,
               count(*) AS n_events
        FROM islands GROUP BY user_id, sid""",
}


# ------------------------------------------------- transcripts-shaped (events)

# Deterministic SQL-expressible transcripts derivation so the DuckDB oracle
# can see the same table: conv = user, turn order by (ts, event_id),
# role alternates user/assistant by event_id parity.
_TRANSCRIPT_SQL = """
  SELECT 'c' || CAST(user_id AS VARCHAR) AS conv_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS BIGINT) AS turn_idx,
         CASE WHEN event_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
         event_type || ':' || CAST(event_id AS VARCHAR) AS text,
         ts
  FROM events
"""


def _derived_transcripts(spark, sf) -> DataFrame:
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("long").alias("turn_idx"),
        F.when(F.col("event_id") % 2 == 0, "user").otherwise("assistant").alias("role"),
        F.concat_ws(":", "event_type", F.col("event_id").cast("string")).alias("text"),
        "ts",
    )


def _q_assembly(spark, sf):
    """Batch conversation assembly: ordered turns → 'role:text' lines,
    drop trailing user turn (consistent_chat.py:116-132 semantics)."""
    tr = _derived_transcripts(spark, sf)
    agg = tr.groupBy("conv_id").agg(
        F.array_sort(
            F.collect_list(F.struct("turn_idx", "role", "text"))
        ).alias("turns")
    )
    turns = F.col("turns")
    trailing_user = F.element_at(turns, -1)["role"] == "user"
    trimmed = F.when(trailing_user, F.slice(turns, 1, F.size(turns) - 1)).otherwise(turns)
    return agg.select(
        "conv_id",
        F.size(trimmed).cast("long").alias("n_turns"),
        F.array_join(
            F.transform(trimmed, lambda t: F.concat_ws("|", t["role"], t["text"])), "\n"
        ).alias("transcript"),
    ).filter(F.col("n_turns") > 0)


def _q_join_user_assistant(spark, sf):
    """Pair each user turn with the FIRST later assistant turn in the same
    conversation (batch form of the stream-stream join,
    func_call_operators.py:517-567 pairing semantics).

    Plan: ONE window pass per conv_id — no join at all. The round-1 conv_id
    equi-join was O(users × assistants) per conversation; a 100k-turn
    support thread at 10^12 scale would square. First-following is derived
    as a GROWING frame over DESC turn_idx (last non-null over
    (unboundedPreceding, -1)): Spark evaluates growing frames as a running
    aggregate — genuinely linear — whereas a (1, unboundedFollowing) frame
    is re-aggregated per row (O(n²) per conversation)."""
    tr = _derived_transcripts(spark, sf)
    w = (
        Window.partitionBy("conv_id")
        .orderBy(F.col("turn_idx").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nxt = F.last(
        F.when(F.col("role") == "assistant", F.struct("turn_idx", "ts")),
        ignorenulls=True,
    ).over(w)
    return (
        tr.withColumn("nxt", nxt)
        .filter((F.col("role") == "user") & F.col("nxt").isNotNull())
        .select(
            "conv_id",
            F.col("turn_idx").alias("user_turn_idx"),
            F.col("nxt.turn_idx").alias("assistant_turn_idx"),
            # integer microseconds — exact on both engines, no FP flooring
            # parquet ts arrives as TIMESTAMP_NTZ; session tz is UTC so the
            # cast is a pure reinterpretation
            (
                F.unix_micros(F.col("nxt.ts").cast("timestamp"))
                - F.unix_micros(F.col("ts").cast("timestamp"))
            )
            .cast("long")
            .alias("latency_us"),
        )
    )


_TRANSCRIPT_ORACLES = {
    "assembly_conversations": f"""
        WITH tr AS ({_TRANSCRIPT_SQL}),
        lst AS (
          SELECT conv_id,
                 list(role || '|' || text ORDER BY turn_idx) AS items,
                 arg_max(role, turn_idx) AS last_role
          FROM tr GROUP BY conv_id),
        trimmed AS (
          SELECT conv_id,
                 CASE WHEN last_role = 'user' THEN items[1:len(items)-1] ELSE items END AS items
          FROM lst)
        SELECT conv_id, CAST(len(items) AS BIGINT) AS n_turns,
               array_to_string(items, chr(10)) AS transcript
        FROM trimmed WHERE len(items) > 0""",
    "join_user_assistant": f"""
        WITH tr AS ({_TRANSCRIPT_SQL})
        SELECT u.conv_id, u.turn_idx AS user_turn_idx,
               min(a.turn_idx) AS assistant_turn_idx,
               date_diff('microsecond', u.ts, min_by(a.ts, a.turn_idx)) AS latency_us
        FROM tr u JOIN tr a ON u.conv_id = a.conv_id
         AND a.role = 'assistant' AND u.role = 'user' AND a.turn_idx > u.turn_idx
        GROUP BY u.conv_id, u.turn_idx, u.ts""",
}


# -------------------------------------------------------------------- ANN

def _q_ann_bruteforce(spark, sf):
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return SIM.ann_topk_bruteforce(emb, queries, k=5)


def _q_ann_lsh(spark, sf):
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return SIM.ann_topk_lsh(emb, queries, k=5, dim=64)


def _q_ann_ivf(spark, sf):
    # train_fraction=0.5: k-means trains on a deterministic md5-hash
    # half-sample (the 100-TB lever); assignment + probing stay exact
    # over the full corpus, and the oracle replays the same sample
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return SIM.ann_topk_ivf(emb, queries, k=5, train_fraction=0.5)


# ------------------------------------------------------- bigram LM / ppl

def _q_score_bigram_perplexity(spark, sf):
    df = _t(spark, sf, "documents").select("doc_id", "text")
    return LM.bigram_perplexity(df, "doc_id")


def _q_classify_source_nb(spark, sf):
    """Corpus-trained multinomial Naive Bayes (operators/nb.py) — the
    real-trained-model upgrade of the reference's model-served classifier
    family: predict each document's source from its tokens, model trained
    on the corpus itself. Oracle re-derives training + scoring + argmax."""
    from dataflow_spark.operators.nb import nb_classify

    df = _t(spark, sf, "documents")
    return nb_classify(df, "doc_id", "source")


_NB_ALPHA = "abcdefghijklmnopqrstuvwxyz"
# per-language Caesar rotations: the fixed tables' text is
# lang-independent word soup, so a lang-correlated corpus is synthesized
# by rotating the alphabet per language — each language becomes a
# distinct character distribution the char-trigram model can actually
# learn (en = identity, the baseline class)
_NB_LANG_ROT = {"de": 5, "en": 0, "es": 10, "fr": 15, "zh": 20}


def _q_classify_lang_chargram(spark, sf):
    """Char-trigram Naive Bayes language classifier (the fastText-style
    feature space) — the second real trained-model feature space through
    the same NB machinery (operators/nb.py with features=
    char_trigrams_expr). Trained and scored on a lang-correlated derived
    corpus (per-lang alphabet rotation, identical translate() in both
    engines); the oracle replays training + scoring + argmax over the
    trigram space."""
    from dataflow_spark.operators.nb import (
        char_trigrams_expr,
        char_trigrams_kernel,
        nb_classify,
    )

    df = _t(spark, sf, "documents").select("doc_id", "text", "lang")
    sub = F.lower(F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 80))
    derived = sub
    for lg, k in sorted(_NB_LANG_ROT.items()):
        if k:
            derived = F.when(
                F.col("lang") == lg,
                F.translate(sub, _NB_ALPHA, _NB_ALPHA[k:] + _NB_ALPHA[:k]),
            ).otherwise(derived)
    d = df.select("doc_id", "lang", derived.alias("text"))
    return nb_classify(
        d,
        "doc_id",
        "lang",
        features=char_trigrams_expr,
        features_kernel=char_trigrams_kernel,
    )


def _q_score_trigram_kn(spark, sf):
    """Interpolated Kneser-Ney trigram perplexity (the KenLM-semantics
    upgrade of the bigram model) — corpus-trained, exact-integer counts,
    ordered fold; oracle replays the whole KN table derivation."""
    df = _t(spark, sf, "documents").select("doc_id", "text")
    return LM.trigram_kn_perplexity(df, "doc_id")


def _q_score_perplexity_cjk(spark, sf):
    """Bigram perplexity over a synthesized unsegmented (Han) corpus —
    the CJK char-level tokenization fallback exercised end-to-end
    (lm.segment_unsegmented): without it every synthesized document
    would collapse to ONE token and the scores would be degenerate.
    Corpus synthesis is translate()-based and identical in the oracle."""
    from dataflow_spark.entry_queries import _CJK_HAN, _CJK_LATIN  # self

    df = _t(spark, sf, "documents").select(
        "doc_id",
        F.translate(
            F.lower(F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 60)),
            _CJK_LATIN,
            _CJK_HAN,
        ).alias("text"),
    )
    return LM.bigram_perplexity(df, "doc_id")


def _q_score_perplexity_thai(spark, sf):
    """Thai twin of the CJK query (r7 ask #6): translate a-z onto the 26
    Thai consonants U+0E01..U+0E1A, producing whitespace-free Thai runs
    that exercise the widened unsegmented-script char-level fallback
    (lm.CJK_CLASS now spans Thai/Lao/Myanmar/Khmer) in training AND
    scoring. Synthesis is identical in the DuckDB oracle."""
    from dataflow_spark.entry_queries import _CJK_LATIN, _CJK_THAI  # self

    df = _t(spark, sf, "documents").select(
        "doc_id",
        F.translate(
            F.lower(F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 60)),
            _CJK_LATIN,
            _CJK_THAI,
        ).alias("text"),
    )
    return LM.bigram_perplexity(df, "doc_id")


def _q_perplexity_lm_filter(spark, sf):
    df = _t(spark, sf, "documents").select("doc_id", "text")
    return LM.perplexity_filter(
        df, "doc_id", min_score=0.0, max_score=_PPL_MAX
    ).select("doc_id", "text")


def _q_ccnet_ppl_buckets(spark, sf):
    """CCNet's head/middle/tail per-language perplexity split
    (lm.ppl_buckets — Wenzek 2020 §4.4; the reference consumes the
    buckets through its KenLM scorer, Kenlm/model.py:23-120). Cutoffs
    come from a deterministic md5-Bernoulli sample so the corpus side is
    a broadcast join + two comparisons — no per-language global window."""
    df = _t(spark, sf, "documents").select("doc_id", "text", "lang")
    return LM.ppl_buckets(df, "doc_id", lang_col="lang")


def _q_ccnet_pipeline(spark, sf):
    """The full CCNet chain (Wenzek 2020; the reference runs it as
    CCNetDeduplicator + Kenlm scorer stages) composed end-to-end as one
    lazy plan: ccnet paragraph normalization → exact-hash first-wins
    dedup (one map-side-combinable shuffle) → bigram-LM perplexity
    trained on the SURVIVORS → per-language head/middle/tail via
    sample-derived cutoffs → keep head+middle. Every stage is the
    already-oracled operator; the composition itself is what this key
    gates (and at 100 TB the chain is exactly three shuffles: the dedup
    hash, the two LM count tables)."""
    df = _t(spark, sf, "documents").select("doc_id", "text", "lang")
    norm = df.select(
        "doc_id",
        REFINERS["ccnet_normalize"].native(F.col("text")).alias("text"),
        "lang",
    )
    surv = D.dedup_exact(norm, ["text"], "doc_id", algo="sha256")
    out = LM.ppl_buckets(surv, "doc_id", lang_col="lang")
    return out.filter(F.col("ppl_bucket") != F.lit("tail"))


# threshold chosen to split the synthetic corpus non-trivially (both kept
# and dropped rows exist at every sf), mirroring PerplexityFilter's
# min<=ppl<=max band semantics
_PPL_MAX = 30.0


def _q_superfiltering_ifd(spark, sf):
    """Superfiltering IFD over documents: instruction = first 8 tokens,
    response = the rest (the synthetic corpus has no sentence breaks, so
    a token split — the sft_from_seed convention — keeps the query
    non-vacuous); docs of <= 8 tokens have an empty response and score
    NULL, as the reference does for output == ''."""
    df = _t(spark, sf, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    toks = F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
    split = df.select(
        "doc_id",
        F.array_join(F.slice(toks, 1, 8), " ").alias("instr"),
        F.array_join(F.slice(toks, 9, 1_000_000), " ").alias("resp"),
    )
    return LM.superfiltering_ifd(split, "doc_id", "instr", "resp")


# RE2 spelling of lm.CJK_CLASS (Java regex uses the literal chars; RE2
# wants \x{...}): Han + kana blocks whose code points tokenize char-level
_CJK_SQL = (
    "[\\x{0e00}-\\x{0e7f}\\x{0e80}-\\x{0eff}"
    "\\x{1000}-\\x{109f}\\x{1780}-\\x{17ff}"
    "\\x{3040}-\\x{30ff}\\x{3400}-\\x{4dbf}"
    "\\x{4e00}-\\x{9fff}\\x{f900}-\\x{faff}]"
)


def _seg_sql(x: str) -> str:
    """Replay of lm.segment_unsegmented: space out each unsegmented-script
    code point before the whitespace split (r5 ask #4)."""
    return f"regexp_replace({x}, '({_CJK_SQL})', ' \\1 ', 'g')"


def _tok_sql(x: str) -> str:
    """Replay of lm.tokens_expr — the shared LM/KN/NB/IFD tokenizer."""
    return (
        f"list_filter(regexp_split_to_array(lower({_seg_sql(x)}), '\\s+'),"
        " t -> t <> '')"
    )

_LM_ORACLES_IFD = {
    "superfiltering_ifd": f"""
        WITH t0 AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                             t -> t <> '') AS tk0
          FROM documents),
        src AS (
          SELECT doc_id,
                 array_to_string(list_slice(tk0, 1, 8), ' ') AS instr,
                 array_to_string(list_slice(tk0, 9, len(tk0)), ' ') AS resp
          FROM t0),
        wtoks AS (SELECT doc_id AS id, {_tok_sql("instr || chr(10) || resp")} AS tk
                  FROM src),
        big AS (SELECT t.id, u.i AS pos,
                       CASE WHEN u.i = 1 THEN '<s>' ELSE t.tk[u.i - 1] END AS w1,
                       t.tk[u.i] AS w2
                FROM wtoks t, unnest(range(1, CAST(len(t.tk) AS BIGINT) + 1)) AS u(i)),
        bc AS (SELECT w1, w2, count(*) AS c FROM big GROUP BY w1, w2),
        cc AS (SELECT w1, count(*) AS ctx FROM big GROUP BY w1),
        vv AS (SELECT count(DISTINCT w2) AS v FROM big),
        rtoks AS (SELECT s.doc_id AS id,
                         {_tok_sql("s.resp")} AS rtk,
                         coalesce({_tok_sql("s.instr")}[-1], '<s>') AS seed
                  FROM src s),
        chains AS (
          SELECT id, 'c' AS ch, u.i AS pos,
                 CASE WHEN u.i = 1 THEN seed ELSE rtk[u.i - 1] END AS w1,
                 rtk[u.i] AS w2
          FROM rtoks, unnest(range(1, CAST(len(rtk) AS BIGINT) + 1)) AS u(i)
          UNION ALL
          SELECT id, 'i' AS ch, u.i AS pos,
                 CASE WHEN u.i = 1 THEN '<s>' ELSE rtk[u.i - 1] END AS w1,
                 rtk[u.i] AS w2
          FROM rtoks, unnest(range(1, CAST(len(rtk) AS BIGINT) + 1)) AS u(i)),
        terms AS (SELECT ch, id, pos,
                         ln(CAST(coalesce(bc.c, 0) + 1 AS DOUBLE)
                            / CAST(coalesce(cc.ctx, 0) + v.v AS DOUBLE)) AS lp
                  FROM chains LEFT JOIN bc USING (w1, w2) LEFT JOIN cc USING (w1), vv v),
        pd AS (SELECT id, ch, list_sum(list(lp ORDER BY pos)) AS lps, count(*) AS n
               FROM terms GROUP BY id, ch)
        SELECT s.doc_id,
               round(exp(-pc.lps / pc.n) / exp(-pi.lps / pi.n), 6) AS ifd
        FROM src s
        LEFT JOIN pd pc ON pc.id = s.doc_id AND pc.ch = 'c'
        LEFT JOIN pd pi ON pi.id = s.doc_id AND pi.ch = 'i'""",
}


# ------------------------------------------------ reasoning judger/filters

def _q_answer_token_length_filter(spark, sf):
    """AnswerTokenLengthFilter (answer_token_length_filter.py:11-46):
    keep answers within the token cap; BPE-estimate counter (the same
    pinned stand-in ToKenInfo uses for its tokenizer)."""
    from dataflow_spark.operators.reasoning import answer_token_length_filter

    df = _t(spark, sf, "documents").select("doc_id", "text")
    return answer_token_length_filter(df, "text", max_answer_token_length=75)


def _q_answer_judger_math(spark, sf):
    """AnswerJudger_MathVerify (answer_judger_mathverify.py:9-82):
    deterministic parse/verify over a pinned grammar — five answer-format
    variants per doc exercise boxed/decimal/fraction/percent/string paths,
    both verdicts."""
    from dataflow_spark.operators.reasoning import answer_judger_math

    docs = _t(spark, sf, "documents")
    v = ((F.col("doc_id") * 37) % 1000).cast("string")
    v2 = ((F.col("doc_id") * 37) % 1000 * 2).cast("string")
    m = F.col("doc_id") % 5
    answer = (
        F.when(m == 0, F.concat(F.lit("\\boxed{"), v, F.lit("}")))
        .when(m == 1, F.concat(v, F.lit(".000")))
        .when(m == 2, F.concat(v2, F.lit(" / 2")))
        .when(m == 3, F.concat(v, F.lit("%")))
        .otherwise(F.concat(F.lit("Answer Is "), v))
    )
    gt = (
        F.when(m == 1, F.concat(F.lit("$"), v))
        .when((m == 4) & (F.col("doc_id") % 10 == 9), F.lit("answer is different"))
        .when(m == 4, F.concat(F.lit("answer is "), v))
        .otherwise(v)
    )
    pairs = docs.select("doc_id", answer.alias("answer"), gt.alias("gt"))
    return answer_judger_math(pairs, "answer", "gt")


def _q_answer_pipeline_root(spark, sf):
    """AnswerPipelineRoot (answer_pipeline_root.py:45-87): GT backfill via
    the deterministic extractor, then branch split — three input shapes
    per doc exercise explicit-GT, extract-from-answer, and no-GT routes."""
    from dataflow_spark.operators.reasoning import answer_pipeline_root

    docs = _t(spark, sf, "documents")
    v = ((F.col("doc_id") * 37) % 1000).cast("string")
    m = F.col("doc_id") % 3
    t = F.coalesce("text", F.lit(""))
    answer = F.when(m == 2, F.regexp_replace(t, "[0-9]", "")).otherwise(
        F.concat(t, F.lit(" the answer is "), v)
    )
    gt = F.when(m == 0, F.concat(F.lit("gt-"), v)).when(m == 1, F.lit("")).otherwise(
        F.lit(None).cast("string")
    )
    src = docs.select("doc_id", answer.alias("answer"), gt.alias("gt"))
    with_gt, without_gt = answer_pipeline_root(src, "answer", "gt")
    return with_gt.select("doc_id", "gt", F.lit("with_gt").alias("branch")).unionAll(
        without_gt.select("doc_id", "gt", F.lit("without_gt").alias("branch"))
    )


_REASONING_ORACLES_ROOT = {
    "answer_pipeline_root": """
        WITH base AS (
          SELECT doc_id, CAST((doc_id * 37) % 1000 AS VARCHAR) AS v,
                 doc_id % 3 AS m, coalesce(text, '') AS t
          FROM documents),
        x AS (SELECT doc_id,
                     CASE WHEN m = 2 THEN regexp_replace(t, '[0-9]', '', 'g')
                          ELSE t || ' the answer is ' || v END AS answer,
                     CASE WHEN m = 0 THEN 'gt-' || v
                          WHEN m = 1 THEN '' ELSE NULL END AS gt
              FROM base),
        f AS (SELECT doc_id,
                     CASE WHEN gt IS NOT NULL AND gt <> '' THEN gt
                          WHEN answer IS NULL OR answer = '' THEN NULL
                          ELSE (CASE WHEN regexp_extract(answer, '\\\\boxed\\{([^}]*)\\}', 1) <> ''
                                     THEN regexp_extract(answer, '\\\\boxed\\{([^}]*)\\}', 1)
                                     ELSE regexp_extract_all(answer, '-?\\d+(?:\\.\\d+)?')[-1]
                                END) END AS gt
              FROM x)
        SELECT doc_id, gt, 'with_gt' AS branch FROM f
        WHERE gt IS NOT NULL AND gt <> ''
        UNION ALL
        SELECT doc_id, NULL AS gt, 'without_gt' AS branch FROM f
        WHERE NOT (gt IS NOT NULL AND gt <> '')""",
}


_SQL_MATCH_PAIRS = [
    ("select 1 + 1", "select 2", 1),
    ("select @ as a", "select @", 1),  # column names ignored
    ("select 1 as a union all select 2", "select 2 union all select 1", 1),
    ("select 1", "select 2", 0),
    ("select 1 +", "select 1", 0),  # predicted SQL errors
    ("select 3", "select err_func_xyz(@)", 0),  # ground truth errors
    ("select @, 'x'", "select @, 'x'", 1),
    ("select null", "select null", 1),
]


def _q_sql_execution_match(spark, sf):
    """SQLExecutionClassifier's deterministic execution-accuracy core
    (sql_execution_classifier.py:87-120): genuine DB execution of both
    sides, order-insensitive result-set comparison; the oracle derives
    the verdict arithmetically from the pinned pair templates."""
    from dataflow_spark.operators.text2sql import sql_execution_match

    docs = _t(spark, sf, "documents")
    pred = _sql_from_templates([p for p, _, _ in _SQL_MATCH_PAIRS])
    gt = _sql_from_templates([g for _, g, _ in _SQL_MATCH_PAIRS])
    pairs = docs.select("doc_id", pred.alias("pred_sql"), gt.alias("gt_sql"))
    return sql_execution_match(pairs, "pred_sql", "gt_sql")


# ------------------------------------------------- sampling / quota caps

def _q_sample_hash_fraction(spark, sf):
    df = _t(spark, sf, "documents").select("doc_id", "text")
    return SAMP.sample_hash_fraction(df, ["doc_id"], fraction=0.35, seed=7)


def _q_stratified_sample(spark, sf):
    df = _t(spark, sf, "documents").select("doc_id", "source")
    return SAMP.stratified_sample_n(df, ["source"], ["doc_id"], n=20, seed=7)


def _q_cap_per_source(spark, sf):
    df = _t(spark, sf, "documents").select("doc_id", "source")
    return SAMP.cap_per_key(df, ["source"], quota=15, order_col="doc_id")


def _duck_math_norm(x: str) -> str:
    """DuckDB twin of reasoning.math_answer_norm over expression ``x``."""
    boxed = "regexp_extract(" + x + ", '\\\\boxed\\{([^}]*)\\}', 1)"
    unwrapped = f"CASE WHEN {boxed} <> '' THEN {boxed} ELSE {x} END"
    stripped = f"trim(regexp_replace(trim({unwrapped}), '[$,]', '', 'g'))"
    return f"regexp_replace({stripped}, '\\.$', '')"


def _duck_math_value(x: str) -> str:
    """DuckDB twin of reasoning.math_answer_value over a NORMALIZED
    string expression ``x``."""
    frac = "'^\\\\frac\\{(-?\\d+)\\}\\{(-?\\d+)\\}$'"
    slash = "'^(-?\\d+)\\s*/\\s*(-?\\d+)$'"
    pct = "'^(-?\\d+(?:\\.\\d+)?)%$'"
    num = "'^-?\\d+(?:\\.\\d+)?$'"
    g = lambda p, i: f"regexp_extract({x}, {p}, {i})"  # noqa: E731
    div = lambda a, b: (  # noqa: E731 - zero denominator → NULL (Spark try_divide twin)
        f"CASE WHEN CAST({b} AS DOUBLE) <> 0 THEN CAST({a} AS DOUBLE) / CAST({b} AS DOUBLE) ELSE NULL END"
    )
    return (
        f"CASE WHEN {g(frac, 1)} <> '' THEN {div(g(frac, 1), g(frac, 2))}"
        f" WHEN {g(slash, 1)} <> '' THEN {div(g(slash, 1), g(slash, 2))}"
        f" WHEN {g(pct, 1)} <> '' THEN CAST({g(pct, 1)} AS DOUBLE) / 100.0"
        f" WHEN regexp_matches({x}, {num}) THEN CAST({x} AS DOUBLE)"
        " ELSE NULL END"
    )


_REASONING_ORACLES = {
    "answer_token_length_filter": """
        SELECT doc_id, text FROM documents
        WHERE CAST(ceil(length(coalesce(text, '')) / 4.0) AS BIGINT) <= 75""",
    "answer_judger_math": f"""
        WITH base AS (
          SELECT doc_id,
                 CAST((doc_id * 37) % 1000 AS VARCHAR) AS v,
                 CAST(((doc_id * 37) % 1000) * 2 AS VARCHAR) AS v2,
                 doc_id % 5 AS m
          FROM documents),
        pairs AS (
          SELECT doc_id,
                 CASE WHEN m = 0 THEN '\\boxed{{' || v || '}}'
                      WHEN m = 1 THEN v || '.000'
                      WHEN m = 2 THEN v2 || ' / 2'
                      WHEN m = 3 THEN v || '%'
                      ELSE 'Answer Is ' || v END AS answer,
                 CASE WHEN m = 1 THEN '$' || v
                      WHEN m = 4 AND doc_id % 10 = 9 THEN 'answer is different'
                      WHEN m = 4 THEN 'answer is ' || v
                      ELSE v END AS gt
          FROM base),
        n AS (SELECT doc_id, answer, gt,
                     {_duck_math_norm('answer')} AS na,
                     {_duck_math_norm('gt')} AS ng
              FROM pairs),
        v AS (SELECT *, {_duck_math_value('na')} AS va, {_duck_math_value('ng')} AS vg
              FROM n)
        SELECT doc_id, answer, gt,
               CASE WHEN va IS NOT NULL AND vg IS NOT NULL
                    THEN abs(va - vg) <= 1e-9 * greatest(1.0, abs(vg))
                    ELSE lower(na) = lower(ng) END AS answer_match
        FROM v""",
}


def _sql_match_oracle() -> str:
    preds = _duck_sql_templates([p for p, _, _ in _SQL_MATCH_PAIRS])
    gts = _duck_sql_templates([g for _, g, _ in _SQL_MATCH_PAIRS])
    good = tuple(i for i, (_, _, ok) in enumerate(_SQL_MATCH_PAIRS) if ok)
    return f"""
        WITH c AS (SELECT doc_id, {preds} AS pred_sql, {gts} AS gt_sql
                   FROM documents)
        SELECT doc_id, pred_sql, gt_sql,
               (doc_id % {len(_SQL_MATCH_PAIRS)}) IN {good} AS exec_match
        FROM c"""


# md5-uniform draw, the exact SQL twin of sampling._md5_u01
_U01 = (
    "(('0x' || substr(md5('7' || chr(31) || coalesce(CAST(doc_id AS VARCHAR), '')),"
    " 1, 8))::BIGINT / 4294967296.0)"
)

def _q_assign_splits(spark, sf):
    """Deterministic 80/10/10 train/val/test assignment by row-key hash
    (sampling.assign_hash_splits) — reproducible, repartition-immune,
    and stable as the corpus grows."""
    from dataflow_spark.operators.sampling import assign_hash_splits

    df = _t(spark, sf, "documents").select("doc_id", "source")
    return assign_hash_splits(
        df, ["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1}, seed=9
    )


_U01_S9 = (
    "(('0x' || substr(md5('9' || chr(31) || coalesce(CAST(doc_id AS VARCHAR), '')),"
    " 1, 8))::BIGINT / 4294967296.0)"
)

_SAMPLING_ORACLES = {
    "assign_hash_splits": f"""
        SELECT doc_id, source,
               CASE WHEN {_U01_S9} < 0.8 THEN 'train'
                    WHEN {_U01_S9} < 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents""",
    "sample_hash_fraction": f"""
        SELECT doc_id, text FROM documents WHERE {_U01} < 0.35""",
    "stratified_sample": f"""
        WITH r AS (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                     ORDER BY {_U01} ASC, doc_id ASC) AS rn
          FROM documents)
        SELECT doc_id, source FROM r WHERE rn <= 20""",
    "cap_per_source": """
        WITH r AS (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source ORDER BY doc_id ASC) AS rn
          FROM documents)
        SELECT doc_id, source FROM r WHERE rn <= 15""",
}

# Exact replay of operators/lm.py: integer count tables + one IEEE
# division per term + ln of bit-identical doubles + TOKEN-ORDER fold
# (list(lp ORDER BY pos) summed sequentially = Spark's array aggregate).
def _lm_ctes(src: str = "documents") -> str:
    """The bigram-LM oracle CTE chain over any ``(doc_id, text)``
    relation — parametrized so the CJK query below can train/score over
    its synthesized corpus with the identical replay."""
    return f"""
    toks AS (SELECT doc_id AS id,
                    {_tok_sql("coalesce(text, '')")} AS tk
             FROM {src}),
    big AS (SELECT t.id, u.i AS pos,
                   CASE WHEN u.i = 1 THEN '<s>' ELSE t.tk[u.i - 1] END AS w1,
                   t.tk[u.i] AS w2
            FROM toks t, unnest(range(1, CAST(len(t.tk) AS BIGINT) + 1)) AS u(i)),
    bc AS (SELECT w1, w2, count(*) AS c FROM big GROUP BY w1, w2),
    cc AS (SELECT w1, count(*) AS ctx FROM big GROUP BY w1),
    vv AS (SELECT count(DISTINCT w2) AS v FROM big),
    terms AS (SELECT b.id, b.pos,
                     ln(CAST(bc.c + 1 AS DOUBLE) / CAST(cc.ctx + v.v AS DOUBLE)) AS lp
              FROM big b JOIN bc USING (w1, w2) JOIN cc USING (w1), vv v),
    pd AS (SELECT id, list_sum(list(lp ORDER BY pos)) AS lps, count(*) AS n
           FROM terms GROUP BY id)
"""


_LM_ORACLE_CTES = _lm_ctes()

# The CJK corpus is SYNTHESIZED inside the query — deterministically,
# from the documents table both engines already share — because the
# driver's fixed tables carry no unsegmented-script text: translate()
# maps the 26 Latin letters onto 26 Han code points (identical 1:1
# multibyte semantics in Spark and DuckDB), producing whitespace-free
# Han runs that exercise the segment_unsegmented char-level fallback
# end-to-end (training AND scoring — r5 VERDICT ask #4).
_CJK_LATIN = "abcdefghijklmnopqrstuvwxyz"
_CJK_HAN = "安以宇衣於加幾久計己左之寸世曽太知川天止奈仁奴祢乃末"
_CJK_SRC_SQL = (
    "(SELECT doc_id, translate(lower(substring(coalesce(text, ''), 1, 60)),"
    f" '{_CJK_LATIN}', '{_CJK_HAN}') AS text FROM documents)"
)

# Thai twin of the Han corpus (r7 ask #6): the 26 consecutive Thai
# consonants U+0E01..U+0E1A stand in for a-z — same translate()-based
# deterministic synthesis, exercising the widened Southeast-Asian
# unsegmented-script fallback end-to-end in both engines.
_CJK_THAI = "กขฃคฅฆงจฉชซฌญฎฏฐฑฒณดตถทธนบ"
_THAI_SRC_SQL = (
    "(SELECT doc_id, translate(lower(substring(coalesce(text, ''), 1, 60)),"
    f" '{_CJK_LATIN}', '{_CJK_THAI}') AS text FROM documents)"
)

# interpolated-KN trigram scoring expression shared by the oracle below;
# op order pinned to operators/lm.py trigram_kn_perplexity: greatest(c−D,0)
# + (D·n)·p_lower, then ONE divide — bit-identical IEEE sequences
_KN_P1 = (
    "(CAST(coalesce(cont1.cont1, 0) + 1 AS DOUBLE)"
    " / CAST(tot.total2 + vv.u + 1 AS DOUBLE))"
)
_KN_P2 = (
    "(CASE WHEN coalesce(mid.midctx, 0) > 0 THEN"
    " (greatest(CAST(coalesce(cont2.cont2, 0) AS DOUBLE) - 0.75, 0.0)"
    f" + (0.75 * CAST(mid.midt AS DOUBLE)) * {_KN_P1})"
    " / CAST(mid.midctx AS DOUBLE)"
    f" ELSE {_KN_P1} END)"
)
_KN_P3 = (
    "(CASE WHEN coalesce(ctx3.ctx3, 0) > 0 THEN"
    " (greatest(CAST(coalesce(t3.c3, 0) AS DOUBLE) - 0.75, 0.0)"
    f" + (0.75 * CAST(ctx3.nt3 AS DOUBLE)) * {_KN_P2})"
    " / CAST(ctx3.ctx3 AS DOUBLE)"
    f" ELSE {_KN_P2} END)"
)

_KN_ORACLE_CTES = f"""
    toks AS (SELECT doc_id AS id,
                    {_tok_sql("coalesce(text, '')")} AS tk
             FROM documents),
    tri AS (SELECT t.id, u.i AS pos,
                   CASE WHEN u.i <= 2 THEN '<s>' ELSE t.tk[u.i - 2] END AS w1,
                   CASE WHEN u.i = 1 THEN '<s>' ELSE t.tk[u.i - 1] END AS w2,
                   t.tk[u.i] AS w3
            FROM toks t, unnest(range(1, CAST(len(t.tk) AS BIGINT) + 1)) AS u(i)),
    t3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tri GROUP BY w1, w2, w3),
    ctx3 AS (SELECT w1, w2, sum(c3) AS ctx3, count(*) AS nt3 FROM t3 GROUP BY w1, w2),
    cont2 AS (SELECT w2, w3, count(*) AS cont2 FROM t3 GROUP BY w2, w3),
    mid AS (SELECT w2, sum(cont2) AS midctx, count(*) AS midt FROM cont2 GROUP BY w2),
    cont1 AS (SELECT w3, count(*) AS cont1 FROM cont2 GROUP BY w3),
    tot AS (SELECT count(*) AS total2 FROM cont2),
    vv AS (SELECT count(DISTINCT w3) AS u FROM tri),
    kterms AS (SELECT tri.id, tri.pos, ln({_KN_P3}) AS lp
               FROM tri
               LEFT JOIN t3 USING (w1, w2, w3)
               LEFT JOIN ctx3 USING (w1, w2)
               LEFT JOIN cont2 USING (w2, w3)
               LEFT JOIN mid USING (w2)
               LEFT JOIN cont1 USING (w3), tot, vv),
    kpd AS (SELECT id, list_sum(list(lp ORDER BY pos)) AS lps, count(*) AS n
            FROM kterms GROUP BY id)
"""

# multinomial NB oracle: training (count tables), per-token smoothed
# log-probs, token-order fold, prior add, argmax with label tie-break —
# op order pinned to operators/nb.py nb_classify
_NB_ORACLE = f"""
    WITH toks AS (SELECT doc_id AS id,
                    {_tok_sql("coalesce(text, '')")} AS tk
             FROM documents),
    tw AS (SELECT d.source AS label, u.w
           FROM documents d,
                unnest({_tok_sql("coalesce(d.text, '')")}) AS u(w)),
    wc AS (SELECT label, w, count(*) AS c FROM tw GROUP BY label, w),
    cs AS (SELECT label, sum(c) AS n_tok FROM wc GROUP BY label),
    dcn AS (SELECT source AS label, count(*) AS n_docs FROM documents GROUP BY source),
    vv AS (SELECT count(DISTINCT w) AS v FROM wc),
    tot AS (SELECT count(*) AS n FROM documents),
    term AS (SELECT t.id, u.i AS pos, t.tk[u.i] AS w
             FROM toks t, unnest(range(1, CAST(len(t.tk) AS BIGINT) + 1)) AS u(i)),
    scored AS (
      SELECT term.id, cs.label, term.pos,
             ln(CAST(coalesce(wc.c, 0) + 1 AS DOUBLE)
                / CAST(cs.n_tok + vv.v AS DOUBLE)) AS lp
      FROM term CROSS JOIN cs
      LEFT JOIN wc ON wc.label = cs.label AND wc.w = term.w, vv),
    folded AS (SELECT id, label, list_sum(list(lp ORDER BY pos)) AS s
               FROM scored GROUP BY id, label),
    pri AS (SELECT dcn.label,
                   ln(CAST(dcn.n_docs AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS lpri
            FROM dcn, tot),
    allsc AS (
      SELECT t.id, p.label, p.lpri + coalesce(f.s, 0.0) AS score
      FROM toks t CROSS JOIN pri p
      LEFT JOIN folded f ON f.id = t.id AND f.label = p.label),
    ranked AS (SELECT id, label, score,
                      row_number() OVER (PARTITION BY id
                          ORDER BY score DESC, label ASC) AS rn
               FROM allsc)
    SELECT id AS doc_id, label AS pred_label, round(score, 6) AS score
    FROM ranked WHERE rn = 1"""

def _nb_chargram_oracle() -> str:
    """classify_lang_chargram replay: the _NB_ORACLE chain with (a) the
    lang-rotated derived corpus as src and (b) char trigrams as the
    feature space (1-based 3-char substr windows — bit-identical
    tokenization in both engines)."""
    rot_case = "sub"
    for lg, k in sorted(_NB_LANG_ROT.items(), reverse=True):
        if k:
            tgt = _NB_ALPHA[k:] + _NB_ALPHA[:k]
            rot_case = (
                f"CASE WHEN lang = '{lg}' THEN"
                f" translate(sub, '{_NB_ALPHA}', '{tgt}') ELSE {rot_case} END"
            )
    return f"""
    WITH src AS (
      SELECT doc_id, lang, {rot_case} AS text
      FROM (SELECT doc_id, lang,
                   lower(substr(coalesce(text, ''), 1, 80)) AS sub
            FROM documents)),
    feats AS (
      SELECT doc_id AS id, lang,
             CASE WHEN length(text) >= 3
                  THEN list_transform(range(1, length(text) - 1),
                                      i -> substr(text, i, 3))
                  ELSE [] END AS tk
      FROM src),
    tw AS (SELECT lang AS label, u.w FROM feats, unnest(tk) AS u(w)),
    wc AS (SELECT label, w, count(*) AS c FROM tw GROUP BY label, w),
    cs AS (SELECT label, sum(c) AS n_tok FROM wc GROUP BY label),
    dcn AS (SELECT lang AS label, count(*) AS n_docs FROM src GROUP BY lang),
    vv AS (SELECT count(DISTINCT w) AS v FROM wc),
    tot AS (SELECT count(*) AS n FROM src),
    term AS (SELECT id, u.i AS pos, tk[u.i] AS w
             FROM feats, unnest(range(1, CAST(len(tk) AS BIGINT) + 1)) AS u(i)),
    scored AS (
      SELECT term.id, cs.label, term.pos,
             ln(CAST(coalesce(wc.c, 0) + 1 AS DOUBLE)
                / CAST(cs.n_tok + vv.v AS DOUBLE)) AS lp
      FROM term CROSS JOIN cs
      LEFT JOIN wc ON wc.label = cs.label AND wc.w = term.w, vv),
    folded AS (SELECT id, label, list_sum(list(lp ORDER BY pos)) AS s
               FROM scored GROUP BY id, label),
    pri AS (SELECT dcn.label,
                   ln(CAST(dcn.n_docs AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS lpri
            FROM dcn, tot),
    allsc AS (
      SELECT f.id, p.label, p.lpri + coalesce(fd.s, 0.0) AS score
      FROM feats f CROSS JOIN pri p
      LEFT JOIN folded fd ON fd.id = f.id AND fd.label = p.label),
    ranked AS (SELECT id, label, score,
                      row_number() OVER (PARTITION BY id
                          ORDER BY score DESC, label ASC) AS rn
               FROM allsc)
    SELECT id AS doc_id, label AS pred_label, round(score, 6) AS score
    FROM ranked WHERE rn = 1"""


_LM_ORACLES = {
    "classify_source_nb": _NB_ORACLE,
    "classify_lang_chargram": _nb_chargram_oracle(),
    "score_trigram_kn": f"""
        WITH {_KN_ORACLE_CTES}
        SELECT t.id AS doc_id, CAST(len(t.tk) AS INT) AS n_tokens,
               round(exp(-kpd.lps / kpd.n), 6) AS ppl
        FROM toks t LEFT JOIN kpd ON kpd.id = t.id""",
    "score_bigram_perplexity": f"""
        WITH {_LM_ORACLE_CTES}
        SELECT t.id AS doc_id, CAST(len(t.tk) AS INT) AS n_tokens,
               round(exp(-pd.lps / pd.n), 6) AS ppl
        FROM toks t LEFT JOIN pd ON pd.id = t.id""",
    "score_perplexity_cjk": f"""
        WITH {_lm_ctes(_CJK_SRC_SQL)}
        SELECT t.id AS doc_id, CAST(len(t.tk) AS INT) AS n_tokens,
               round(exp(-pd.lps / pd.n), 6) AS ppl
        FROM toks t LEFT JOIN pd ON pd.id = t.id""",
    "score_perplexity_thai": f"""
        WITH {_lm_ctes(_THAI_SRC_SQL)}
        SELECT t.id AS doc_id, CAST(len(t.tk) AS INT) AS n_tokens,
               round(exp(-pd.lps / pd.n), 6) AS ppl
        FROM toks t LEFT JOIN pd ON pd.id = t.id""",
    "perplexity_lm_filter": f"""
        WITH {_LM_ORACLE_CTES}
        SELECT d.doc_id, d.text
        FROM documents d JOIN pd ON pd.id = d.doc_id
        WHERE round(exp(-pd.lps / pd.n), 6) BETWEEN 0.0 AND {_PPL_MAX}""",
}


def _ppl_buckets_sql(doc_rel: str, where: str = "") -> str:
    """The CCNet bucket-assignment CTE tail (lm.ppl_buckets replay) over
    ``doc_rel`` — a relation exposing (doc_id, lang) — assuming the
    bigram-LM CTEs (toks/pd) for the same corpus are already in scope:
    sample-derived per-language order-statistic cutoffs (rank-based on
    round-6 doubles — no interpolation, no FP drift), then two
    comparisons per doc. The md5-uniform draw is the exact twin of
    sampling._md5_u01 with seed 20."""
    return f"""
        j AS (SELECT t.id AS doc_id, d.lang,
                     round(exp(-pd.lps / pd.n), 6) AS ppl
              FROM toks t JOIN pd ON pd.id = t.id
                   JOIN {doc_rel} d ON d.doc_id = t.id),
        samp AS (SELECT * FROM j
                 WHERE (('0x' || substr(md5('20' || chr(31) ||
                        coalesce(CAST(doc_id AS VARCHAR), '')), 1, 8))::BIGINT
                        / 4294967296.0) < 0.5),
        ranked AS (SELECT lang, ppl,
                          row_number() OVER (PARTITION BY lang
                              ORDER BY ppl ASC, doc_id ASC) AS rn,
                          count(*) OVER (PARTITION BY lang) AS n
                   FROM samp),
        cuts AS (SELECT lang,
                        max(CASE WHEN rn <= ceil(n / 3.0) THEN ppl END) AS c1,
                        max(CASE WHEN rn <= ceil(2.0 * n / 3.0) THEN ppl END) AS c2
                 FROM ranked GROUP BY lang)
        SELECT j.doc_id, j.lang, j.ppl,
               CASE WHEN c.c1 IS NULL OR j.ppl <= c.c1 THEN 'head'
                    WHEN j.ppl <= c.c2 THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket
        FROM j LEFT JOIN cuts c ON c.lang = j.lang{where}"""


_LM_ORACLES["ccnet_ppl_buckets"] = f"""
        WITH {_LM_ORACLE_CTES},
        {_ppl_buckets_sql("documents")}"""

# The full CCNet chain (Wenzek 2020) as ONE oracled query: normalize →
# exact-hash first-wins dedup → corpus-LM perplexity over the SURVIVORS
# (the LM trains on what dedup kept, as CCNet trains per-snapshot) →
# per-language buckets → keep head+middle. sha256 is the engine/oracle
# common crypto hash (the true sha1-64 path is oracled standalone via
# the recursive-CTE SHA-1).
_LM_ORACLES["ccnet_pipeline"] = f"""
        WITH norm AS (SELECT doc_id, {_ccnet_norm_oracle_expr("text")} AS text, lang
                      FROM documents),
        kept AS (SELECT doc_id, text, lang FROM (
                   SELECT *, row_number() OVER (
                       PARTITION BY sha256(coalesce(text, ''))
                       ORDER BY doc_id) AS rn
                   FROM norm) WHERE rn = 1),
        {_lm_ctes("kept")},
        {_ppl_buckets_sql("kept", where=" WHERE (c.c1 IS NULL OR j.ppl <= c.c2)")}"""


def _lloyd_parts(
    n_centroids: int,
    iters: int,
    scale: int,
    dim: int,
    train_fraction: float | None,
    sample_seed: str = "ivf",
    src: str = "embeddings",
):
    """Shared CTE prefix for the deterministic integer Lloyd replay
    (operators/similarity.py ivf_train + _assign_cells): emits
    ``ci`` (quantized corpus), ``tr`` (md5-Bernoulli train sample),
    ``cents0..centsN`` (the unrolled train loop) and ``afin`` (nearest
    final centroid of every corpus row, ties to the lowest cid).
    Returns (parts, idot, score) so callers append their own tail —
    the IVF probe/rank chain, the SemDeDup pair/drop chain."""
    idot = lambda a, b: (  # noqa: E731
        f"CAST(list_sum(list_transform(range(1, {dim + 1}),"
        f" i -> {a}[i]*{b}[i])) AS DOUBLE)"
    )
    score = lambda v, s: f"{idot(v, s)} / sqrt({idot(s, s)})"  # noqa: E731
    # deterministic md5-hash Bernoulli train sample (same device as
    # operators/sampling.py) — the training CTEs read tr;
    # assignment/probing read the full ci
    tr_pred = (
        f"(('0x' || substr(md5('{sample_seed}' || chr(31) ||"
        f" coalesce(CAST(id AS VARCHAR), '')), 1, 8))::BIGINT"
        f" / 4294967296.0) < {train_fraction}"
        if train_fraction is not None
        else "TRUE"
    )
    parts = [f"""
        ci AS (SELECT vec_id AS id,
                      list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS iv
               FROM {src}),
        tr AS (SELECT * FROM ci WHERE {tr_pred}),
        cents0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid, iv AS sv
                   FROM (SELECT id, iv FROM tr ORDER BY id LIMIT {n_centroids}))"""]
    for t in range(1, iters + 1):
        parts.append(f"""
        a{t} AS (SELECT id, cid FROM (
            SELECT c.id, ct.cid,
                   row_number() OVER (PARTITION BY c.id
                       ORDER BY {score('c.iv', 'ct.sv')} DESC, ct.cid ASC) AS rn
            FROM tr c CROSS JOIN cents{t - 1} ct) WHERE rn = 1),
        cents{t} AS (
            SELECT base.cid, coalesce(n.sv, base.sv) AS sv
            FROM cents{t - 1} base LEFT JOIN (
              SELECT cid, list(s ORDER BY pos) AS sv FROM (
                SELECT a{t}.cid, p.pos, CAST(sum(tr.iv[p.pos]) AS BIGINT) AS s
                FROM a{t} JOIN tr USING (id),
                     (SELECT unnest(range(1, {dim + 1})) AS pos) p
                GROUP BY a{t}.cid, p.pos)
              GROUP BY cid) n ON n.cid = base.cid)""")
    fin = f"cents{iters}"
    parts.append(f"""
        afin AS (SELECT id AS neighbor_id, cid FROM (
            SELECT c.id, ct.cid,
                   row_number() OVER (PARTITION BY c.id
                       ORDER BY {score('c.iv', 'ct.sv')} DESC, ct.cid ASC) AS rn
            FROM ci c CROSS JOIN {fin} ct) WHERE rn = 1)""")
    return parts, idot, score


def _ivf_oracle(
    k: int = 5,
    n_centroids: int = 8,
    iters: int = 2,
    n_probe: int = 2,
    scale: int = 10_000,
    dim: int = 64,
    train_fraction: float | None = None,
) -> str:
    """Exact replay of ann_topk_ivf (operators/similarity.py): the
    micro-unit quantization makes every Lloyd-iteration intermediate an
    exact integer (element-wise BIGINT sums are order-independent) and
    every score two IEEE ops on exact integers (< 2^53, so HUGEINT→DOUBLE
    is lossless) — the full k-means train loop unrolls into CTEs and the
    whole approximate-ANN pipeline gets an exact oracle, ties included."""
    parts, idot, score = _lloyd_parts(
        n_centroids, iters, scale, dim, train_fraction
    )
    fin = f"cents{iters}"
    parts.append(f"""
        qp AS (SELECT id AS query_id, cid FROM (
            SELECT q.id, ct.cid,
                   row_number() OVER (PARTITION BY q.id
                       ORDER BY {score('q.iv', 'ct.sv')} DESC, ct.cid ASC) AS rn
            FROM (SELECT * FROM ci WHERE id < 10) q CROSS JOIN {fin} ct)
            WHERE rn <= {n_probe}),
        scored AS (
            SELECT qp.query_id, afin.neighbor_id,
                   {idot('qv.iv', 'cv.iv')}
                   / (sqrt({idot('qv.iv', 'qv.iv')})
                      * sqrt({idot('cv.iv', 'cv.iv')})) AS cos_sim
            FROM qp JOIN afin USING (cid)
                 JOIN ci qv ON qv.id = qp.query_id
                 JOIN ci cv ON cv.id = afin.neighbor_id
            WHERE afin.neighbor_id <> qp.query_id),
        ranked AS (SELECT query_id, neighbor_id, cos_sim,
                          row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
                   FROM scored)
        SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim,
               CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {k}""")
    return "WITH" + ",".join(parts)


# The synthetic embeddings are near-orthogonal (max pairwise cos ~0.51),
# so the SemDeDup gate plants both exact clones (vec_id+100000 — must all
# drop) and single-coordinate-perturbed clones (vec_id+200000, first
# component x3 — a genuine mix of above/below threshold and occasionally
# a different cluster, exercising every branch). The perturbation is one
# IEEE multiply on doubles, identical in both engines.
_SEMDEDUP_SRC = """(
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 100000 AS vec_id, embedding
    FROM embeddings WHERE vec_id < 25
    UNION ALL
    SELECT vec_id + 200000 AS vec_id,
           list_transform(range(1, len(embedding) + 1),
             i -> CASE WHEN i = 1 THEN CAST(embedding[i] AS DOUBLE) * 3.0
                       ELSE CAST(embedding[i] AS DOUBLE) END) AS embedding
    FROM embeddings WHERE vec_id < 50)"""


def _semdedup_oracle(
    threshold: float = 0.95,
    n_centroids: int = 8,
    iters: int = 2,
    scale: int = 10_000,
    dim: int = 64,
    train_fraction: float | None = 0.5,
) -> str:
    """Exact replay of semdedup_kmeans (operators/similarity.py): the
    shared Lloyd CTEs assign every row its final cluster; within a
    cluster, a row drops iff some lower-id member's cosine (two IEEE ops
    on exact integers) reaches the threshold; survivors keep (id, cid)."""
    parts, idot, _ = _lloyd_parts(
        n_centroids, iters, scale, dim, train_fraction,
        sample_seed="semdedup", src=_SEMDEDUP_SRC,
    )
    cos = (
        f"{idot('av.iv', 'bv.iv')}"
        f" / (sqrt({idot('av.iv', 'av.iv')})"
        f" * sqrt({idot('bv.iv', 'bv.iv')}))"
    )
    parts.append(f"""
        drop AS (SELECT DISTINCT a.neighbor_id AS id
            FROM afin a JOIN afin b
                 ON a.cid = b.cid AND b.neighbor_id < a.neighbor_id
                 JOIN ci av ON av.id = a.neighbor_id
                 JOIN ci bv ON bv.id = b.neighbor_id
            WHERE {cos} >= {threshold})
        SELECT a.neighbor_id AS vec_id, CAST(a.cid AS INT) AS cid
        FROM afin a LEFT JOIN drop d ON d.id = a.neighbor_id
        WHERE d.id IS NULL""")
    return "WITH" + ",".join(parts)


_ANN_ORACLES = {
    "ann_topk_ivf": _ivf_oracle(train_fraction=0.5),
    "dedup_semdedup_kmeans": _semdedup_oracle(),
    "ann_topk_bruteforce": """
        WITH q AS (SELECT vec_id AS query_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                   FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS neighbor_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
              FROM embeddings),
        scored AS (
          SELECT q.query_id, c.neighbor_id,
                 round(list_cosine_similarity(q.qv, c.cv), 6) AS cos_sim
          FROM q, c WHERE q.query_id <> c.neighbor_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5""",
    # Exact replay of the sign-LSH path (operators/similarity.py): the
    # md5-arithmetic hyperplane family makes bucket codes, Hamming-1
    # multiprobe keys, candidate set, and final ranking all deterministic
    # and SQL-expressible — an *approximate* ANN query with an *exact*
    # oracle. n_tables=4, n_planes=10, seed=13, dim=64, k=5 match _q_ann_lsh.
    "ann_topk_lsh": """
        WITH c AS (SELECT vec_id AS id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        q AS (SELECT * FROM c WHERE id < 10),
        planes AS (
          SELECT tt.t, pp.p,
                 list_transform(range(0, 64),
                   j -> ('0x' || substr(md5('plane:13:' || tt.t || ':' || pp.p
                         || ':' || j), 1, 8))::BIGINT
                        / 2147483648.0::DOUBLE - 1.0::DOUBLE) AS pv
          FROM (SELECT unnest(range(0, 4)) AS t) tt,
               (SELECT unnest(range(0, 10)) AS p) pp),
        ccode AS (
          SELECT c.id, pl.t,
                 sum(CASE WHEN list_dot_product(c.v, pl.pv) > 0
                     THEN (1::BIGINT << (9 - pl.p)) ELSE 0 END) AS code
          FROM c CROSS JOIN planes pl GROUP BY c.id, pl.t),
        qcode AS (SELECT cc.id, cc.t, cc.code
                  FROM ccode cc JOIN q ON q.id = cc.id),
        cb AS (SELECT id AS neighbor_id, t || ':' || code AS bk FROM ccode),
        qb AS (
          SELECT id AS query_id, t || ':' || code AS bk FROM qcode
          UNION ALL
          SELECT id, t || ':' || xor(code, (1::BIGINT << jj.j)) AS bk
          FROM qcode, (SELECT unnest(range(0, 10)) AS j) jj),
        cand AS (
          SELECT DISTINCT qb.query_id, cb.neighbor_id
          FROM cb JOIN qb USING (bk)
          WHERE cb.neighbor_id <> qb.query_id),
        scored AS (
          SELECT cand.query_id, cand.neighbor_id,
                 list_dot_product(qv.v, cv.v)
                 / (sqrt(list_dot_product(qv.v, qv.v))
                    * sqrt(list_dot_product(cv.v, cv.v))) AS cos_sim
          FROM cand JOIN c qv ON qv.id = cand.query_id
                    JOIN c cv ON cv.id = cand.neighbor_id),
        ranked AS (
          SELECT query_id, neighbor_id, cos_sim,
                 row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim,
               CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 5""",
}


# -------------------------------------------------------------- relational

def _q_pricing_summary(spark, sf):
    li = _t(spark, sf, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(30,6)")  # noqa: E731
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(30,6)")
            ).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .select(
            "l_returnflag", "l_linestatus",
            F.round("sum_qty", 4).alias("sum_qty"),
            F.round("sum_base_price", 4).alias("sum_base_price"),
            F.round("sum_disc_price", 4).alias("sum_disc_price"),
            "count_order",
        )
    )


def _q_top_orders_per_segment(spark, sf):
    """Broadcast-join + top-k window: top 3 orders by totalprice per market
    segment (small dim broadcast, no shuffle of the fact side beyond the
    window partition)."""
    cust = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    orders = _t(spark, sf, "orders")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice", "rank")
    )


def _q_top_events_per_user(spark, sf):
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("user_id", "event_id", "value", "rank")
    )


_RELATIONAL_ORACLES = {
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE), 4) AS sum_qty,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE), 4) AS sum_base_price,
               round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE), 4) AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem GROUP BY 1, 2""",
    "top_orders_per_segment": """
        WITH ranked AS (
          SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
                 row_number() OVER (PARTITION BY c.c_mktsegment
                    ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS rank
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
        SELECT c_mktsegment, o_orderkey, o_totalprice, rank FROM ranked WHERE rank <= 3""",
    "top_events_per_user": """
        WITH ranked AS (
          SELECT user_id, event_id, value,
                 row_number() OVER (PARTITION BY user_id
                    ORDER BY value DESC, event_id ASC) AS rank
          FROM events)
        SELECT user_id, event_id, value, rank FROM ranked WHERE rank <= 3""",
}


# ------------------------------------------------- splitter / retrieval / eval

def _q_split_chars(spark, sf):
    from dataflow_spark.operators.splitter import split_chars

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return split_chars(docs, chunk_size=200, overlap=20)


def _q_split_words(spark, sf):
    from dataflow_spark.operators.splitter import split_words

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return split_words(docs, chunk_size=50, overlap=5)


def _q_split_sentences(spark, sf):
    from dataflow_spark.operators.splitter import split_sentences

    # over the sentence-punctuated twin, so the greedy sentence packing
    # actually packs (the raw synthetic docs are one unterminated sentence)
    return split_sentences(_sentence_twin_docs(spark, sf), chunk_size=200)


def _q_split_tokens(spark, sf):
    from dataflow_spark.operators.splitter import split_tokens

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return split_tokens(docs, chunk_size=48, overlap=8)


def _q_split_recursive(spark, sf):
    from dataflow_spark.operators.splitter import split_recursive

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return split_recursive(docs, chunk_size=120)


def _sentence_twin_docs(spark, sf):
    # the synthetic docs carry no sentence punctuation — derive a
    # sentence-punctuated twin (a period after every 10 words) so the
    # sentence-aware splitters have real boundaries to work with
    docs = _t(spark, sf, "documents")
    words = F.filter(
        F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
        lambda x: x != "",
    )
    sents = F.transform(
        F.sequence(
            F.lit(0),
            F.greatest(F.ceil(F.size(words) / F.lit(10)).cast("int"), F.lit(1)) - 1,
        ),
        lambda i: F.array_join(F.slice(words, i * 10 + 1, F.lit(10)), " "),
    )
    # filter on the ORIGINAL text before re-aliasing 'text' to the derived
    # sentence-joined column — filtering after the select would test the
    # always-non-empty derived text (and the oracle filters the original);
    # the greatest(...) guard keeps the sequence non-descending for the
    # empty-doc case the filter removes
    return docs.filter(F.size(words) > 0).select(
        "doc_id", F.concat(F.array_join(sents, ". "), F.lit(".")).alias("text")
    )


def _q_split_semantic(spark, sf):
    from dataflow_spark.operators.splitter import split_semantic

    return split_semantic(_sentence_twin_docs(spark, sf), threshold=0.3)


def _q_bm25(spark, sf):
    from dataflow_spark.operators.retrieval import bm25_topk

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    queries = docs.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return bm25_topk(docs, queries, k=5, query_id="query_id")


def _q_bm25_hard_negatives(spark, sf):
    """BM25HardNeg (rare/generate/bm25_hard_negative.py:85-215): mine
    num_neg=3 hard negatives per query — top BM25 hits with the query's
    own positive document excluded before ranking. Queries are the first
    five documents, each its own gold, so the exclusion always bites
    (a query's best BM25 hit is itself)."""
    from dataflow_spark.operators.retrieval import bm25_topk

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    queries = docs.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), "text", F.col("doc_id").alias("gold_id")
    )
    return bm25_topk(
        docs, queries, k=3, query_id="query_id", gold_col="gold_id"
    ).select("query_id", F.col("doc_id").alias("neg_doc_id"), "bm25", "rank")


def _q_tfidf_top_terms(spark, sf):
    """Per-doc top-3 TF-IDF keywords (retrieval.tfidf_top_terms)."""
    from dataflow_spark.operators.retrieval import tfidf_top_terms

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return tfidf_top_terms(docs, k=3)


def _q_f1(spark, sf):
    from dataflow_spark.functions.eval_scorers import f1_native

    a = _t(spark, sf, "documents").select("doc_id", F.col("text").alias("pred"))
    b = _t(spark, sf, "documents").select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("gold")
    )
    pairs = a.join(b, "doc_id")
    return pairs.select(
        "doc_id", F.round(f1_native(F.col("pred"), F.col("gold")), 9).alias("f1")
    )


def _q_cider(spark, sf):
    from dataflow_spark.functions.eval_scorers import cider_scores

    a = _t(spark, sf, "documents").select(F.col("doc_id").alias("id"),
                                          F.col("text").alias("cand"))
    b = _t(spark, sf, "documents").select(
        (F.col("doc_id") - 1).alias("id"), F.col("text").alias("ref")
    )
    pairs = a.join(b, "id")
    return cider_scores(pairs)


def _q_bleu(spark, sf):
    from dataflow_spark.functions.eval_scorers import bleu_udf

    a = _t(spark, sf, "documents").select("doc_id", F.col("text").alias("cand"))
    b = _t(spark, sf, "documents").select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("ref")
    )
    pairs = a.join(b, "doc_id")
    # round 6 (not 9): BLEU chains exp/ln whose libm results may differ in
    # the last ulps between the JVM/Python and DuckDB
    return pairs.select(
        "doc_id", F.round(bleu_udf()(F.col("cand"), F.col("ref")), 6).alias("bleu")
    )


def _q_bertscore(spark, sf):
    """BERTScorer shape (eval/gen stand-in): greedy-matched hashed-embedding
    P/R/F between adjacent documents. The md5-component embedding family
    is SQL-replayable, so this has a full DuckDB oracle (plus pytest vs a
    plain-python twin)."""
    from dataflow_spark.functions.eval_scorers import bertscore_udf

    a = _t(spark, sf, "documents").select("doc_id", F.col("text").alias("cand"))
    b = _t(spark, sf, "documents").select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("ref")
    )
    res = bertscore_udf()(F.col("cand"), F.col("ref"))
    return a.join(b, "doc_id").select(
        "doc_id",
        F.round(res["precision"], 6).alias("precision"),
        F.round(res["recall"], 6).alias("recall"),
        F.round(res["f1"], 6).alias("f1"),
    )


def _q_task2vec_diversity(spark, sf):
    """Task2VecScorer shape: corpus diversity coefficient via the
    closed-form unit-vector reduction (one aggregation, no pairwise)."""
    from dataflow_spark.functions.eval_scorers import task2vec_diversity

    return task2vec_diversity(_t(spark, sf, "documents"))


def _q_token_stats(spark, sf):
    docs = _t(spark, sf, "documents")
    toks = F.size(
        F.filter(F.split(F.trim(F.coalesce("text", F.lit(""))), r"\s+"), lambda x: x != "")
    )
    return docs.select(toks.alias("n")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n").cast("long").alias("total_tokens"),
        F.min("n").cast("long").alias("min_tokens"),
        F.max("n").cast("long").alias("max_tokens"),
        F.round(F.avg("n"), 9).alias("avg_tokens"),
    )


def _q_category_info(spark, sf):
    docs = _t(spark, sf, "documents")
    total = docs.count()
    return (
        docs.groupBy("lang")
        .agg(F.count("*").alias("n"))
        .select("lang", "n", F.round(F.col("n") / F.lit(float(total)), 9).alias("share"))
    )


def _q_answer_ngram_filter(spark, sf):
    """AnswerNgramFilter (reasoning/filter/answer_ngram_filter.py:88-100):
    ngram repetition score on question+answer concat, keep in range."""
    a = _t(spark, sf, "documents").select("doc_id", F.col("text").alias("q"))
    b = _t(spark, sf, "documents").select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("ans")
    )
    pairs = a.join(b, "doc_id").withColumn(
        "qa", F.concat_ws(" ", "q", "ans")
    )
    scored = pairs.select(
        "doc_id", F.round(S.ngram_score_native(F.col("qa")), 9).alias("repetition")
    )
    return scored.filter((F.col("repetition") >= 0.1) & (F.col("repetition") <= 1.0))


def _q_consistent_chat_gen(spark, sf):
    """ConsistentChatGenerator (conversations/consistent_chat.py:12-141)
    shape: 0 rows -> N synthetic multi-turn dialogs, deterministic
    (arithmetic in place of the reference's LLM calls); even turn count so
    no dialog ends on a user turn."""
    n = 100
    base = spark.range(n).select(F.col("id").cast("long").alias("i"))
    n_turns = (F.lit(2) + (F.col("i") * 7) % 8).cast("int")
    turns = F.transform(
        F.sequence(F.lit(0), n_turns - 1),
        lambda t: F.concat(
            F.when(t % 2 == 0, F.lit("user|q")).otherwise(F.lit("assistant|a")),
            F.col("i").cast("string"),
            F.lit("_"),
            t.cast("string"),
        ),
    )
    return base.select(
        F.concat(F.lit("gen"), F.col("i").cast("string")).alias("conv_id"),
        n_turns.alias("n_turns"),
        F.array_join(turns, "\n").alias("conversation"),
    )


def _q_pipeline_pt_chain(spark, sf):
    """Composed pipeline (Pipeline API): refine×2 → exact dedup → filters.
    End-to-end compose check with a full SQL oracle."""
    from dataflow_spark.pipeline import Pipeline

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    pipe = (
        Pipeline(initial_keys=["doc_id", "text"])
        .refine("remove_extra_spaces")
        .refine("lowercase")
        .dedup_exact(["text"], "doc_id")
        .filter("content_null")
        .filter("word_number")
        .compile()
    )
    return pipe.run(docs)


_EXTRA_ORACLES = {
    "split_chars": """
        WITH m AS (
          SELECT doc_id, coalesce(text,'') AS t,
                 greatest(CAST(ceil((length(coalesce(text,'')) - 20) / 180.0) AS INT), 1) AS nc
          FROM documents)
        SELECT doc_id, CAST(i AS INT) AS chunk_idx, substr(t, i*180 + 1, 200) AS chunk
        FROM m, unnest(range(0, nc)) AS u(i)
        WHERE substr(t, i*180 + 1, 200) <> ''""",
    "split_words": f"""
        WITH m AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents),
        n AS (
          SELECT doc_id, toks,
                 greatest(CAST(ceil((len(toks) - 5) / 45.0) AS INT), 1) AS nc
          FROM m)
        SELECT doc_id, CAST(i AS INT) AS chunk_idx,
               array_to_string(list_slice(toks, i*45 + 1, i*45 + 50), ' ') AS chunk
        FROM n, unnest(range(0, nc)) AS u(i)
        WHERE array_to_string(list_slice(toks, i*45 + 1, i*45 + 50), ' ') <> ''""",
    "split_tokens": """
        WITH w AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(coalesce(text,'')), '\\s+'),
                             x -> x <> '') AS words
          FROM documents),
        p AS (
          SELECT doc_id,
                 flatten(list_transform(words, w ->
                   list_transform(range(0, CAST(ceil(len(w) / 4.0) AS INT)),
                     j -> CASE WHEN j = 0 THEN ' ' || substr(w, 1, 4)
                               ELSE substr(w, j*4 + 1, 4) END))) AS pieces
          FROM w),
        c AS (
          SELECT doc_id, pieces,
                 greatest(CAST(ceil((len(pieces) - 8) / 40.0) AS INT), 1) AS nc
          FROM p)
        SELECT doc_id, CAST(i AS INT) AS chunk_idx,
               trim(array_to_string(pieces[i*40 + 1 : i*40 + 48], '')) AS chunk
        FROM c, unnest(range(0, nc)) AS u(i)
        WHERE trim(array_to_string(pieces[i*40 + 1 : i*40 + 48], '')) <> ''""",
    "split_recursive": """
        WITH l1 AS (
          SELECT doc_id, str_split_regex(coalesce(text,''), '\\n\\n') AS ps
          FROM documents),
        l2 AS (
          SELECT doc_id, flatten(list_transform(ps, p ->
                   CASE WHEN len(p) <= 120 THEN [p]
                        ELSE str_split_regex(p, '\\n') END)) AS ps
          FROM l1),
        l3 AS (
          SELECT doc_id, flatten(list_transform(ps, p ->
                   CASE WHEN len(p) <= 120 THEN [p]
                        ELSE regexp_extract_all(p, '[^.!?]*[.!?]+\\s*|[^.!?]+$') END)) AS ps
          FROM l2),
        l4 AS (
          SELECT doc_id, flatten(list_transform(ps, p ->
                   CASE WHEN len(p) <= 120 THEN [p]
                        ELSE list_transform(range(0, CAST(ceil(len(p) / 120.0) AS INT)),
                               i -> substr(p, i*120 + 1, 120)) END)) AS ps
          FROM l3),
        l5 AS (
          SELECT doc_id, list_filter(ps, x -> trim(x) <> '') AS ps FROM l4)
        SELECT doc_id, CAST(i AS INT) AS chunk_idx, ps[i + 1] AS chunk
        FROM l5, unnest(range(0, len(ps))) AS u(i)""",

    "split_semantic": """
        WITH w AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(coalesce(text,'')), '\\s+'),
                             x -> x <> '') AS words
          FROM documents),
        d AS (
          SELECT doc_id,
                 array_to_string(list_transform(
                   range(0, CAST(ceil(len(words) / 10.0) AS BIGINT)),
                   i -> array_to_string(words[i*10+1 : i*10+10], ' ')), '. ')
                 || '.' AS text
          FROM w WHERE len(words) > 0),
        s AS (
          SELECT doc_id,
                 regexp_extract_all(coalesce(text,''), '[^.!?]*[.!?]+\\s*|[^.!?]+$') AS ss
          FROM d),
        t AS (
          SELECT doc_id, ss,
                 list_transform(ss, x -> list_distinct(list_filter(
                   regexp_split_to_array(lower(x), '\\s+'), y -> y <> ''))) AS tk
          FROM s),
        f AS (
          SELECT doc_id, ss,
                 list_transform(range(1, len(ss) + 1), i ->
                   CASE WHEN i = 1 THEN 0
                        WHEN (CASE WHEN len(list_distinct(tk[i-1] || tk[i])) > 0
                              THEN len(list_intersect(tk[i-1], tk[i]))
                                   / CAST(len(list_distinct(tk[i-1] || tk[i])) AS DOUBLE)
                              ELSE 0.0 END) < 0.3 THEN 1 ELSE 0 END) AS fl
          FROM t),
        c AS (
          SELECT doc_id, ss,
                 list_transform(range(1, len(ss) + 1), i -> list_sum(fl[1:i])) AS cid
          FROM f),
        ch AS (
          SELECT doc_id,
                 CASE WHEN len(ss) = 0 THEN [] ELSE
                   list_transform(range(0, CAST(cid[-1] + 1 AS BIGINT)), c -> array_to_string(
                     list_transform(range(1, len(ss) + 1),
                       i -> CASE WHEN cid[i] = c THEN ss[i] ELSE '' END), ''))
                 END AS chunks
          FROM c)
        SELECT doc_id, CAST(i AS INT) AS chunk_idx, chunks[i + 1] AS chunk
        FROM ch, unnest(range(0, len(chunks))) AS u(i)
        WHERE trim(chunks[i + 1]) <> ''""",
    "bm25_topk": f"""
        WITH doc_terms AS (
          SELECT doc_id, unnest(list_transform({_TOKS}, x -> lower(x))) AS term
          FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM doc_terms GROUP BY 1, 2),
        dl AS (SELECT doc_id, count(*) AS dl FROM doc_terms GROUP BY 1),
        stats AS (SELECT count(*) AS n_docs FROM documents),
        avg_l AS (SELECT avg(dl) AS avg_len FROM dl),
        dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
        idf AS (SELECT term, ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - df + 0.5) / (df + 0.5)) AS idf FROM dft),
        q_terms AS (
          SELECT doc_id AS query_id,
                 unnest(list_transform({_TOKS}, x -> lower(x))) AS term
          FROM documents WHERE doc_id < 5),
        qtf AS (SELECT query_id, term, count(*) AS qtf FROM q_terms GROUP BY 1, 2),
        scored AS (
          SELECT q.query_id, tf.doc_id,
                 sum(idf.idf * (tf.tf * 2.2)
                     / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / (SELECT avg_len FROM avg_l)))) AS bm25
          FROM tf JOIN dl USING (doc_id) JOIN idf USING (term) JOIN qtf q USING (term)
          GROUP BY 1, 2),
        ranked AS (
          SELECT query_id, doc_id, round(bm25, 6) AS bm25,
                 row_number() OVER (PARTITION BY query_id
                     ORDER BY round(bm25, 6) DESC, doc_id ASC) AS rank
          FROM scored)
        SELECT query_id, doc_id, bm25, rank FROM ranked WHERE rank <= 5""",
    "tfidf_top_terms": f"""
        WITH doc_terms AS (
          SELECT doc_id, unnest(list_transform({_TOKS}, x -> lower(x))) AS term
          FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM doc_terms GROUP BY 1, 2),
        stats AS (SELECT count(*) AS n_docs FROM documents),
        dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
        idf AS (SELECT term,
                       ln(CAST((SELECT n_docs FROM stats) AS DOUBLE) / df) AS idf
                FROM dft),
        scored AS (SELECT tf.doc_id, tf.term,
                          round(tf.tf * idf.idf, 9) AS tfidf
                   FROM tf JOIN idf USING (term)),
        ranked AS (SELECT doc_id, term, tfidf,
                          row_number() OVER (PARTITION BY doc_id
                              ORDER BY tfidf DESC, term ASC) AS rank
                   FROM scored)
        SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3""",
    # bm25_hard_negatives: same scoring chain, positive doc excluded
    # BEFORE ranking (gold == query_id in this instance), top 3
    "bm25_hard_negatives": f"""
        WITH doc_terms AS (
          SELECT doc_id, unnest(list_transform({_TOKS}, x -> lower(x))) AS term
          FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM doc_terms GROUP BY 1, 2),
        dl AS (SELECT doc_id, count(*) AS dl FROM doc_terms GROUP BY 1),
        stats AS (SELECT count(*) AS n_docs FROM documents),
        avg_l AS (SELECT avg(dl) AS avg_len FROM dl),
        dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
        idf AS (SELECT term, ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - df + 0.5) / (df + 0.5)) AS idf FROM dft),
        q_terms AS (
          SELECT doc_id AS query_id,
                 unnest(list_transform({_TOKS}, x -> lower(x))) AS term
          FROM documents WHERE doc_id < 5),
        qtf AS (SELECT query_id, term, count(*) AS qtf FROM q_terms GROUP BY 1, 2),
        scored AS (
          SELECT q.query_id, tf.doc_id,
                 sum(idf.idf * (tf.tf * 2.2)
                     / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / (SELECT avg_len FROM avg_l)))) AS bm25
          FROM tf JOIN dl USING (doc_id) JOIN idf USING (term) JOIN qtf q USING (term)
          GROUP BY 1, 2),
        ranked AS (
          SELECT query_id, doc_id, round(bm25, 6) AS bm25,
                 row_number() OVER (PARTITION BY query_id
                     ORDER BY round(bm25, 6) DESC, doc_id ASC) AS rank
          FROM scored WHERE doc_id <> query_id)
        SELECT query_id, doc_id AS neg_doc_id, bm25, rank
        FROM ranked WHERE rank <= 3""",
    "f1_score": f"""
        WITH norm AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(regexp_replace(
                     translate(lower(coalesce(text,'')), '{_PUNCT_SQL}', ''),
                     '\\b(a|an|the)\\b', ' ', 'g')), '\\s+'), x -> x <> '') AS toks
          FROM documents),
        pairs AS (
          SELECT a.doc_id, a.toks AS p, b.toks AS g
          FROM norm a JOIN norm b ON b.doc_id = a.doc_id + 1),
        ov AS (
          SELECT doc_id, p, g,
                 list_sum(list_transform(list_distinct(p),
                     t -> least(len(list_filter(p, x -> x = t)),
                                len(list_filter(g, x -> x = t))))) AS overlap
          FROM pairs)
        SELECT doc_id,
               round(CASE
                 WHEN len(p) = 0 OR len(g) = 0 THEN CAST(len(p) = 0 AND len(g) = 0 AS DOUBLE)
                 WHEN overlap IS NULL OR overlap = 0 THEN 0.0
                 ELSE 2 * (overlap / CAST(len(p) AS DOUBLE)) * (overlap / CAST(len(g) AS DOUBLE))
                      / ((overlap / CAST(len(p) AS DOUBLE)) + (overlap / CAST(len(g) AS DOUBLE)))
               END, 9) AS f1
        FROM ov""",
    "token_stats": f"""
        WITH m AS (SELECT len({_TOKS}) AS n FROM documents)
        SELECT count(*) AS n_docs,
               CAST(sum(n) AS BIGINT) AS total_tokens,
               CAST(min(n) AS BIGINT) AS min_tokens,
               CAST(max(n) AS BIGINT) AS max_tokens,
               round(avg(n), 9) AS avg_tokens
        FROM m""",
    "category_info": """
        SELECT lang, count(*) AS n,
               round(count(*) / CAST((SELECT count(*) FROM documents) AS DOUBLE), 9) AS share
        FROM documents GROUP BY lang""",
    "answer_ngram_filter": f"""
        WITH pairs AS (
          SELECT a.doc_id, concat_ws(' ', a.text, b.text) AS qa
          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
        m AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(
                    translate(lower(coalesce(qa,'')), '{_PUNCT_SQL}', ''), '\\s+'),
                    x -> x <> '') AS toks
          FROM pairs),
        s AS (
          SELECT doc_id,
                 round(CASE WHEN len(toks) < 5 THEN 1.0
                       ELSE len(list_distinct(list_transform(range(1, len(toks) - 3),
                            i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) * 1.0
                            / (len(toks) - 4) END, 9) AS repetition
          FROM m)
        SELECT doc_id, repetition FROM s WHERE repetition >= 0.1 AND repetition <= 1.0""",
    "consistent_chat_gen": """
        WITH base AS (SELECT i FROM range(0, 100) AS t(i)),
        d AS (SELECT i, CAST(2 + (i * 7) % 8 AS INT) AS n_turns FROM base)
        SELECT 'gen' || CAST(i AS VARCHAR) AS conv_id, n_turns,
               array_to_string(list_transform(range(0, n_turns),
                   t -> (CASE WHEN t % 2 = 0 THEN 'user|q' ELSE 'assistant|a' END)
                        || CAST(i AS VARCHAR) || '_' || CAST(t AS VARCHAR)),
                   chr(10)) AS conversation
        FROM d""",
    "pipeline_pt_chain": f"""
        WITH refined AS (
          SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS text
          FROM documents),
        dedup AS (
          SELECT doc_id, text,
                 row_number() OVER (PARTITION BY md5(coalesce(text,''))
                                    ORDER BY doc_id) AS rn
          FROM refined)
        SELECT doc_id, text FROM dedup
        WHERE rn = 1 AND text IS NOT NULL AND regexp_matches(text, '\\S')
          AND len({_TOKS}) >= 20 AND len({_TOKS}) < 100000""",
}


def _bleu_oracle_sql() -> str:
    """Sentence BLEU-4 twin of eval_scorers.sentence_bleu: clipped multiset
    n-gram matches, +1 smoothing for n>=2, brevity penalty, geometric mean
    over achievable orders."""
    grams = []
    for n in range(1, 5):
        grams.append(
            f"list_transform(range(1, len(c) + 2 - {n}),"
            f" i -> array_to_string(c[i:i+{n - 1}], ' ')) AS cg{n},"
            f" list_transform(range(1, len(r) + 2 - {n}),"
            f" i -> array_to_string(r[i:i+{n - 1}], ' ')) AS rg{n}"
        )
    matches = ", ".join(
        f"coalesce(list_sum(list_transform(list_distinct(cg{n}), g ->"
        f" least(len(list_filter(cg{n}, x -> x = g)),"
        f" len(list_filter(rg{n}, x -> x = g))))), 0) AS m{n},"
        f" len(cg{n}) AS t{n}"
        for n in range(1, 5)
    )
    smooth = " + ".join(
        f"CASE WHEN t{n} > 0 THEN ln((m{n} + 1) / CAST(t{n} + 1 AS DOUBLE)) ELSE 0 END"
        for n in range(2, 5)
    )
    return f"""
        WITH a AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(coalesce(text,'')), '\\s+'),
                             x -> x <> '') AS c
          FROM documents),
        b AS (
          SELECT doc_id - 1 AS doc_id,
                 list_filter(regexp_split_to_array(lower(coalesce(text,'')), '\\s+'),
                             x -> x <> '') AS r
          FROM documents),
        p AS (SELECT a.doc_id, c, r FROM a JOIN b USING (doc_id)),
        g AS (SELECT doc_id, c, r, len(c) AS lc, len(r) AS lr,
                     {", ".join(grams)}
              FROM p),
        m AS (SELECT doc_id, lc, lr, {matches} FROM g)
        SELECT doc_id,
               round(CASE
                 WHEN lc = 0 OR lr = 0 OR m1 = 0 THEN 0.0
                 ELSE (CASE WHEN lc > lr THEN 1.0
                            ELSE exp(1 - lr / CAST(lc AS DOUBLE)) END)
                      * exp((ln(m1 / CAST(t1 AS DOUBLE)) + {smooth})
                            / least(4, lc))
               END, 6) AS bleu
        FROM m"""


# split_sentences: sentence-punctuated twin -> the engine's exact sentence
# regex (RE2-safe, no lookbehind) -> the greedy packing loop replayed as a
# recursive CTE over sentence indices (state = running chunk length +
# chunk id per doc; iteration count = max sentences per doc, ~6)
_EXTRA_ORACLES["split_sentences"] = r"""
WITH RECURSIVE w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(coalesce(text,'')), '\s+'),
                     x -> x <> '') AS words
  FROM documents),
d AS (
  SELECT doc_id,
         array_to_string(list_transform(
           range(0, CAST(ceil(len(words) / 10.0) AS BIGINT)),
           i -> array_to_string(words[i*10+1 : i*10+10], ' ')), '. ')
         || '.' AS text
  FROM w WHERE len(words) > 0),
s AS MATERIALIZED (
  SELECT doc_id, regexp_extract_all(text, '\b[^.!?\n]+[.!?]*') AS ss FROM d),
pack AS (
  SELECT doc_id, 0::BIGINT AS i, 0::BIGINT AS cur_len, 0::BIGINT AS ci
  FROM s WHERE len(ss) > 0
  UNION ALL
  SELECT p.doc_id, p.i + 1,
         CASE WHEN p.cur_len > 0 AND p.cur_len + length(s.ss[(p.i+1)::int]) > 200
              THEN length(s.ss[(p.i+1)::int])
              ELSE p.cur_len + length(s.ss[(p.i+1)::int]) END,
         CASE WHEN p.cur_len > 0 AND p.cur_len + length(s.ss[(p.i+1)::int]) > 200
              THEN p.ci + 1 ELSE p.ci END
  FROM pack p JOIN s USING (doc_id) WHERE p.i < len(s.ss))
SELECT s.doc_id, CAST(a.ci AS INT) AS chunk_idx,
       string_agg(s.ss[a.i::int], '' ORDER BY a.i) AS chunk
FROM (SELECT doc_id, i, ci FROM pack WHERE i >= 1) a
JOIN s ON s.doc_id = a.doc_id
GROUP BY s.doc_id, a.ci"""

_EXTRA_ORACLES["bleu_score"] = _bleu_oracle_sql()

# CIDEr (eval/gen/cider_scorer.py:17) is pure deterministic TF-IDF n-gram
# arithmetic, so the DuckDB twin replays the engine plan step for step:
# same tokenization, n=1..4 gram explosion, reference-corpus IDF, per-n
# tf-idf cosine, mean over 4, x10 with the sigma=6 length gaussian.
# round-6 on both engines absorbs libm (ln/exp/sqrt) last-ulp differences
# and FP sum-order differences — same contract as the BLEU oracle.
_EXTRA_ORACLES["cider_score"] = r"""
WITH pairs AS (
  SELECT a.doc_id AS id, a.text AS cand, b.text AS ref
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
tok AS (
  SELECT id,
         regexp_split_to_array(trim(lower(coalesce(cand,''))), '\s+') AS ct,
         regexp_split_to_array(trim(lower(coalesce(ref,''))), '\s+') AS rt
  FROM pairs),
ns AS (SELECT unnest([1,2,3,4]) AS n),
cg AS (
  SELECT id, unnest(CASE WHEN len(ct) - n + 1 >= 1
         THEN list_transform(range(1, len(ct) - n + 2),
                             i -> array_to_string(ct[i:i+n-1], ' '))
         ELSE [] END) AS gram
  FROM tok CROSS JOIN ns),
rg AS (
  SELECT id, unnest(CASE WHEN len(rt) - n + 1 >= 1
         THEN list_transform(range(1, len(rt) - n + 2),
                             i -> array_to_string(rt[i:i+n-1], ' '))
         ELSE [] END) AS gram
  FROM tok CROSS JOIN ns),
ndocs AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM pairs),
dfreq AS (SELECT gram, count(*) AS df
          FROM (SELECT DISTINCT id, gram FROM rg) GROUP BY gram),
idf AS (SELECT gram, ln(nd / df) AS idf FROM dfreq, ndocs),
ctf AS (SELECT id, gram, count(*) AS ctf FROM cg GROUP BY id, gram),
rtf AS (SELECT id, gram, count(*) AS rtf FROM rg GROUP BY id, gram),
j AS (
  SELECT coalesce(c.id, r.id) AS id, coalesce(c.gram, r.gram) AS gram,
         coalesce(c.ctf, 0) AS ctf, coalesce(r.rtf, 0) AS rtf,
         coalesce(i.idf, 0.0::DOUBLE) AS idf,
         len(string_split(coalesce(c.gram, r.gram), ' ')) AS n
  FROM ctf c FULL OUTER JOIN rtf r ON c.id = r.id AND c.gram = r.gram
  LEFT JOIN idf i ON coalesce(c.gram, r.gram) = i.gram),
per_n AS (
  SELECT id, n,
         sum(ctf * rtf * idf * idf) AS dot,
         sqrt(sum(ctf * ctf * idf * idf)) AS cn,
         sqrt(sum(rtf * rtf * idf * idf)) AS rn
  FROM j GROUP BY id, n),
sims AS (SELECT id, n,
                CASE WHEN cn > 0 AND rn > 0 THEN dot / (cn * rn)
                     ELSE 0.0::DOUBLE END AS sim
         FROM per_n),
lens AS (SELECT id, len(ct) AS cl, len(rt) AS rl FROM tok)
SELECT s.id,
       round(10.0::DOUBLE * (sum(sim) / 4.0::DOUBLE)
             * exp(-((cl - rl) * (cl - rl)) / 72.0::DOUBLE), 6) AS cider
FROM sims s JOIN lens USING (id)
GROUP BY s.id, cl, rl"""


def _kcenter_oracle_sql(k: int = 12) -> str:
    """ContentChooser k-center greedy (agentic_rag/filter/content_chooser.py
    :140) as k-1 unrolled argmax CTE steps: each pick is min-sq-euclidean
    distance to the selected set, max over points, ties to the smallest id
    — exactly ``operators/selection.kcenter_greedy``'s order. MATERIALIZED
    CTEs keep each step a single e x sel scan (a correlated-subquery form
    re-expands the union chain per row and blows up)."""
    parts = [
        "e AS MATERIALIZED (SELECT vec_id AS id, "
        "CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "sel0 AS MATERIALIZED (SELECT id, v, 0 AS sel_rank FROM e "
        "WHERE id = (SELECT min(id) FROM e))",
    ]
    for r in range(1, k):
        parts.append(f"""pick{r} AS MATERIALIZED (
  SELECT dd.id, e.v, {r} AS sel_rank
  FROM (SELECT e.id, min(list_sum(list_transform(range(1, len(e.v)+1),
              j -> (e.v[j] - s.v[j]) * (e.v[j] - s.v[j])))) AS d
        FROM e CROSS JOIN sel{r - 1} s GROUP BY e.id) dd
  JOIN e ON e.id = dd.id
  ORDER BY dd.d DESC, dd.id ASC LIMIT 1)""")
        parts.append(
            f"sel{r} AS MATERIALIZED (SELECT * FROM sel{r - 1} "
            f"UNION ALL SELECT * FROM pick{r})"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id AS vec_id, sel_rank FROM sel{k - 1}"
    )


_EXTRA_ORACLES["kcenter_select"] = _kcenter_oracle_sql(12)

# The md5-component unit embedding shared by the BERTScore / Task2Vec
# stand-ins (functions/eval_scorers._token_unit_vector): component j of a
# token is ('0x' || substr(md5(tok || ':' || j), 1, 8))::BIGINT / 2^31 - 1,
# unit-normalized — an arithmetic hash family chosen precisely so these
# two scores are DuckDB-replayable (the prior RNG-seeded family was not).
_EMB_SQL = """
    raw AS (
      SELECT tok, list_transform(range(0, 64),
             j -> ('0x' || substr(md5(tok || ':' || j), 1, 8))::BIGINT
                  / 2147483648.0::DOUBLE - 1.0::DOUBLE) AS rv
      FROM vocab),
    emb AS (
      SELECT tok, list_transform(rv, x -> x / n) AS v
      FROM (SELECT tok, rv, sqrt(list_sum(list_transform(rv, y -> y * y))) AS n
            FROM raw))"""

_EXTRA_ORACLES["bertscore"] = f"""
WITH pairs AS (
  SELECT a.doc_id AS id, a.text AS cand, b.text AS ref
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
tok AS (
  SELECT id,
         list_filter(regexp_split_to_array(lower(coalesce(cand,'')), '\\s+'),
                     x -> x <> '') AS ct,
         list_filter(regexp_split_to_array(lower(coalesce(ref,'')), '\\s+'),
                     x -> x <> '') AS rt
  FROM pairs),
vocab AS (
  SELECT DISTINCT tok FROM (
    SELECT unnest(ct) AS tok FROM tok UNION SELECT unnest(rt) AS tok FROM tok)),
{_EMB_SQL},
civ AS (
  SELECT id, s.i AS i, e.v
  FROM (SELECT id, unnest(list_transform(range(1, len(ct) + 1),
               k -> struct_pack(i := k, tok := ct[k]))) AS s FROM tok) u
  JOIN emb e ON e.tok = u.s.tok),
riv AS (
  SELECT id, s.i AS i, e.v
  FROM (SELECT id, unnest(list_transform(range(1, len(rt) + 1),
               k -> struct_pack(i := k, tok := rt[k]))) AS s FROM tok) u
  JOIN emb e ON e.tok = u.s.tok),
simmat AS (
  SELECT c.id, c.i AS ci, r.i AS ri, list_dot_product(c.v, r.v) AS cos
  FROM civ c JOIN riv r USING (id)),
p AS (SELECT id, avg(m) AS p
      FROM (SELECT id, ci, max(cos) AS m FROM simmat GROUP BY id, ci)
      GROUP BY id),
r AS (SELECT id, avg(m) AS r
      FROM (SELECT id, ri, max(cos) AS m FROM simmat GROUP BY id, ri)
      GROUP BY id)
SELECT t.id AS doc_id,
       round(coalesce(p.p, 0.0::DOUBLE), 6) AS precision,
       round(coalesce(r.r, 0.0::DOUBLE), 6) AS recall,
       round(CASE WHEN coalesce(p.p, 0) + coalesce(r.r, 0) > 0
             THEN 2 * p.p * r.r / (p.p + r.r) ELSE 0.0::DOUBLE END, 6) AS f1
FROM tok t LEFT JOIN p ON p.id = t.id LEFT JOIN r ON r.id = t.id"""

_EXTRA_ORACLES["task2vec_diversity"] = f"""
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text,'')), '\\s+'),
                     x -> x <> '') AS ts
  FROM documents
  WHERE regexp_matches(coalesce(text,''), '\\S')),
vocab AS (SELECT DISTINCT tok FROM (SELECT unnest(ts) AS tok FROM d)),
{_EMB_SQL},
dtokv AS (
  SELECT dt.doc_id, uk.k AS k, e.v[uk.k] AS x
  FROM (SELECT doc_id, unnest(ts) AS tok FROM d) dt
  JOIN emb e ON e.tok = dt.tok
  CROSS JOIN (SELECT unnest(range(1, 65)) AS k) uk),
dmean AS (
  SELECT doc_id, k, sum(x) / count(*) AS m FROM dtokv GROUP BY doc_id, k),
dnorm AS (SELECT doc_id, sqrt(sum(m * m)) AS nrm FROM dmean GROUP BY doc_id),
dunit AS (
  SELECT dm.doc_id, dm.k,
         CASE WHEN dn.nrm > 0 THEN dm.m / dn.nrm ELSE dm.m END AS u
  FROM dmean dm JOIN dnorm dn USING (doc_id)),
S AS (SELECT k, sum(u) AS s FROM dunit GROUP BY k),
agg AS (SELECT (SELECT count(*) FROM d) AS n, sum(s * s) AS sumsq FROM S)
SELECT CAST(n AS BIGINT) AS n_docs,
       CASE WHEN n > 1
            THEN round(1.0::DOUBLE - (sumsq - n) / (n * (n - 1)), 6)
            ELSE 0.0::DOUBLE END AS diversity
FROM agg"""

_HDD_SQL = """
    CASE WHEN len(toks) < 42 THEN 0.0 ELSE
      list_sum(list_transform(
        list_transform(list_distinct(toks),
                       w -> len(list_filter(toks, x -> x = w))),
        f -> (1.0 - CASE WHEN len(toks) - f >= 42 THEN
                 list_aggregate(list_transform(range(0, 42),
                   i -> (len(toks) - f - i) / CAST(len(toks) - i AS DOUBLE)),
                   'product')
               ELSE 0.0 END) / 42.0))
    END"""

_EXTRA_ORACLES["lexical_diversity_filter"] = f"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(lower(coalesce(text,'')), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents),
    h AS (SELECT doc_id, text, round({_HDD_SQL}, 9) AS hdd FROM t)
    SELECT doc_id, text FROM h WHERE hdd >= 0.53 AND hdd <= 0.99"""

# MTLD (McCarthy & Jarvis 2010; reference
# eval/statistics/lexical_diversity_scorer.py:13-46) is a sequential
# factor-count walk — the oracle replays it as a recursive CTE whose state
# per (doc, direction) is (position, factors, run length, run type set).
# Each iteration advances every live doc by one token, so recursion depth
# = max tokens/doc (99 at sf0.01; ~2s at sf0.1). All constants are forced
# to DOUBLE so DuckDB's DECIMAL literal arithmetic can't diverge from the
# Python kernel's IEEE op sequence: raw values are bit-exact vs mtld() on
# all sf dirs, and both engines round 6dp half-up (pandas would bank ties).
_EXTRA_ORACLES["score_lexical_diversity"] = f"""
    WITH RECURSIVE
    t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(coalesce(text,'')), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents),
    d AS (
      SELECT doc_id, 0 AS dir, toks FROM t
      UNION ALL
      SELECT doc_id, 1 AS dir, list_reverse(toks) AS toks FROM t),
    walk AS (
      SELECT doc_id, dir, toks, 0 AS i, 0.0::DOUBLE AS factors, 0 AS cnt,
             []::VARCHAR[] AS types
      FROM d
      UNION ALL
      SELECT doc_id, dir, toks, i + 1,
             CASE WHEN len(types2) / CAST(cnt + 1 AS DOUBLE) <= 0.72::DOUBLE
                  THEN factors + 1.0::DOUBLE ELSE factors END,
             CASE WHEN len(types2) / CAST(cnt + 1 AS DOUBLE) <= 0.72::DOUBLE
                  THEN 0 ELSE cnt + 1 END,
             CASE WHEN len(types2) / CAST(cnt + 1 AS DOUBLE) <= 0.72::DOUBLE
                  THEN []::VARCHAR[] ELSE types2 END
      FROM (
        SELECT doc_id, dir, toks, i, factors, cnt,
               CASE WHEN list_contains(types, toks[i + 1]) THEN types
                    ELSE list_append(types, toks[i + 1]) END AS types2
        FROM walk WHERE i < len(toks)) s),
    fin AS (
      SELECT doc_id, dir, len(toks) AS n, factors, cnt,
             CASE WHEN cnt > 0 THEN len(types) / CAST(cnt AS DOUBLE)
                  ELSE 1.0::DOUBLE END AS ttr
      FROM walk WHERE i = len(toks)),
    per_dir AS (
      SELECT doc_id, dir, n,
             factors + CASE WHEN cnt > 0 AND ttr < 1.0::DOUBLE
                            THEN (1.0::DOUBLE - ttr)
                                 / (1.0::DOUBLE - 0.72::DOUBLE)
                            ELSE 0.0::DOUBLE END AS f
      FROM fin),
    vals AS (
      SELECT doc_id, dir,
             CASE WHEN f = 0.0::DOUBLE THEN CAST(n AS DOUBLE)
                  ELSE n / f END AS v
      FROM per_dir),
    m AS (
      SELECT doc_id,
             (max(CASE WHEN dir = 0 THEN v END) +
              max(CASE WHEN dir = 1 THEN v END)) / 2.0::DOUBLE AS mtld_raw
      FROM vals GROUP BY doc_id)
    SELECT t.doc_id, round(m.mtld_raw, 6) AS mtld, round({_HDD_SQL}, 6) AS hdd
    FROM t JOIN m USING (doc_id)"""


# -------------------------------------------- stats / thin filters / generators

def _q_text_stats(spark, sf):
    from dataflow_spark.functions.stats import text_stats_struct

    docs = _t(spark, sf, "documents")
    s = text_stats_struct(F.col("text"))
    return docs.select(
        "doc_id",
        s["n_chars"].alias("n_chars_m"),
        s["n_words"].alias("n_words"),
        s["n_sentences"].alias("n_sentences"),
        s["avg_word_len"].alias("avg_word_len"),
        s["avg_sentence_len"].alias("avg_sentence_len"),
        s["flesch_reading_ease"].alias("flesch_reading_ease"),
    )


def _q_language_filter(spark, sf):
    """LanguageFilter (filter/language_filter.py:61-65) shape: keep rows
    whose predicted language is in the allowed set."""
    docs = _t(spark, sf, "documents")
    pred = S.lang_id_native(F.col("text"))
    return docs.select("doc_id", pred.alias("lang_pred")).filter(
        F.col("lang_pred").isin("en", "de")
    )


def _q_quality_filter(spark, sf):
    """Model-quality-filter shape (DeitaQualityFilter et al., SURVEY §2.2)
    with the deterministic quality score."""
    docs = _t(spark, sf, "documents")
    q = F.round(S.quality_score_native(F.col("text")), 9)
    return docs.select("doc_id", q.alias("quality")).filter(F.col("quality") >= 0.5)


def _q_ngram_filter(spark, sf):
    """NgramFilter (filter/ngram_filter.py:8-52): keep repetition score in
    range."""
    docs = _t(spark, sf, "documents")
    s = F.round(S.ngram_score_native(F.col("text")), 9)
    return docs.select("doc_id", s.alias("ngram_score")).filter(
        (F.col("ngram_score") >= 0.6) & (F.col("ngram_score") <= 1.0)
    )


def _q_lexdiv_filter(spark, sf):
    """LexicalDiversityFilter (filter/lexical_diversity_filter.py shape):
    keep documents whose HD-D diversity is in range. HDD is closed-form
    (hypergeometric zero-draw product), so the DuckDB oracle replays the
    identical IEEE op sequence."""
    docs = _t(spark, sf, "documents")
    res = S.lexical_diversity_udf()(F.col("text"))
    # round to 9dp on BOTH engines before the threshold compare: each
    # P(X=0) product matches term-for-term, but the outer sum iterates
    # Counter insertion order vs DuckDB list_distinct order — FP addition
    # is order-dependent in the last ulp
    return (
        docs.select("doc_id", "text", F.round(res["hdd"], 9).alias("hdd"))
        .filter((F.col("hdd") >= 0.53) & (F.col("hdd") <= 0.99))
        .select("doc_id", "text")
    )


def _q_pii_filter(spark, sf):
    """PresidioFilter shape (general_text/filter/presidio_filter.py: keep
    rows whose detected-PII count is below threshold) — deterministic
    stand-in: keep documents with ZERO regex-recognizer PII entities,
    sharing PII_PATTERNS with the redact_pii refiner."""
    from dataflow_spark.functions.refiners import PII_PATTERNS

    docs = _t(spark, sf, "documents")
    cond = F.lit(True)
    for pat, _rep in PII_PATTERNS:
        cond = cond & ~F.coalesce(F.col("text"), F.lit("")).rlike(pat)
    return docs.select("doc_id", "text").filter(cond)


def _pii_filter_oracle() -> str:
    # independent parse of the neutral table, as in _pii_oracle_expr
    import json

    from dataflow_spark.resources import rule_table_path

    with open(rule_table_path("pii_patterns.json"), encoding="utf-8") as f:
        rules = json.load(f)
    conds = " AND ".join(
        f"NOT regexp_matches(coalesce(text, ''), '{pat}')" for pat, _ in rules
    )
    return f"SELECT doc_id, text FROM documents WHERE {conds}"


def _q_answer_formatter(spark, sf):
    """AnswerFormatterFilter (reasoning/filter/answer_formatter_filter.py:10):
    keep rows whose text matches the required format regex."""
    docs = _t(spark, sf, "documents")
    return docs.select("doc_id").filter(F.col("text").rlike(r"\btable\b"))


def _q_prompted_template(spark, sf):
    from dataflow_spark.operators.generate import prompted_template

    docs = _t(spark, sf, "documents").select("doc_id", "text", "lang")
    out = prompted_template(docs, "Summarize [{lang}]: {text}")
    return out.select("doc_id", "generated")


def _q_pretrain_format(spark, sf):
    from dataflow_spark.operators.generate import pretrain_format_converter

    docs = _t(spark, sf, "documents")
    return pretrain_format_converter(docs)


def _q_vendi(spark, sf):
    from dataflow_spark.operators.generate import vendi_score

    emb = _t(spark, sf, "embeddings")
    v = vendi_score(emb, "embedding", dim=64)
    return spark.createDataFrame([(round(v, 6),)], "vendi_score double")


def _q_vendi_gram(spark, sf):
    """Exploded normalized Gram — the oracle-able intermediate of
    vendi_score (everything except the eigendecomposition)."""
    from dataflow_spark.operators.generate import vendi_gram

    return vendi_gram(_t(spark, sf, "embeddings"), "embedding", dim=64)


_EXTRA_ORACLES["vendi_gram"] = """
    WITH e AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    u AS (SELECT list_transform(v, x -> x / CASE WHEN nrm = 0 THEN 1.0 ELSE nrm END) AS v
          FROM (SELECT v, sqrt(list_dot_product(v, v)) AS nrm FROM e)),
    nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
    comp AS (
      SELECT r.rid, s.k AS k, s.x AS x
      FROM (SELECT row_number() OVER () AS rid, v FROM u) r,
           LATERAL (SELECT unnest(range(1, len(r.v) + 1)) AS k,
                           unnest(r.v) AS x) s)
    SELECT CAST(a.k AS INT) AS i, CAST(b.k AS INT) AS j,
           round(sum(a.x * b.x) / nd.n, 6) AS g
    FROM comp a JOIN comp b USING (rid), nd
    GROUP BY a.k, b.k, nd.n"""


_STATS_ORACLES = {
    "text_stats": f"""
        WITH m AS (
          SELECT doc_id, coalesce(text,'') AS t, len({_TOKS}) AS n_words
          FROM documents),
        h AS (
          SELECT doc_id, n_words,
                 length(t) AS n_chars_m,
                 greatest(len(regexp_extract_all(t, '\\b[^.!?\\n]+[.!?]*')), 1) AS n_sent,
                 length(regexp_replace(t, '[^A-Za-z]', '', 'g')) AS letters,
                 greatest(len(regexp_extract_all(lower(t), '[aeiouy]+')), n_words) AS syllables
          FROM m)
        SELECT doc_id,
               CAST(n_chars_m AS BIGINT) AS n_chars_m,
               CAST(n_words AS BIGINT) AS n_words,
               CAST(n_sent AS BIGINT) AS n_sentences,
               round(CASE WHEN n_words > 0 THEN letters / CAST(n_words AS DOUBLE) ELSE 0.0 END, 9) AS avg_word_len,
               round(CAST(n_words AS DOUBLE) / n_sent, 9) AS avg_sentence_len,
               round(CASE WHEN n_words > 0 THEN
                     206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sent)
                             - 84.6 * (CAST(syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
                     ELSE 206.835 END, 9) AS flesch_reading_ease
        FROM h""",
    "language_filter": f"""
        WITH m AS (
          SELECT doc_id, list_transform({_TOKS}, x -> lower(x)) AS toks FROM documents),
        h AS (
          SELECT doc_id,
                 len(list_filter(toks, x -> list_contains({_sql_lang_arr('en')}, x))) AS c_en,
                 len(list_filter(toks, x -> list_contains({_sql_lang_arr('de')}, x))) AS c_de,
                 len(list_filter(toks, x -> list_contains({_sql_lang_arr('fr')}, x))) AS c_fr,
                 len(list_filter(toks, x -> list_contains({_sql_lang_arr('es')}, x))) AS c_es
          FROM m),
        p AS (
          SELECT doc_id,
                 CASE WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
                      WHEN c_de > 0 AND c_de >= c_fr AND c_de >= c_es THEN 'de'
                      WHEN c_fr > 0 AND c_fr >= c_es THEN 'fr'
                      WHEN c_es > 0 THEN 'es'
                      ELSE 'unknown' END AS lang_pred
          FROM h)
        SELECT doc_id, lang_pred FROM p WHERE lang_pred IN ('en', 'de')""",
    "ngram_filter": f"""
        WITH m AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(
                    translate(lower(coalesce(text,'')), '{_PUNCT_SQL}', ''), '\\s+'),
                    x -> x <> '') AS toks
          FROM documents),
        s AS (
          SELECT doc_id,
                 round(CASE WHEN len(toks) < 5 THEN 1.0
                       ELSE len(list_distinct(list_transform(range(1, len(toks) - 3),
                            i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) * 1.0
                            / (len(toks) - 4) END, 9) AS ngram_score
          FROM m)
        SELECT doc_id, ngram_score FROM s WHERE ngram_score >= 0.6 AND ngram_score <= 1.0""",
    "answer_formatter": """
        SELECT doc_id FROM documents WHERE regexp_matches(text, '\\btable\\b')""",
    "prompted_template": """
        SELECT doc_id, 'Summarize [' || lang || ']: ' || text AS generated
        FROM documents""",
    "pretrain_format": """
        SELECT doc_id AS id, text AS content,
               CAST(length(coalesce(text,'')) AS BIGINT) AS content_len,
               'pretrain' AS format
        FROM documents""",
}

def _q_events_profile(spark, sf):
    """Dataset profile with EXACT statistics (oracle-checked): distinct
    users, exact percentiles of value per event_type."""
    ev = _t(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.count("*").alias("n_events"),
    )


def _q_sketch_profile(spark, sf):
    """Sketch-based profile (approx_count_distinct HLL + approx quantiles)
    — the 100-TB path where exact distinct/percentile would shuffle
    everything; deterministic for fixed input but engine-specific, so
    rows-only checked."""
    ev = _t(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.round(F.expr("approx_percentile(value, 0.5, 1000)"), 4).alias("approx_p50"),
        F.round(F.expr("approx_percentile(value, 0.99, 1000)"), 4).alias("approx_p99"),
    )


_KMV_K = 64


_HIST_B = 1000


def _q_hist_quantiles_quality(spark, sf):
    """Mergeable histogram-quantile sketch over the per-doc quality
    score, per language: bin = floor(score * B) (B=1000 fixed bins on
    [0,1]), quantile p = the upper edge of the smallest bin whose
    cumulative count reaches ceil(p * total). The histogram IS the
    sketch — one combinable (lang, bin) count aggregate whose state is
    ≤B rows per group regardless of corpus size, then a window over at
    most B rows per language for the extraction. The deterministic
    alternative to approx_percentile (engine-specific, rows-only) at a
    documented ±1/B resolution — the distribution-monitoring primitive
    a 100-TB curation run reports per snapshot."""
    docs = _t(spark, sf, "documents")
    q = docs.select(
        "lang",
        F.round(S.quality_score_native(F.col("text")), 9).alias("qs"),
    )
    bins = q.select(
        "lang",
        F.least(F.lit(_HIST_B - 1), F.floor(F.col("qs") * _HIST_B))
        .cast("long")
        .alias("bin"),
    )
    hist = bins.groupBy("lang", "bin").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("lang").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("cum", F.sum("c").over(w)).withColumn(
        "total", F.sum("c").over(Window.partitionBy("lang"))
    )
    edge = (F.col("bin") + 1).cast("double") / _HIST_B

    def pick(p: float):
        need = F.ceil(F.lit(p) * F.col("total"))
        return F.round(
            F.min(F.when(F.col("cum") >= need, edge)), 6
        ).alias(f"p{int(p * 100)}")

    return cum.groupBy("lang").agg(
        F.max("total").alias("n_docs"),
        pick(0.25), pick(0.5), pick(0.75), pick(0.9),
    )


def _q_sketch_profile_kmv(spark, sf):
    """Deterministic sketch profile with EXACT SQL replay — the
    alternative to `sketch_profile`'s HLL/approx_percentile (which are
    engine-specific and therefore rows-only): per event_type, a KMV
    (k-minimum-values) distinct-user estimate ``(k-1)/u_k`` over the k
    smallest md5-uniform hashes of the distinct users, and an exact
    median over a deterministic 10% hash-sample of the values. KMV state
    is k doubles — mergeable and tiny, the sketch family you'd run at
    100 TB (here ranked via a window for clarity; a cluster deployment
    folds it into a min-k aggregate). Falls back to the exact distinct
    count when a group has fewer than k users (the KMV rule)."""
    ev = _t(spark, sf, "events")
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))), 1, 8),
            16, 10,
        ).cast("long") / F.lit(4294967296.0)
    )
    du = (
        ev.select("event_type", "user_id").distinct()
        .select("event_type", u.alias("u"))
    )
    w = Window.partitionBy("event_type").orderBy(F.col("u").asc())
    kth = (
        du.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == _KMV_K)
        .select("event_type", F.col("u").alias("uk"))
    )
    exact = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_exact"))
    kmv = exact.join(kth, "event_type", "left").select(
        "event_type",
        F.round(
            F.coalesce((F.lit(_KMV_K - 1) / F.col("uk")), F.col("n_exact").cast("double")),
            4,
        ).alias("kmv_users"),
    )
    su = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("smp:"), F.col("event_id").cast("string"))), 1, 8),
            16, 10,
        ).cast("long") / F.lit(4294967296.0)
    )
    samp = (
        ev.filter(su < 0.1)
        .groupBy("event_type")
        .agg(F.round(F.expr("percentile(value, 0.5)"), 4).alias("sample_p50"),
             F.count(F.lit(1)).alias("n_sampled"))
    )
    return kmv.join(samp, "event_type", "left")


_SKETCH_KMV_ORACLE = {
    "sketch_profile_kmv": f"""
        WITH u AS (
          SELECT DISTINCT event_type, user_id,
                 (('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                  / 4294967296.0) AS u
          FROM events),
        r AS (SELECT event_type, u,
                     row_number() OVER (PARTITION BY event_type ORDER BY u ASC) AS rn
              FROM u),
        kth AS (SELECT event_type, u AS uk FROM r WHERE rn = {_KMV_K}),
        ex AS (SELECT event_type, count(*) AS n_exact FROM u GROUP BY event_type),
        kmv AS (SELECT ex.event_type,
                       round(coalesce({_KMV_K - 1} / kth.uk, CAST(ex.n_exact AS DOUBLE)), 4)
                         AS kmv_users
                FROM ex LEFT JOIN kth USING (event_type)),
        samp AS (
          SELECT event_type,
                 round(quantile_cont(value, 0.5), 4) AS sample_p50,
                 count(*) AS n_sampled
          FROM events
          WHERE (('0x' || substr(md5('smp:' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
                 / 4294967296.0) < 0.1
          GROUP BY event_type)
        SELECT kmv.event_type, kmv.kmv_users, samp.sample_p50, samp.n_sampled
        FROM kmv LEFT JOIN samp USING (event_type)"""
}

# hist_quantiles_quality: the binned-histogram quantile replay — the
# round-9 quality scores are engine-identical, so bin assignment,
# cumulative counts, and every quantile edge replay exactly.
_SKETCH_KMV_ORACLE["hist_quantiles_quality"] = f"""
    WITH m AS (SELECT doc_id, lang, text, {_TOKS} AS toks FROM documents),
    h AS (
      SELECT lang, len(toks) AS n,
             len(list_filter(toks, x -> list_contains({_SW_SQL}, lower(x)))) AS stop_hits,
             len(list_filter(toks, x -> upper(x) = x AND regexp_matches(x, '[A-Za-z]'))) AS caps,
             len(regexp_extract_all(coalesce(text,''), '#'))
             + len(regexp_extract_all(coalesce(text,''), '\\.\\.\\.'))
             + len(regexp_extract_all(coalesce(text,''), '…')) AS sym
      FROM m),
    q AS (SELECT lang,
                 round(CASE WHEN n > 0 THEN
                   0.3 * least(1.0, n / 50.0)
                 + 0.3 * least(1.0, 5.0 * (stop_hits / CAST(n AS DOUBLE)))
                 + 0.2 * (1.0 - caps / CAST(n AS DOUBLE))
                 + 0.2 * greatest(0.0, 1.0 - 10.0 * (sym / CAST(n AS DOUBLE)))
                 ELSE 0.0 END, 9) AS qs
          FROM h),
    b AS (SELECT lang,
                 CAST(least({_HIST_B - 1}, floor(qs * {_HIST_B})) AS BIGINT) AS bin
          FROM q),
    hist AS (SELECT lang, bin, count(*) AS c FROM b GROUP BY 1, 2),
    cum AS (SELECT lang, bin, c,
                   sum(c) OVER (PARTITION BY lang ORDER BY bin
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(c) OVER (PARTITION BY lang) AS total
            FROM hist)
    SELECT lang, CAST(max(total) AS BIGINT) AS n_docs,
           round(min(CASE WHEN cum >= ceil(0.25 * total)
                          THEN (bin + 1) / {_HIST_B}.0 END), 6) AS p25,
           round(min(CASE WHEN cum >= ceil(0.5 * total)
                          THEN (bin + 1) / {_HIST_B}.0 END), 6) AS p50,
           round(min(CASE WHEN cum >= ceil(0.75 * total)
                          THEN (bin + 1) / {_HIST_B}.0 END), 6) AS p75,
           round(min(CASE WHEN cum >= ceil(0.9 * total)
                          THEN (bin + 1) / {_HIST_B}.0 END), 6) AS p90
    FROM cum GROUP BY lang"""


def _q_kcenter_select(spark, sf):
    """ContentChooser shape (agentic_rag/filter/content_chooser.py:140):
    kcenter-greedy diverse selection over embeddings (k=12)."""
    from dataflow_spark.operators.selection import select_diverse

    emb = _t(spark, sf, "embeddings")
    return select_diverse(emb, k=12)


def _q_answer_extraction(spark, sf):
    """AnswerExtraction_QwenMathEval shape (reasoning/generate/
    answer_extraction_qwenmmatheval.py:14): deterministic final-answer
    extraction — last number in the text (or boxed expr when present)."""
    docs = _t(spark, sf, "documents")
    shaped = F.concat(
        F.coalesce("text", F.lit("")),
        F.lit(" the answer is "),
        ((F.col("doc_id") * 37) % 1000).cast("string"),
    )
    boxed = F.regexp_extract(shaped, r"\\boxed\{([^}]*)\}", 1)
    last_num = F.element_at(
        F.regexp_extract_all(shaped, F.lit(r"-?\d+(?:\.\d+)?"), F.lit(0)), -1
    )
    return docs.select(
        "doc_id",
        F.when(boxed != "", boxed).otherwise(last_num).alias("extracted_answer"),
    )


def _q_category_classify(spark, sf):
    """QuestionCategoryClassifier stand-in (reasoning/generate/
    question_category_classifier.py:15): deterministic keyword buckets."""
    docs = _t(spark, sf, "documents")
    t = F.lower(F.coalesce("text", F.lit("")))
    cat = (
        F.when(t.rlike(r"\b(join|merge)\b"), "relational")
        .when(t.rlike(r"\b(stream|window|batch)\b"), "streaming")
        .when(t.rlike(r"\b(vector|hash)\b"), "algorithms")
        .otherwise("general")
    )
    return docs.select("doc_id", cat.alias("category"))


def _q_sft_from_seed(spark, sf):
    """SFTGeneratorSeed shape (general_text/generate/sft_generator_from_seed.py:27,66):
    seed document → (instruction, output) SFT record. Deterministic stand-in:
    instruction = templated first 8 tokens, output = remainder. The LLM
    seam is the two column expressions."""
    docs = _t(spark, sf, "documents")
    toks = F.filter(
        F.split(F.trim(F.coalesce("text", F.lit(""))), r"\s+"), lambda x: x != ""
    )
    head = F.array_join(F.slice(toks, 1, 8), " ")
    tail = F.array_join(F.slice(toks, 9, 1_000_000), " ")
    return docs.select(
        "doc_id",
        F.concat(F.lit("Continue the passage: "), head).alias("instruction"),
        tail.alias("output"),
    ).filter(F.col("output") != "")


def _q_extract_questions(spark, sf):
    """MathBookQuestionExtract shape (knowledge_cleaning/generate/
    mathbook_question_extract.py:23): regex-extract question sentences,
    one row per question (UDTF shape)."""
    docs = _t(spark, sf, "documents")
    # the synthetic corpus has no '?' — shape a question-bearing text
    # deterministically (every 3rd doc gets an interrogative clause)
    shaped = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.coalesce("text", F.lit("")), F.lit(". what does doc "),
                 F.col("doc_id").cast("string"), F.lit(" say? and why?")),
    ).otherwise(F.coalesce("text", F.lit("")))
    qs = F.regexp_extract_all(shaped, F.lit(r"\b[^.!?\n]*\?"), F.lit(0))
    out = docs.select("doc_id", F.posexplode(qs).alias("q_idx", "question"))
    return out


def _q_answer_groundtruth(spark, sf):
    """AnswerGroundTruthFilter (reasoning/filter/answer_ground_truth_filter.py:11):
    keep rows whose normalized answer contains the normalized ground truth.
    Pairs: answer = doc text, gt = first 5 tokens of the next doc."""
    # gt comes from the SAME doc (match) for even ids and from the NEXT doc
    # (usually no match) for odd ids — both filter outcomes exercised
    docs = _t(spark, sf, "documents")
    head5 = F.array_join(
        F.slice(
            F.filter(F.split(F.trim(F.coalesce("text", F.lit(""))), r"\s+"),
                     lambda x: x != ""),
            1, 5,
        ),
        " ",
    )
    a = docs.select("doc_id", F.col("text").alias("answer"), head5.alias("own_gt"))
    b = docs.select((F.col("doc_id") - 1).alias("doc_id"), head5.alias("next_gt"))
    pairs = a.join(b, "doc_id").withColumn(
        "gt", F.when(F.col("doc_id") % 2 == 0, F.col("own_gt")).otherwise(F.col("next_gt"))
    )
    norm = lambda c: F.lower(F.trim(c))  # noqa: E731
    return pairs.filter(F.contains(norm(F.col("answer")), norm(F.col("gt")))).select(
        "doc_id", "gt"
    )


def _q_difficulty_classify(spark, sf):
    """QuestionDifficultyClassifier stand-in (reasoning/generate/
    question_difficulty_classifier.py:12): deterministic token-count
    bucketing instead of the LLM judgment."""
    docs = _t(spark, sf, "documents")
    n = F.size(
        F.filter(F.split(F.trim(F.coalesce("text", F.lit(""))), r"\s+"), lambda x: x != "")
    )
    label = (
        F.when(n < 30, "easy").when(n < 70, "medium").otherwise("hard")
    )
    return docs.select("doc_id", n.cast("long").alias("n_tokens"), label.alias("difficulty"))


_STATS_ORACLES["events_profile"] = """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.95), 4) AS p95,
           count(*) AS n_events
    FROM events GROUP BY event_type"""

_STATS_ORACLES["answer_extraction"] = """
    WITH shaped AS (
      SELECT doc_id,
             coalesce(text,'') || ' the answer is ' || CAST((doc_id * 37) % 1000 AS VARCHAR) AS t
      FROM documents)
    SELECT doc_id,
           CASE WHEN regexp_extract(t, '\\\\boxed\\{([^}]*)\\}', 1) <> ''
                THEN regexp_extract(t, '\\\\boxed\\{([^}]*)\\}', 1)
                ELSE list_extract(regexp_extract_all(t, '-?\\d+(?:\\.\\d+)?'), -1)
           END AS extracted_answer
    FROM shaped"""

_STATS_ORACLES["category_classify"] = """
    SELECT doc_id,
           CASE WHEN regexp_matches(lower(coalesce(text,'')), '\\b(join|merge)\\b') THEN 'relational'
                WHEN regexp_matches(lower(coalesce(text,'')), '\\b(stream|window|batch)\\b') THEN 'streaming'
                WHEN regexp_matches(lower(coalesce(text,'')), '\\b(vector|hash)\\b') THEN 'algorithms'
                ELSE 'general' END AS category
    FROM documents"""

_STATS_ORACLES["sft_from_seed"] = f"""
    WITH m AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
    SELECT doc_id,
           'Continue the passage: ' || array_to_string(list_slice(toks, 1, 8), ' ') AS instruction,
           array_to_string(list_slice(toks, 9, len(toks)), ' ') AS output
    FROM m WHERE array_to_string(list_slice(toks, 9, len(toks)), ' ') <> ''"""

_STATS_ORACLES["extract_questions"] = """
    WITH shaped AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN coalesce(text,'') || '. what does doc ' || CAST(doc_id AS VARCHAR) || ' say? and why?'
                  ELSE coalesce(text,'') END AS t
      FROM documents)
    SELECT doc_id, CAST(i - 1 AS INT) AS q_idx, q AS question
    FROM (
      SELECT doc_id,
             unnest(regexp_extract_all(t, '\\b[^.!?\\n]*\\?')) AS q,
             generate_subscripts(regexp_extract_all(t, '\\b[^.!?\\n]*\\?'), 1) AS i
      FROM shaped)"""

_STATS_ORACLES["answer_groundtruth_filter"] = f"""
    WITH h AS (
      SELECT doc_id, text,
             array_to_string(list_slice({_TOKS}, 1, 5), ' ') AS head5
      FROM documents),
    pairs AS (
      SELECT a.doc_id, a.text AS answer,
             CASE WHEN a.doc_id % 2 = 0 THEN a.head5 ELSE b.head5 END AS gt
      FROM h a JOIN h b ON b.doc_id = a.doc_id + 1)
    SELECT doc_id, gt FROM pairs
    WHERE contains(lower(trim(answer)), lower(trim(gt)))"""

_STATS_ORACLES["difficulty_classify"] = f"""
    WITH m AS (SELECT doc_id, len({_TOKS}) AS n FROM documents)
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CASE WHEN n < 30 THEN 'easy' WHEN n < 70 THEN 'medium' ELSE 'hard' END AS difficulty
    FROM m"""

# quality_filter = score_quality oracle + range predicate
_STATS_ORACLES["quality_filter"] = (
    "SELECT doc_id, quality FROM (" + _SCORER_ORACLES["score_quality"] + ") WHERE quality >= 0.5"
)


# ---------------------------------------------------------------- text2sql

# Pinned SQL corpora instantiated from doc_id ('@' -> the id, digits only,
# so substitution never changes which scoring patterns match). The
# classifier templates span the easy/medium/hard/extra bands; the
# execution templates mix valid scalar/CTE SELECTs with non-SELECT
# statements (gate-rejected) and SELECTs that parse but fail at execution
# (syntax / unknown table / unknown function).
_SQL_CLASSIFY_TEMPLATES = [
    "select name from users where id = @",
    "select a, b from t order by a limit @",
    "select x from t1 join t2 on t1.id = t2.id where x > @ and y < @ or z = @",
    "select count(x) from t group by g having count(x) > @ order by g",
    "select a from (select a from t) sub union select a from u",
    "select a, b from t1 join t2 on a = b join t3 on b = c where a in "
    "(select x from s) and b > @ and c < @ group by a, b having count(x) > 1 "
    "order by a limit 5 union select @, @ from v",
    "select cast(a as int), round(b) from t where a like '%@%'",
    "with t as (select a from x) select a from t where a = @",
]

_SQL_EXEC_TEMPLATES = [
    "select 1 + @",
    "select @ as x, 2 as y",
    "/* c@ */ select 3",
    "-- c\nselect @",
    "with t as (select @ as v) select v from t",
    "update docs set x = @",
    "select from where @",
    "select * from nonexistent_table_@",
    "delete from t -- @",
    "select unknown_func_xyz(@)",
]
_SQL_EXEC_VALID = (0, 1, 2, 3, 4)


def _sql_from_templates(templates: list[str]):
    tpl = F.element_at(
        F.array(*[F.lit(t) for t in templates]),
        (F.col("doc_id") % len(templates) + 1).cast("int"),
    )
    return F.replace(tpl, F.lit("@"), F.col("doc_id").cast("string"))


def _q_sql_component_classify(spark, sf):
    """SQLComponentClassifier / EvalHardnessLite
    (text2sql/eval/sql_component_classifier.py:630-698): difficulty label
    from SQL component counts, Catalyst-native."""
    from dataflow_spark.operators.text2sql import sql_component_difficulty

    docs = _t(spark, sf, "documents")
    sql = _sql_from_templates(_SQL_CLASSIFY_TEMPLATES)
    return docs.select(
        "doc_id", sql.alias("sql"), sql_component_difficulty(sql).alias("difficulty")
    )


def _q_sql_execution_filter(spark, sf):
    """SQLExecutionFilter (text2sql/filter/sql_execution_filter.py:13-115):
    SELECT/WITH gate in Catalyst, then genuine execution against an
    in-process DuckDB per Arrow batch; rows whose SQL errors are dropped.
    The oracle derives the keep-set arithmetically from the template
    construction — verifying the engine's execute-probe agrees with the
    known validity of each variant."""
    from dataflow_spark.operators.text2sql import sql_execution_filter

    docs = _t(spark, sf, "documents")
    cand = docs.select(
        "doc_id", _sql_from_templates(_SQL_EXEC_TEMPLATES).alias("sql")
    )
    return sql_execution_filter(cand, "sql")


def _duck_sql_templates(templates: list[str]) -> str:
    lits = ", ".join("'" + t.replace("'", "''") + "'" for t in templates)
    return (
        f"replace(list_extract([{lits}], (doc_id % {len(templates)} + 1)::int),"
        " '@', CAST(doc_id AS VARCHAR))"
    )


def _duck_sql_difficulty(s: str) -> str:
    """DuckDB transcription of EvalHardnessLite's score over expression
    ``s`` (an already-lowered SQL string) + the [2,5,9] banding."""
    cnt = lambda tok: (  # noqa: E731
        f"((length({s}) - length(replace({s}, '{tok}', ''))) / {len(tok)})"
    )
    has = lambda tok: f"contains({s}, '{tok}')"  # noqa: E731
    colgrp = f"regexp_extract({s}, '(?s)select\\s+(distinct\\s+)?(.+?)\\s+from', 2)"
    score = " + ".join(
        [
            f"CASE WHEN regexp_matches({s}, '\\( *select') THEN 2 ELSE 0 END",
            f"CASE WHEN {cnt(' join ')} > 0 THEN CAST({cnt(' join ')} AS INT) ELSE 0 END",
            f"CASE WHEN {cnt(',')} > 0 AND {has('from')} THEN 1 ELSE 0 END",
            f"CASE WHEN {cnt(' and ')} + {cnt(' or ')} >= 2 THEN 1 ELSE 0 END",
            f"CASE WHEN {has('in')} OR {has('exists')} OR {has('like')} THEN 1 ELSE 0 END",
            f"CASE WHEN {has('group by')} THEN 1 ELSE 0 END",
            f"CASE WHEN {has('having')} THEN 1 ELSE 0 END",
            f"CASE WHEN {has('cast')} OR {has('round')} OR {has('substring')} "
            f"OR {has('date')} OR {has('coalesce')} THEN 1 ELSE 0 END",
            f"CASE WHEN {has('order by')} THEN 1 ELSE 0 END",
            f"CASE WHEN {has('limit')} THEN 1 ELSE 0 END",
            f"CASE WHEN {has('union')} OR {has('intersect')} OR {has('except')} "
            "THEN 2 ELSE 0 END",
            f"CASE WHEN length({colgrp}) - length(replace({colgrp}, ',', '')) >= 1 "
            "THEN 1 ELSE 0 END",
        ]
    )
    return (
        f"CASE WHEN ({score}) <= 2 THEN 'easy' WHEN ({score}) <= 5 THEN 'medium' "
        f"WHEN ({score}) <= 9 THEN 'hard' ELSE 'extra' END"
    )


_EXTRA_ORACLES["sql_component_classify"] = f"""
    WITH c AS (SELECT doc_id,
                      {_duck_sql_templates(_SQL_CLASSIFY_TEMPLATES)} AS sql
               FROM documents)
    SELECT doc_id, sql, {_duck_sql_difficulty("lower(sql)")} AS difficulty
    FROM c"""

_EXTRA_ORACLES["sql_execution_filter"] = f"""
    SELECT doc_id,
           {_duck_sql_templates(_SQL_EXEC_TEMPLATES)} AS sql
    FROM documents
    WHERE (doc_id % {len(_SQL_EXEC_TEMPLATES)}) IN {tuple(_SQL_EXEC_VALID)}"""

_EXTRA_ORACLES["sql_execution_match"] = _sql_match_oracle()


def _q_ccnet_normalize_doc(spark, sf):
    """CCNet normalization over genuinely dirty-shaped input: each doc is
    framed with leading whitespace, ASCII+fullwidth digits, unicode
    punctuation and a control char so every stage of the chain fires —
    the plain refine_ccnet_normalize row only sees the (clean) raw corpus
    and degenerates to an identity check."""
    from dataflow_spark.functions.refiners import REFINERS

    docs = _t(spark, sf, "documents")
    i = F.col("doc_id").cast("string")
    shaped = F.concat(
        F.lit("  "), F.coalesce("text", F.lit("")),
        F.lit(" price ９９ vs "), i,
        F.lit(" «quote» — end…\x07"),
    )
    return docs.select(
        "doc_id", REFINERS["ccnet_normalize"].native(shaped).alias("text")
    )


_CCNET_SHAPE_SQL = (
    "('  ' || coalesce(text, '') || ' price ９９ vs ' ||"
    " CAST(doc_id AS VARCHAR) || ' «quote» — end…' || chr(7))"
)

_EXTRA_ORACLES["ccnet_normalize_doc"] = (
    f"SELECT doc_id, {_ccnet_norm_oracle_expr(_CCNET_SHAPE_SQL)} AS text"
    " FROM documents"
)


def _q_html_to_markdown_doc(spark, sf):
    """FileOrURLToMarkdownConverter text path over genuinely HTML-shaped
    input: each document wrapped in a deterministic HTML scaffold
    (heading, paragraph, entity, list, bold, link) so every rule family
    actually fires — the plain refine_html_to_markdown row only sees the
    raw corpus."""
    from dataflow_spark.functions.refiners import REFINERS

    docs = _t(spark, sf, "documents")
    i = F.col("doc_id").cast("string")
    wrapped = F.concat(
        F.lit("<h1>Doc "), i, F.lit("</h1><p>"),
        F.coalesce("text", F.lit("")),
        F.lit('</p><ul><li>a &amp; b</li><li><b>bold</b> '
              '<a href="http://ex.com/'), i, F.lit('">link</a></li></ul>'),
    )
    return docs.select(
        "doc_id", REFINERS["html_to_markdown"].native(wrapped).alias("text")
    )


_HTML_WRAP_SQL = (
    "('<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' ||"
    " coalesce(text, '') ||"
    " '</p><ul><li>a &amp; b</li><li><b>bold</b> "
    '<a href="http://ex.com/\' || CAST(doc_id AS VARCHAR) ||'
    " '\">link</a></li></ul>')"
)

_EXTRA_ORACLES["html_to_markdown_doc"] = f"""
    SELECT doc_id, {_html_md_oracle_expr(_HTML_WRAP_SQL)} AS text
    FROM documents"""


# --------------------------------------------------------------- multimodal

def _q_multimodal_features(spark, sf):
    from dataflow_spark.operators.multimodal import extract_features, synth_assets

    assets = synth_assets(spark, n=64, seed=5)
    return extract_features(assets).select(
        "asset_id", "modality", "n_bytes", "content_sha", "frames_sampled"
    )


# exact twin: the md5-arithmetic asset synthesis is re-derived in SQL and
# content_sha recomputed with DuckDB's own sha256 — the mapInPandas
# metadata path (lengths, hashes, frame sampling) is independently checked
_MULTIMODAL_ORACLE = {
    "multimodal_features": """
        WITH a AS (
          SELECT u.i AS asset_id,
                 ['image', 'audio', 'video'][(u.i % 3) + 1] AS modality,
                 256 + (('0x' || substr(md5('len:5:' || u.i), 1, 8))::BIGINT % 4096) AS l
          FROM unnest(range(0, 64)) AS u(i)),
        p AS (SELECT asset_id, modality, l,
                     substr(array_to_string(list_transform(range(0, 140),
                              j -> md5('pay:5:' || asset_id || ':' || j)), ''),
                            1, l::INT) AS pay
              FROM a)
        SELECT asset_id, modality, CAST(l AS INT) AS n_bytes,
               sha256(pay) AS content_sha,
               CAST(l // 10000 AS INT) AS frames_sampled
        FROM p"""
}


# -------------------------------------------- chemistry / speech / vision

# Planted SMILES corpus: valid molecules, one malformed candidate and one
# plain word, cycled by doc_id — the extraction query appends one to each
# document so both engines see the same mixed corpus (same synthesis
# pattern as the CJK perplexity query).
_SMILES_PLANT = [
    "CC(=O)Oc1ccccc1C(=O)O",   # aspirin — valid
    "C1CCCCC1",                # cyclohexane — valid
    "CC((O",                   # unbalanced parens — rejected by the fold
    "N[C@@H](C)C(=O)O",        # alanine with stereo — valid
    "no-smiles-here",          # charset-only word, no structure chars
    "[Na+].[Cl-]",             # salt — valid bracket atoms
]

_SMILES_PAIRS = [
    ("C[C@H](N)C(=O)O", "CC(N)C(=O)O"),   # stereo stripped → equivalent
    ("[C]1CCCCC1", "C1CCCCC1"),           # plain bracket atom → equivalent
    ("CCO", "OCC"),                        # reordering → NOT (subset is
    ("CC(=O)O", "CC(=O)O"),                #   conservative without RDKit)
    ("C/C=C/C", "CC=CC"),                  # cis/trans marks stripped → eq
]


def _q_extract_smiles(spark, sf):
    """SMILES extraction from free text (reference chemistry
    extract_smiles_from_text.py:15; RDKit-free deterministic subset —
    charset + structure-char candidates, paren/bracket FOLD validation,
    ring-digit pairing — operators/chemistry.py). Corpus = documents
    text with one planted candidate per row."""
    from dataflow_spark.operators.chemistry import extract_smiles

    plant = F.array([F.lit(s) for s in _SMILES_PLANT])
    df = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" "),
            F.element_at(plant, (F.col("doc_id") % 6 + 1).cast("int")),
        ).alias("text"),
    )
    return extract_smiles(df, "doc_id")


def _q_smiles_equivalence(spark, sf):
    """Molecule-equivalence verdicts (reference chemistry
    eval_smiles_equivalence.py:11 — RDKit canonical compare; here the
    documented subset: normalized string equality with stereo markers
    stripped and plain bracket atoms unbracketed; RDKit path is an
    import-gated seam in operators/chemistry.py)."""
    from dataflow_spark.operators.chemistry import smiles_equivalent

    a = F.array([F.lit(x) for x, _ in _SMILES_PAIRS])
    b = F.array([F.lit(y) for _, y in _SMILES_PAIRS])
    idx = (F.col("doc_id") % 5 + 1).cast("int")
    df = _t(spark, sf, "documents").select(
        "doc_id",
        F.element_at(a, idx).alias("a"),
        F.element_at(b, idx).alias("b"),
    )
    return df.select(
        "doc_id", "a", "b", smiles_equivalent(df, "a", "b").alias("equiv")
    )


def _q_speech2text_stub(spark, sf):
    """Speech→text over binary payloads (reference core_speech
    speech2text_generator.py:16 — served ASR model Δ): REAL mapInPandas
    Arrow plumbing, stubbed decode whose md5 derivation the oracle
    replays in SQL. Payloads synthesized from documents text."""
    from dataflow_spark.operators.multimodal import speech_to_text

    df = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("asset_id"),
        F.encode(
            F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 64), "utf-8"
        ).alias("payload"),
    )
    return speech_to_text(df)


def _q_vqa_stub(spark, sf):
    """Prompted VQA (reference core_vision prompted_vqa_generator.py:9 —
    served VLM Δ): deterministic template answer keyed on the question's
    first content word + the payload's md5 token, through the real
    mapInPandas plumbing."""
    from dataflow_spark.operators.multimodal import vqa_answer

    df = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("asset_id"),
        F.encode(
            F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 64), "utf-8"
        ).alias("payload"),
        F.concat(
            F.lit("is the "), F.col("source"), F.lit(" shown here")
        ).alias("question"),
    )
    return vqa_answer(df)


def _q_text2sql_prompt(spark, sf):
    """Text2SQLPromptGenerator (reference default template, schema DDL
    joined from a (db_id, ddl) catalog after the reference's db_id
    sanitization) — synthesized catalog: one DDL per documents.source."""
    from dataflow_spark.operators.text2sql import text2sql_prompt

    docs = _t(spark, sf, "documents")
    schemas = (
        docs.select(F.col("source").alias("db_id"))
        .distinct()
        .select(
            "db_id",
            F.concat(
                F.lit("CREATE TABLE "),
                F.col("db_id"),
                F.lit(" (id INT, body VARCHAR);"),
            ).alias("ddl"),
        )
    )
    df = docs.select(
        "doc_id",
        F.concat(
            F.lit("what is in document "), F.col("doc_id").cast("string")
        ).alias("question"),
        F.col("source").alias("db_id"),
    )
    return text2sql_prompt(df, "question", "db_id", schemas).select(
        "doc_id", "prompt"
    )


def _text2sql_prompt_oracle() -> str:
    from dataflow_spark.operators.text2sql import PROMPT_TEMPLATE

    tmpl = PROMPT_TEMPLATE.replace("'", "''")
    return (
        "WITH sc AS (SELECT DISTINCT source AS db_id,"
        " 'CREATE TABLE ' || source || ' (id INT, body VARCHAR);' AS ddl"
        " FROM documents),"
        " d AS (SELECT doc_id,"
        " 'what is in document ' || doc_id AS question,"
        " regexp_replace(regexp_replace(coalesce(source, ''), '\\n', '', 'g'),"
        " '[^A-Za-z0-9_]', '', 'g') AS db"
        " FROM documents)"
        " SELECT d.doc_id,"
        f" replace(replace('{tmpl}', '{{schema}}', sc.ddl),"
        " '{question}', d.question) AS prompt"
        " FROM d LEFT JOIN sc ON sc.db_id = d.db"
    )


# SMILES charset/structure classes, re-spelled for RE2 (the engine spells
# them once in operators/chemistry.py for Java regex — both forms below
# are char-identical classes)
_SM_CHARSET = r"^[A-Za-z0-9@+\-\[\]()=#$%/\\.:]+$"
_SM_STRUCT = r"[()=#\[\]0-9]"
_SM_ATOM = "[BCNOPSFIbcnops]"
# fold replay: chars → {1: '(', 2: ')', 3: '[', 4: ']', 0: other}, state
# (paren_depth+50)*10000 + (bracket_depth+50)*100 + broken, init 505000.
# Mirrors chemistry._fold_step's freeze-on-violation: the first depth
# excursion pins acc at the 505001 sentinel, so the accumulator is never
# negative and // and % here agree with Spark's truncating div/mod.
_SM_FOLD = """
    list_reduce(
      list_prepend(505000::BIGINT,
        list_transform(list_filter(regexp_split_to_array(tok, ''), c -> c <> ''),
          c -> (CASE c WHEN '(' THEN 1 WHEN ')' THEN 2
                       WHEN '[' THEN 3 WHEN ']' THEN 4 ELSE 0 END)::BIGINT)),
      (acc, x) ->
        CASE WHEN acc = 505001 THEN acc
             WHEN ((acc // 10000) - 50 + CASE WHEN x = 1 THEN 1 WHEN x = 2 THEN -1 ELSE 0 END) < 0
               OR (((acc % 10000) // 100) - 50 + CASE WHEN x = 3 THEN 1 WHEN x = 4 THEN -1 ELSE 0 END) < 0
               OR (((acc % 10000) // 100) - 50 + CASE WHEN x = 3 THEN 1 WHEN x = 4 THEN -1 ELSE 0 END) > 1
             THEN 505001
             ELSE ((acc // 10000) - 50 + CASE WHEN x = 1 THEN 1 WHEN x = 2 THEN -1 ELSE 0 END + 50) * 10000
                  + (((acc % 10000) // 100) - 50 + CASE WHEN x = 3 THEN 1 WHEN x = 4 THEN -1 ELSE 0 END + 50) * 100
        END)
"""

_SM_PLANT_SQL = (
    "['" + "','".join(_SMILES_PLANT) + "'][(doc_id % 6) + 1]"
)

_SM_RING_OK = " AND ".join(
    f"(length(nobr) - length(replace(nobr, '{d}', ''))) % 2 = 0"
    for d in "123456789"
)

_CHEM_ORACLES = {
    "extract_smiles": f"""
        WITH src AS (
          SELECT doc_id, coalesce(text, '') || ' ' || {_SM_PLANT_SQL} AS text
          FROM documents),
        toks AS (
          SELECT s.doc_id, u.i - 1 AS pos, a.a[u.i] AS tok
          FROM src s,
               LATERAL (SELECT regexp_split_to_array(s.text, '\\s+') AS a) a,
               unnest(range(1, CAST(len(a.a) AS BIGINT) + 1)) AS u(i)),
        v AS (
          SELECT doc_id, pos, tok,
                 regexp_replace(tok, '\\[[^\\]]*\\]', '', 'g') AS nobr,
                 {_SM_FOLD} AS fold
          FROM toks
          WHERE regexp_matches(tok, '{_SM_CHARSET}')
            AND regexp_matches(tok, '{_SM_STRUCT}')
            AND regexp_matches(tok, '{_SM_ATOM}')
            AND length(tok) >= 5)
        SELECT doc_id, CAST(pos AS INT) AS pos, tok AS smiles
        FROM v WHERE fold = 505000 AND {_SM_RING_OK}""",
    "smiles_equivalence": f"""
        WITH p AS (
          SELECT doc_id,
                 ['{"','".join(x for x, _ in _SMILES_PAIRS)}'][(doc_id % 5) + 1] AS a,
                 ['{"','".join(y for _, y in _SMILES_PAIRS)}'][(doc_id % 5) + 1] AS b
          FROM documents),
        n AS (
          SELECT doc_id, a, b,
                 regexp_replace(regexp_replace(a, '[@/\\\\]', '', 'g'),
                                '\\[([BCNOPSFI])H?\\]', '\\1', 'g') AS na,
                 regexp_replace(regexp_replace(b, '[@/\\\\]', '', 'g'),
                                '\\[([BCNOPSFI])H?\\]', '\\1', 'g') AS nb
          FROM p)
        SELECT doc_id, a, b, (na = nb) AS equiv FROM n""",
    "speech2text_stub": """
        WITH src AS (
          SELECT doc_id AS asset_id,
                 substring(coalesce(text, ''), 1, 64) AS s
          FROM documents)
        SELECT asset_id,
               trim(regexp_replace(
                 translate(md5(s), '0123456789', 'aeioubcdfg'),
                 '(....)', '\\1 ', 'g')) AS transcript,
               CAST(8 AS INT) AS n_words,
               CAST(octet_length(encode(s)) AS DOUBLE) / 16000.0 AS duration_s
        FROM src""",
    "vqa_stub": """
        WITH src AS (
          SELECT doc_id AS asset_id,
                 substring(coalesce(text, ''), 1, 64) AS s,
                 'is the ' || source || ' shown here' AS question
          FROM documents)
        SELECT asset_id, question,
               'the ' || coalesce(
                   lower(list_filter(regexp_split_to_array(question, '\\s+'),
                                     w -> length(w) > 3)[1]), 'it')
               || ' is '
               || substring(translate(md5(s), '0123456789', 'aeioubcdfg'), 1, 4)
               AS answer
        FROM src""",
}


# ------------------------------------- decontamination + Gopher top-bigram
# (r7; beyond the reference's inventory — pretraining-pipeline staples)


def _q_decontaminate_ngram(spark, sf):
    """Benchmark decontamination (GPT-3 appendix-C style word-8-gram
    overlap; see operators/decontaminate.py for the 100-TB join plan):
    docs with doc_id %% 17 == 0 act as the deterministic 'benchmark'
    split; report every other doc sharing >= 1 lowercased 8-gram with it,
    with its distinct-shared-gram count."""
    from dataflow_spark.operators.decontaminate import contaminated_docs

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    return contaminated_docs(corpus, bench, n=8)


def _q_crossdoc_ngram_overlap(spark, sf):
    """Per-doc cross-document 5-gram duplication rate (the Lee 2021
    corpus-audit statistic; decontaminate.crossdoc_ngram_overlap). n=5
    keeps the statistic non-vacuous on the synthetic word-soup corpus
    (at n=8 nearly every gram is unique and every fraction 0)."""
    from dataflow_spark.operators.decontaminate import crossdoc_ngram_overlap

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return crossdoc_ngram_overlap(docs, n=5)


def _q_gopher_pipeline(spark, sf):
    """The MassiveText/Gopher quality pipeline (Rae 2021 A1.1-A1.3)
    composed end-to-end as one lazy plan: repetition rules
    (dup_line_frac, dup_para_frac <= 0.30) → document-shape rules
    (word_number, mean_word_length, symbol_word_ratio) → exact dedup
    (first-wins md5) → quality-score floor (>= 0.75). Runs on the
    planted multi-line corpus (so the repetition rules bite) augmented
    with exact clone docs (doc_id+100000 for doc_id < 30 — so the dedup
    stage bites too; originals must win). Every stage is the
    already-oracled operator; the chain is zero-Python, and its only
    shuffle is the dedup hash aggregate."""
    base = _planted_multiline_docs(spark, sf)
    clones = base.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    docs = base.unionByName(clones)
    filtered = apply_filters(
        docs,
        ["dup_line_frac", "dup_para_frac", "word_number",
         "mean_word_length", "symbol_word_ratio"],
    )
    deduped = D.dedup_exact(filtered, ["text"], "doc_id", algo="md5")
    q = F.round(S.quality_score_native(F.col("text")), 9)
    return (
        deduped.withColumn("quality", q)
        .filter(F.col("quality") >= 0.75)
        .select("doc_id", "quality")
    )


def _q_gopher_top_bigram_char(spark, sf):
    """Gopher repetition rule (Rae et al. 2021 table A1): fraction of
    non-whitespace characters covered by the most frequent word bigram;
    keep docs at <= 0.2. Per-doc mode via explode -> partial-agg count ->
    per-doc window top-1 (ties broken by bigram text) — distributed, no
    per-row Python."""
    from pyspark.sql import Window

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
        lambda x: x != "",
    )
    d = docs.withColumn("__toks", toks).filter(F.size("__toks") >= 2)
    bi = F.transform(
        F.sequence(F.lit(0), F.size("__toks") - 2),
        lambda i: F.concat_ws(" ", F.slice("__toks", i + 1, 2)),
    )
    e = d.select(
        "doc_id",
        F.length(F.regexp_replace(F.coalesce("text", F.lit("")), r"\s", "")).alias("__ch"),
        F.explode(bi).alias("ng"),
    )
    cnt = e.groupBy("doc_id", "__ch", "ng").agg(F.count("*").alias("c"))
    w = Window.partitionBy("doc_id").orderBy(F.col("c").desc(), F.col("ng"))
    top = cnt.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    frac = F.col("c") * (F.length("ng") - 1) * F.lit(1.0) / F.col("__ch")
    return (
        top.filter((F.col("__ch") > 0) & (frac <= 0.2))
        .select("doc_id", F.round(frac, 9).alias("metric"))
    )


# ------------------------------------------- line-level dedup (r7; beyond
# the reference's inventory — C4/MassiveText/RefinedWeb boilerplate-line
# removal; see operators/dedup.py dedup_lines_global for the plan notes)


def _q_refine_c4_lines_doc(spark, sf):
    """The C4 per-page line rules (Raffel 2020 §2.2) composed: within-doc
    first-occurrence line dedup, then keep only lines ending in terminal
    punctuation. Runs on a derived multi-line corpus where ' value ' →
    '.\\n' — every line except each doc's last ends in '.', so the punct
    rule produces a real mix of kept and dropped lines. Both refiners are
    single native expressions (split → indexed-lambda filter → rejoin),
    zero shuffle, zero Python."""
    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.expr(
            "replace(coalesce(text, ''), ' value ', '.' || chr(10))"
        ).alias("text"),
    )
    r1 = REFINERS["dedup_doc_lines"].native
    r2 = REFINERS["c4_line_punct"].native
    return docs.select("doc_id", r2(r1(F.col("text"))).alias("text"))


def _q_line_dedup_global(spark, sf):
    """Corpus-wide first-wins exact line dedup. The fixed tables carry
    single-line texts, so multi-line documents are synthesized
    deterministically inside the query (replace ' value ' -> newline —
    identical leftmost-non-overlapping semantics in both engines), which
    also plants genuine cross-document duplicate lines for the operator
    to bite on."""
    from dataflow_spark.operators.dedup import dedup_lines_global

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.expr("replace(coalesce(text, ''), ' value ', chr(10))").alias("text"),
    )
    return dedup_lines_global(docs, "doc_id", "text", min_chars=10)


def _q_paragraph_dedup_global(spark, sf):
    """Corpus-wide first-wins exact PARAGRAPH dedup — the middle member
    of the MassiveText document/paragraph/line granularity triple
    (dedup_lines_global with a blank-line delimiter). Paragraph breaks
    are synthesized by replacing ' merge ' with a blank line (identical
    leftmost-non-overlapping replace in both engines), planting genuine
    cross-document duplicate paragraphs."""
    from dataflow_spark.operators.dedup import dedup_lines_global

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.expr(
            "replace(coalesce(text, ''), ' merge ', chr(10) || chr(10))"
        ).alias("text"),
    )
    return dedup_lines_global(
        docs, "doc_id", "text", min_chars=20, newline="\n\n"
    )


def _q_dedup_substrings(spark, sf):
    """Corpus-wide exact-substring dedup (Lee et al. 2021 ExactSubstr on
    whitespace tokens, k=20): every non-first occurrence of a repeated
    20-token run is cut from its document; survivors re-join
    token-normalized."""
    from dataflow_spark.operators.dedup import dedup_substrings_global

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return dedup_substrings_global(docs, "doc_id", "text", k=20)


_SUBSTR_K = 20

_LINE_DEDUP_ORACLE = {
    "dedup_substrings_global": f"""
        WITH toks AS (SELECT doc_id,
                             list_filter(regexp_split_to_array(
                                 coalesce(text, ''), '\\s+'), x -> x <> '') AS t
                      FROM documents),
        tok AS (SELECT doc_id, u.i - 1 AS p, t[u.i] AS w
                FROM toks, unnest(range(1, len(t) + 1)) AS u(i)),
        grams AS (SELECT doc_id, u.s - 1 AS s,
                         array_to_string(t[u.s:u.s + {_SUBSTR_K} - 1], ' ') AS g
                  FROM toks, unnest(range(1, len(t) - {_SUBSTR_K} + 2)) AS u(s)
                  WHERE len(t) >= {_SUBSTR_K}),
        rk AS (SELECT doc_id, s, row_number() OVER (PARTITION BY g
                                                    ORDER BY doc_id, s) AS rn
               FROM grams),
        covered AS (SELECT DISTINCT doc_id, u.p
                    FROM rk, unnest(range(s, s + {_SUBSTR_K})) AS u(p)
                    WHERE rn > 1),
        kept AS (SELECT tok.doc_id, tok.p, tok.w
                 FROM tok LEFT JOIN covered
                   ON covered.doc_id = tok.doc_id AND covered.p = tok.p
                 WHERE covered.p IS NULL)
        SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS text
        FROM kept GROUP BY doc_id""",
    "line_dedup_global": """
        WITH src AS (SELECT doc_id,
                            replace(coalesce(text, ''), ' value ', chr(10)) AS text
                     FROM documents),
        ls AS (SELECT doc_id, string_split(text, chr(10)) AS a FROM src),
        lines AS (SELECT doc_id, u.i AS pos, a[u.i] AS line
                  FROM ls, unnest(range(1, len(a) + 1)) AS u(i)),
        rk AS (SELECT doc_id, pos, line,
                      row_number() OVER (PARTITION BY line
                                         ORDER BY doc_id, pos) AS rn
               FROM lines WHERE length(line) >= 10),
        kept AS (SELECT doc_id, pos, line FROM lines WHERE length(line) < 10
                 UNION ALL
                 SELECT doc_id, pos, line FROM rk WHERE rn = 1)
        SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        FROM kept GROUP BY doc_id""",
    "refine_c4_lines_doc": """
        WITH src AS (SELECT doc_id,
                            replace(coalesce(text, ''), ' value ',
                                    '.' || chr(10)) AS text
                     FROM documents),
        d1 AS (SELECT doc_id,
                      array_to_string(
                        list_filter(string_split(text, chr(10)),
                          (x, i) -> list_position(string_split(text, chr(10)), x) = i),
                        chr(10)) AS text
               FROM src)
        SELECT doc_id,
               coalesce(array_to_string(
                 list_filter(string_split(text, chr(10)),
                   x -> regexp_matches(x, '[.!?]"?\\s*$')),
                 chr(10)), '') AS text
        FROM d1""",
    "paragraph_dedup_global": """
        WITH src AS (SELECT doc_id,
                            replace(coalesce(text, ''), ' merge ',
                                    chr(10) || chr(10)) AS text
                     FROM documents),
        ls AS (SELECT doc_id,
                      string_split(text, chr(10) || chr(10)) AS a FROM src),
        paras AS (SELECT doc_id, u.i AS pos, a[u.i] AS line
                  FROM ls, unnest(range(1, len(a) + 1)) AS u(i)),
        rk AS (SELECT doc_id, pos, line,
                      row_number() OVER (PARTITION BY line
                                         ORDER BY doc_id, pos) AS rn
               FROM paras WHERE length(line) >= 20),
        kept AS (SELECT doc_id, pos, line FROM paras WHERE length(line) < 20
                 UNION ALL
                 SELECT doc_id, pos, line FROM rk WHERE rn = 1)
        SELECT doc_id, string_agg(line, chr(10) || chr(10) ORDER BY pos) AS text
        FROM kept GROUP BY doc_id""",
}


# ------------------------------------- shard packing + domain mixing (r7;
# beyond the reference's inventory — see operators/packing.py)

_SHARD_BUDGET = 2000
# ramped shares (src_i ∝ i+1): the fixed tables are perfectly
# source-balanced, so uniform shares would make every rate 1.0 and the
# downsample a no-op; the ramp forces rate_i = (i+1)/20
_MIX_SHARES = {f"src{i}": (i + 1) / 210 for i in range(20)}


def _q_pack_token_shards(spark, sf):
    """Contiguous fixed-token-budget training shards by running token
    count in doc_id order — the distributed two-pass prefix sum (the
    single DuckDB window is the oracle; the Spark plan never funnels the
    corpus through one reducer)."""
    from dataflow_spark.operators.bpe import estimated_token_count
    from dataflow_spark.operators.packing import pack_token_shards

    docs = _t(spark, sf, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    d = docs.withColumn("n_tok", estimated_token_count("text"))
    out = pack_token_shards(d, "doc_id", "n_tok", shard_budget=_SHARD_BUDGET)
    return out.select("doc_id", "n_tok", "cum_tokens", "shard_id")


def _q_curriculum_pack_shards(spark, sf):
    """Curriculum sharding: pack fixed-token-budget training shards in
    QUALITY order (best documents first, doc_id tiebreak) instead of
    doc_id order — early shards hold the highest-quality corpus slice,
    the standard curriculum / quality-annealed data ordering. Pure
    composition: quality_score_native (oracled) as the sort key into the
    same two-pass distributed prefix sum (pack_token_shards with a
    struct order key; no global single-reducer window)."""
    from dataflow_spark.operators.bpe import estimated_token_count
    from dataflow_spark.operators.packing import pack_token_shards

    docs = _t(spark, sf, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    d = docs.select(
        "doc_id",
        F.round(S.quality_score_native(F.col("text")), 9).alias("quality"),
        estimated_token_count("text").alias("n_tok"),
    ).withColumn(
        "__ck", F.struct((-F.col("quality")).alias("nq"), F.col("doc_id"))
    )
    out = pack_token_shards(d, "__ck", "n_tok", shard_budget=_SHARD_BUDGET)
    return out.select("doc_id", "quality", "n_tok", "cum_tokens", "shard_id")


def _q_mixture_sample_sources(spark, sf):
    """Deterministic domain-mixture downsample to a ramped target mix
    (share of src_i ∝ i+1) at the largest feasible total — on the
    balanced fixed tables that is rate_i = (i+1)/20, so the sample
    thins low-share sources hard and keeps the top source whole."""
    from dataflow_spark.operators.packing import mixture_sample

    docs = _t(spark, sf, "documents").select("doc_id", "source")
    return mixture_sample(docs, "source", ["doc_id"], _MIX_SHARES, seed=3).select(
        "doc_id", "source"
    )


_MIX_VALUES = ", ".join(f"('{k}', {v})" for k, v in sorted(_MIX_SHARES.items()))

_PACKING_ORACLES = {
    "pack_token_shards": f"""
        WITH d AS (SELECT doc_id,
                          CAST(ceil(length(coalesce(text, '')) / 4.0) AS INT)
                            AS n_tok
                   FROM documents),
        c AS (SELECT doc_id, n_tok,
                     sum(n_tok) OVER (ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS cum
              FROM d)
        SELECT doc_id, n_tok, CAST(cum AS BIGINT) AS cum_tokens,
               CAST(floor((cum - n_tok) / {_SHARD_BUDGET}) AS BIGINT)
                 AS shard_id
        FROM c""",
    "mixture_sample_sources": f"""
        WITH sh AS (SELECT * FROM (VALUES {_MIX_VALUES}) AS t(source, share)),
        cn AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        tm AS (SELECT min(n / share) AS t FROM cn JOIN sh USING (source)),
        rt AS (SELECT cn.source, least(1.0, tm.t * sh.share / cn.n) AS rate
               FROM cn JOIN sh USING (source), tm)
        SELECT d.doc_id, d.source
        FROM documents d JOIN rt USING (source)
        WHERE (('0x' || substr(md5('3' || chr(31)
                 || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT)
              / 4294967296.0 < rt.rate""",
    # curriculum_pack_shards: the same single-window prefix-sum replay as
    # pack_token_shards, ordered by (quality DESC, doc_id) — quality is
    # the round-9 score_quality value, identical in both engines, so the
    # total order (and hence every cumsum) is engine-independent.
    "curriculum_pack_shards": f"""
        WITH m AS (SELECT doc_id, text, {{_toks}} AS toks FROM documents),
        h AS (
          SELECT doc_id, len(toks) AS n,
                 CAST(ceil(length(coalesce(text,'')) / 4.0) AS INT) AS n_tok,
                 len(list_filter(toks, x -> list_contains({{_sw}}, lower(x)))) AS stop_hits,
                 len(list_filter(toks, x -> upper(x) = x AND regexp_matches(x, '[A-Za-z]'))) AS caps,
                 len(regexp_extract_all(coalesce(text,''), '#'))
                 + len(regexp_extract_all(coalesce(text,''), '\\.\\.\\.'))
                 + len(regexp_extract_all(coalesce(text,''), '…')) AS sym
          FROM m),
        q AS (SELECT doc_id, n_tok,
                     round(CASE WHEN n > 0 THEN
                       0.3 * least(1.0, n / 50.0)
                     + 0.3 * least(1.0, 5.0 * (stop_hits / CAST(n AS DOUBLE)))
                     + 0.2 * (1.0 - caps / CAST(n AS DOUBLE))
                     + 0.2 * greatest(0.0, 1.0 - 10.0 * (sym / CAST(n AS DOUBLE)))
                     ELSE 0.0 END, 9) AS quality
              FROM h),
        c AS (SELECT doc_id, quality, n_tok,
                     sum(n_tok) OVER (ORDER BY quality DESC, doc_id ASC
                                      ROWS UNBOUNDED PRECEDING) AS cum
              FROM q)
        SELECT doc_id, quality, n_tok, CAST(cum AS BIGINT) AS cum_tokens,
               CAST(floor((cum - n_tok) / {_SHARD_BUDGET}) AS BIGINT)
                 AS shard_id
        FROM c""".replace("{_toks}", _TOKS).replace("{_sw}", _SW_SQL),
}


# ------------------------------------------------------ DSIR (r7; beyond
# the reference's inventory — hashed-ngram importance resampling,
# Xie et al. 2023; see operators/dsir.py for the 100-TB plan notes)

_DSIR_BUCKETS = 4096


def _q_dsir_logweights(spark, sf):
    """Per-document DSIR importance log-weight: target = the corpus's
    English slice, raw = the full corpus; hashed uni+bigram bucket
    models, add-one smoothing, bucket-ordered FP fold."""
    from dataflow_spark.operators.dsir import (
        bucket_log_ratio,
        dsir_log_weights,
        hashed_ngram_features,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "text", "lang")
    # one tokenize+explode pass, materialized: the raw features feed the
    # ratio's raw side AND the per-doc weights, and the target slice is
    # the SAME per-doc counts restricted to English ids (features are
    # per-document, so filtering feats == featurizing the filtered
    # corpus — identical counts, one corpus pass instead of three)
    feats = hashed_ngram_features(docs, n_buckets=_DSIR_BUCKETS).localCheckpoint()
    en_ids = docs.filter(F.col("lang") == "en").select(F.col("doc_id").alias("id"))
    target = feats.join(en_ids, "id")
    w = dsir_log_weights(feats, bucket_log_ratio(target, feats, _DSIR_BUCKETS))
    return w.select(
        F.col("id").alias("doc_id"), F.round("logw", 6).alias("logw")
    )


def _q_dsir_select_gumbel(spark, sf):
    """Gumbel-perturbed top-50 DSIR resample (the paper's
    sample-without-replacement-∝-w estimator with md5-seeded noise)."""
    from dataflow_spark.operators.dsir import (
        bucket_log_ratio,
        dsir_log_weights,
        dsir_select,
        hashed_ngram_features,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "text", "lang")
    # same single-pass feature reuse as dsir_logweights
    feats = hashed_ngram_features(docs, n_buckets=_DSIR_BUCKETS).localCheckpoint()
    en_ids = docs.filter(F.col("lang") == "en").select(F.col("doc_id").alias("id"))
    target = feats.join(en_ids, "id")
    w = dsir_log_weights(feats, bucket_log_ratio(target, feats, _DSIR_BUCKETS))
    sel = dsir_select(docs, w, id_col="doc_id", k=50, seed=0, gumbel=True)
    return sel.select("doc_id", F.round("sel_key", 6).alias("sel_key"))


def _dsir_ctes(b: int = _DSIR_BUCKETS) -> str:
    """Exact replay of the operators/dsir.py pipeline: same tokenizer as
    the LM family (_tok_sql), same md5-hex bucket device, alpha=1 so
    every probability is one IEEE division of exact integers, and the
    per-doc dot product folds in ascending bucket order on both sides
    (list_sum(list(... ORDER BY bucket)) ↔ F.aggregate over
    array_sort)."""
    return f"""
    toks AS (SELECT doc_id AS id, {_tok_sql("coalesce(text, '')")} AS tk
             FROM documents),
    grams AS (SELECT id, u.g
              FROM toks, unnest(list_concat(tk,
                     list_transform(range(1, len(tk)),
                                    i -> tk[i] || ' ' || tk[i + 1]))) AS u(g)),
    feats AS (SELECT id,
                     ('0x' || substr(md5(g), 1, 8))::BIGINT % {b} AS bucket,
                     count(*) AS cnt
              FROM grams GROUP BY 1, 2),
    tfe AS (SELECT f.bucket, sum(f.cnt) AS tc
            FROM feats f JOIN documents d ON d.doc_id = f.id
            WHERE d.lang = 'en' GROUP BY 1),
    rfe AS (SELECT bucket, sum(cnt) AS rc FROM feats GROUP BY 1),
    tot AS (SELECT (SELECT sum(tc) FROM tfe) AS tn,
                   (SELECT sum(rc) FROM rfe) AS rn),
    lrs AS (SELECT r.bucket,
                   ln(CAST(coalesce(t.tc, 0) + 1 AS DOUBLE)
                      / CAST(tot.tn + {b} AS DOUBLE))
                 - ln(CAST(r.rc + 1 AS DOUBLE)
                      / CAST(tot.rn + {b} AS DOUBLE)) AS lr
            FROM rfe r LEFT JOIN tfe t USING (bucket), tot),
    terms AS (SELECT f.id, f.bucket, CAST(f.cnt AS DOUBLE) * l.lr AS term
              FROM feats f JOIN lrs l USING (bucket)),
    wts AS (SELECT id, list_sum(list(term ORDER BY bucket)) AS logw
            FROM terms GROUP BY id)
"""


_DSIR_ORACLES = {
    "dsir_logweights": f"""
        WITH {_dsir_ctes()}
        SELECT id AS doc_id, round(logw, 6) AS logw FROM wts""",
    "dsir_select_gumbel": f"""
        WITH {_dsir_ctes()},
        sel AS (SELECT d.doc_id,
                       wts.logw + -ln(-ln(
                         (('0x' || substr(md5('0' || chr(31)
                             || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT)
                         / 4294967296.0)) AS sel_key
                FROM documents d JOIN wts ON wts.id = d.doc_id)
        SELECT doc_id, round(sel_key, 6) AS sel_key
        FROM sel ORDER BY sel_key DESC, doc_id LIMIT 50""",
}


_DECONTAM_ORACLES = {
    "decontaminate_ngram": """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(coalesce(text,'')), '\\s+'),
                             x -> x <> '') AS t
          FROM documents),
        g AS (SELECT doc_id, array_to_string(t[i:i+7], ' ') AS ng
              FROM toks, unnest(range(1, len(t)-6)) AS u(i) WHERE len(t) >= 8),
        bench AS (SELECT DISTINCT ng FROM g WHERE doc_id % 17 = 0)
        SELECT doc_id, count(DISTINCT ng) AS n_shared_ngrams
        FROM g WHERE doc_id % 17 <> 0 AND ng IN (SELECT ng FROM bench)
        GROUP BY doc_id""",
    "gopher_top_bigram_char": """
        WITH toks AS (
          SELECT doc_id,
                 length(regexp_replace(coalesce(text,''), '\\s', '', 'g')) AS ch,
                 list_filter(regexp_split_to_array(lower(coalesce(text,'')), '\\s+'),
                             x -> x <> '') AS t
          FROM documents),
        b AS (SELECT doc_id, ch, t[i] || ' ' || t[i+1] AS ng
              FROM toks, unnest(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
        cnt AS (SELECT doc_id, ch, ng, count(*) AS c FROM b GROUP BY 1, 2, 3),
        top AS (SELECT doc_id, ch, ng, c,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY c DESC, ng) AS rn
                FROM cnt)
        SELECT doc_id, round(c * (length(ng) - 1) * 1.0 / ch, 9) AS metric
        FROM top
        WHERE rn = 1 AND ch > 0 AND c * (length(ng) - 1) * 1.0 / ch <= 0.2""",
    # gopher_pipeline: the five keep-rules, the md5 first-wins dedup, and
    # the quality floor replayed as one chained query over the planted
    # corpus + exact clone docs
    "gopher_pipeline": f"""
        WITH plant AS (SELECT * FROM {_DUP_PLANT_SQL}),
        src AS (SELECT * FROM plant
                UNION ALL
                SELECT doc_id + 100000 AS doc_id, text
                FROM plant WHERE doc_id < 30),
        m AS (SELECT doc_id, text,
                     list_filter(string_split(text, chr(10)),
                                 l -> regexp_matches(l, '\\S')) AS lines,
                     list_filter(regexp_split_to_array(text, '\\n{{2,}}'),
                                 l -> regexp_matches(l, '\\S')) AS paras,
                     {_TOKS} AS toks,
                     length(regexp_replace(coalesce(text,''), '\\s', '', 'g')) AS nschars,
                     len(regexp_extract_all(coalesce(text,''), '#'))
                     + len(regexp_extract_all(coalesce(text,''), '\\.\\.\\.'))
                     + len(regexp_extract_all(coalesce(text,''), '…')) AS sym
              FROM src),
        keep AS (SELECT doc_id, text, toks, sym FROM m
                 WHERE len(lines) > 0
                   AND 1.0 - len(list_distinct(lines)) * 1.0 / len(lines) <= 0.30
                   AND len(paras) > 0
                   AND 1.0 - len(list_distinct(paras)) * 1.0 / len(paras) <= 0.30
                   AND len(toks) >= 20 AND len(toks) < 100000
                   AND nschars * 1.0 / len(toks) >= 3.0
                   AND nschars * 1.0 / len(toks) < 10.0
                   AND sym * 1.0 / len(toks) < 0.4),
        dd AS (SELECT doc_id, toks, sym FROM (
                 SELECT *, row_number() OVER (
                     PARTITION BY md5(coalesce(text, ''))
                     ORDER BY doc_id) AS rn
                 FROM keep) WHERE rn = 1),
        h AS (SELECT doc_id, len(toks) AS n, sym,
                     len(list_filter(toks, x -> list_contains({_SW_SQL}, lower(x)))) AS stop_hits,
                     len(list_filter(toks, x -> upper(x) = x AND regexp_matches(x, '[A-Za-z]'))) AS caps
              FROM dd),
        q AS (SELECT doc_id,
                     round(CASE WHEN n > 0 THEN
                       0.3 * least(1.0, n / 50.0)
                     + 0.3 * least(1.0, 5.0 * (stop_hits / CAST(n AS DOUBLE)))
                     + 0.2 * (1.0 - caps / CAST(n AS DOUBLE))
                     + 0.2 * greatest(0.0, 1.0 - 10.0 * (sym / CAST(n AS DOUBLE)))
                     ELSE 0.0 END, 9) AS quality
              FROM h)
        SELECT doc_id, quality FROM q WHERE quality >= 0.75""",
    "crossdoc_ngram_overlap": """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(coalesce(text,'')), '\\s+'),
                             x -> x <> '') AS t
          FROM documents),
        g AS (SELECT doc_id, array_to_string(t[i:i+4], ' ') AS ng
              FROM toks, unnest(range(1, len(t)-3)) AS u(i) WHERE len(t) >= 5),
        nd AS (SELECT ng, count(DISTINCT doc_id) AS nd FROM g GROUP BY ng)
        SELECT g.doc_id, count(*) AS n_grams,
               round(sum(CASE WHEN nd.nd > 1 THEN 1 ELSE 0 END) * 1.0
                     / count(*), 9) AS dup_gram_frac
        FROM g JOIN nd USING (ng)
        GROUP BY g.doc_id""",
}


# ------------------------------------------------------------------ registry

def build_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable] = {}
    for name in _REFINER_ORACLES:
        q[f"refine_{name}"] = _refiner_query(name)
    for name in _FILTER_ORACLES:
        q[f"filter_{name}"] = _filter_query(name)
    for name in _DUP_FILTER_ORACLES:
        q[f"filter_{name}"] = _dup_filter_query(name)
    q.update(
        {
            "dedup_exact_md5": _q_dedup_exact_md5,
            "dedup_ccnet_sha1_64": _q_dedup_ccnet_sha1_64,
            "dedup_ccnet_twin_md5": _q_dedup_ccnet_twin_md5,
            "dedup_ccnet_sha256_64": _q_dedup_ccnet_sha256_64,
            "dedup_minhash_lsh": _q_dedup_minhash,
            "dedup_simhash": _q_dedup_simhash,
            "dedup_ngram_chunks": _q_dedup_ngram_chunks,
            "dedup_ngram_jaccard": _q_dedup_ngram_jaccard,
            "decontaminate_ngram": _q_decontaminate_ngram,
            "crossdoc_ngram_overlap": _q_crossdoc_ngram_overlap,
            "gopher_top_bigram_char": _q_gopher_top_bigram_char,
            "gopher_pipeline": _q_gopher_pipeline,
            "dsir_logweights": _q_dsir_logweights,
            "dsir_select_gumbel": _q_dsir_select_gumbel,
            "line_dedup_global": _q_line_dedup_global,
            "paragraph_dedup_global": _q_paragraph_dedup_global,
            "refine_c4_lines_doc": _q_refine_c4_lines_doc,
            "dedup_substrings_global": _q_dedup_substrings,
            "pack_token_shards": _q_pack_token_shards,
            "curriculum_pack_shards": _q_curriculum_pack_shards,
            "mixture_sample_sources": _q_mixture_sample_sources,
            "dedup_embedding_cosine": _q_dedup_embedding,
            "dedup_semdedup_kmeans": _q_dedup_semdedup,
            "score_ngram": _q_score_ngram,
            "score_token_count": _q_score_token_count,
            "score_token_count_bpe": _q_score_token_count_bpe,
            "answer_token_length_filter_bpe": _q_answer_token_length_filter_bpe,
            "score_quality": _q_score_quality,
            "quality_signals": _q_quality_signals,
            "score_distinct_n": _q_score_distinct_n,
            "score_lang_id": _q_score_lang_id,
            "score_fingerprint": _q_score_fingerprint,
            "score_lexical_diversity": _q_score_lexdiv,
            "score_winnowing": _q_score_winnowing,
            "window_tumbling": _q_window_tumbling,
            "window_sliding": _q_window_sliding,
            "window_session": _q_window_session,
            "assembly_conversations": _q_assembly,
            "join_user_assistant": _q_join_user_assistant,
            "ann_topk_bruteforce": _q_ann_bruteforce,
            "ann_topk_lsh": _q_ann_lsh,
            "ann_topk_ivf": _q_ann_ivf,
            "score_bigram_perplexity": _q_score_bigram_perplexity,
            "score_perplexity_cjk": _q_score_perplexity_cjk,
            "score_perplexity_thai": _q_score_perplexity_thai,
            "ccnet_ppl_buckets": _q_ccnet_ppl_buckets,
            "ccnet_pipeline": _q_ccnet_pipeline,
            "classify_lang_chargram": _q_classify_lang_chargram,
            "score_trigram_kn": _q_score_trigram_kn,
            "classify_source_nb": _q_classify_source_nb,
            "perplexity_lm_filter": _q_perplexity_lm_filter,
            "superfiltering_ifd": _q_superfiltering_ifd,
            "answer_token_length_filter": _q_answer_token_length_filter,
            "answer_pipeline_root": _q_answer_pipeline_root,
            "answer_judger_math": _q_answer_judger_math,
            "sql_execution_match": _q_sql_execution_match,
            "sample_hash_fraction": _q_sample_hash_fraction,
            "assign_hash_splits": _q_assign_splits,
            "stratified_sample": _q_stratified_sample,
            "cap_per_source": _q_cap_per_source,
            "pricing_summary": _q_pricing_summary,
            "top_orders_per_segment": _q_top_orders_per_segment,
            "top_events_per_user": _q_top_events_per_user,
            "multimodal_features": _q_multimodal_features,
            "extract_smiles": _q_extract_smiles,
            "smiles_equivalence": _q_smiles_equivalence,
            "speech2text_stub": _q_speech2text_stub,
            "vqa_stub": _q_vqa_stub,
            "text2sql_prompt": _q_text2sql_prompt,
            "sql_component_classify": _q_sql_component_classify,
            "sql_execution_filter": _q_sql_execution_filter,
            "html_to_markdown_doc": _q_html_to_markdown_doc,
            "ccnet_normalize_doc": _q_ccnet_normalize_doc,
            "split_chars": _q_split_chars,
            "split_words": _q_split_words,
            "split_sentences": _q_split_sentences,
            "split_tokens": _q_split_tokens,
            "split_recursive": _q_split_recursive,
            "split_semantic": _q_split_semantic,
            "bm25_topk": _q_bm25,
            "bm25_hard_negatives": _q_bm25_hard_negatives,
            "tfidf_top_terms": _q_tfidf_top_terms,
            "f1_score": _q_f1,
            "bleu_score": _q_bleu,
            "cider_score": _q_cider,
            "bertscore": _q_bertscore,
            "task2vec_diversity": _q_task2vec_diversity,
            "token_stats": _q_token_stats,
            "category_info": _q_category_info,
            "answer_ngram_filter": _q_answer_ngram_filter,
            "consistent_chat_gen": _q_consistent_chat_gen,
            "pipeline_pt_chain": _q_pipeline_pt_chain,
            "text_stats": _q_text_stats,
            "language_filter": _q_language_filter,
            "lexical_diversity_filter": _q_lexdiv_filter,
            "pii_filter": _q_pii_filter,
            "quality_filter": _q_quality_filter,
            "ngram_filter": _q_ngram_filter,
            "answer_formatter": _q_answer_formatter,
            "prompted_template": _q_prompted_template,
            "pretrain_format": _q_pretrain_format,
            "vendi_score": _q_vendi,
            "vendi_gram": _q_vendi_gram,
            "extract_questions": _q_extract_questions,
            "answer_groundtruth_filter": _q_answer_groundtruth,
            "difficulty_classify": _q_difficulty_classify,
            "sft_from_seed": _q_sft_from_seed,
            "kcenter_select": _q_kcenter_select,
            "events_profile": _q_events_profile,
            "sketch_profile_kmv": _q_sketch_profile_kmv,
            "hist_quantiles_quality": _q_hist_quantiles_quality,
            "sketch_profile": _q_sketch_profile,
            "answer_extraction": _q_answer_extraction,
            "category_classify": _q_category_classify,
        }
    )
    # refiners with no Catalyst form run their Arrow kernel and have no
    # oracle: the gate checks their row counts only
    for name in ("spelling", "stem"):
        q[f"refine_{name}"] = _refiner_query(name)
    return q


def build_oracles() -> dict[str, str]:
    o: dict[str, str] = {}
    for name, expr in _REFINER_ORACLES.items():
        o[f"refine_{name}"] = f"SELECT doc_id, {expr} AS text FROM documents"
    for name, sql in _FILTER_ORACLES.items():
        o[f"filter_{name}"] = sql
    for name, sql in _DUP_FILTER_ORACLES.items():
        o[f"filter_{name}"] = sql
    o["dedup_exact_md5"] = """
        WITH r AS (
          SELECT doc_id, text,
                 row_number() OVER (PARTITION BY md5(coalesce(text, ''))
                                    ORDER BY doc_id) AS rn
          FROM documents)
        SELECT doc_id, text FROM r WHERE rn = 1"""
    o["dedup_ccnet_sha1_64"] = f"""
        WITH RECURSIVE {_sha1_cte_sql("SELECT doc_id AS id, coalesce(text, '') AS txt FROM documents")},
        r AS (
          SELECT d.doc_id, d.text,
                 row_number() OVER (PARTITION BY substr(s.hx20, 1, 16)
                                    ORDER BY d.doc_id) AS rn
          FROM documents d JOIN sha1hex s ON s.id = d.doc_id)
        SELECT doc_id, text FROM r WHERE rn = 1"""
    o["dedup_ccnet_twin_md5"] = """
        WITH r AS (
          SELECT doc_id, text,
                 row_number() OVER (PARTITION BY substr(md5(coalesce(text, '')), 1, 16)
                                    ORDER BY doc_id) AS rn
          FROM documents)
        SELECT doc_id, text FROM r WHERE rn = 1"""
    o["dedup_ccnet_sha256_64"] = """
        WITH r AS (
          SELECT doc_id, text,
                 row_number() OVER (PARTITION BY substr(sha256(coalesce(text, '')), 1, 16)
                                    ORDER BY doc_id) AS rn
          FROM documents)
        SELECT doc_id, text FROM r WHERE rn = 1"""
    # near-dup dedups: exact-arithmetic band re-derivation + verified
    # candidate edges + recursive-CTE first-wins greedy (see the oracle
    # builders' docstrings for the bit-parity argument)
    o["dedup_minhash_lsh"] = _minhash_oracle()
    o["dedup_simhash"] = _simhash_oracle()
    o["dedup_ngram_chunks"] = _ngram_chunks_oracle()
    o["dedup_ngram_jaccard"] = _ngram_jaccard_oracle(0.8)
    o["dedup_embedding_cosine"] = _embedding_cosine_oracle(
        0.97,
        src="(SELECT vec_id, embedding FROM embeddings UNION ALL "
        "SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings "
        "WHERE vec_id < 25)",
    )
    for name, sql in _SCORER_ORACLES.items():
        o[name] = sql
    o["score_token_count_bpe"] = _bpe_count_oracle(_BPE_K)
    o["answer_token_length_filter_bpe"] = _bpe_filter_oracle(_BPE_K, 200)
    o.update(_WINDOW_ORACLES)
    o.update(_TRANSCRIPT_ORACLES)
    o.update(_ANN_ORACLES)
    o.update(_LM_ORACLES)
    o.update(_LM_ORACLES_IFD)
    o.update(_SAMPLING_ORACLES)
    o.update(_REASONING_ORACLES)
    o.update(_REASONING_ORACLES_ROOT)
    o.update(_MULTIMODAL_ORACLE)
    o.update(_CHEM_ORACLES)
    o["text2sql_prompt"] = _text2sql_prompt_oracle()
    o.update(_SKETCH_KMV_ORACLE)
    o.update(_RELATIONAL_ORACLES)
    o.update(_EXTRA_ORACLES)
    o["pii_filter"] = _pii_filter_oracle()
    o.update(_STATS_ORACLES)
    o.update(_DECONTAM_ORACLES)
    o.update(_DSIR_ORACLES)
    o.update(_LINE_DEDUP_ORACLE)
    o.update(_PACKING_ORACLES)
    # no oracle (driver rows-only check): refine_spelling / refine_stem
    # (procedural SymSpell / Porter — canonical-example tests),
    # multimodal_features (synthesized binary input), vendi_score
    # (eigendecomposition), plus the procedural pipeline/streaming checks.
    return o
