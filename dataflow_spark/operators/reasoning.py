"""Deterministic reasoning-pipeline filters and judgers.

* ``answer_token_length_filter`` — AnswerTokenLengthFilter
  (reasoning/filter/answer_token_length_filter.py:11-46): the reference
  counts tokens with a pretrained Qwen tokenizer; since r5 the filter
  takes a corpus-trained BPE merge table (``operators.bpe.train_bpe_local``)
  and counts REAL tokens with it (exact-integer training, exact DuckDB
  oracle), falling back to the pinned ``ceil(chars/4)`` estimate only
  when no tokenizer has been trained. The filter shape (keep iff
  token count <= max) is the reference's either way.
* ``answer_judger_math`` — AnswerJudger_MathVerify
  (reasoning/filter/answer_judger_mathverify.py:9-82): the reference
  calls math_verify's symbolic parse/verify; here a pinned deterministic
  SUBSET of that grammar is parsed natively — ``\\boxed{...}`` unwrap,
  ``$``/thousands-comma stripping, integers/decimals, ``a/b`` and
  ``\\frac{a}{b}`` rationals, ``x%`` percentages — and two answers match
  if both parse numerically and agree within a relative tolerance, else
  by case-insensitive string equality. Everything is regexp_extract +
  CASE, so the judger has an exact DuckDB oracle; the full symbolic
  grammar (sympy-class rewriting) is the documented seam.

All Catalyst-native — no Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column


def bpe_token_estimate(c: Column) -> Column:
    return F.ceil(F.length(F.coalesce(c, F.lit(""))).cast("double") / 4.0).cast("int")


def answer_token_length_filter(
    df: DataFrame,
    col: str,
    max_answer_token_length: int = 8192,
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Keep rows whose answer's token count is within the cap (reference
    returns 1/0 per row then keeps the 1s). With ``merges`` (a
    corpus-trained table from ``operators.bpe.train_bpe_local``) the count is
    the REAL BPE tokenization — the r5 default for trained pipelines;
    without one it falls back to the pinned ``ceil(chars/4)`` estimator
    (the only option when no tokenizer has been trained yet)."""
    if merges is not None:
        from dataflow_spark.operators.bpe import bpe_token_count

        return df.filter(bpe_token_count(F.col(col), merges) <= max_answer_token_length)
    return df.filter(bpe_token_estimate(F.col(col)) <= max_answer_token_length)


_FRAC_TEX = r"^\\frac\{(-?\d+)\}\{(-?\d+)\}$"
_FRAC_SLASH = r"^(-?\d+)\s*/\s*(-?\d+)$"
_PERCENT = r"^(-?\d+(?:\.\d+)?)%$"
_NUMBER = r"^-?\d+(?:\.\d+)?$"


def math_answer_norm(c: Column) -> Column:
    """Normalized answer string: \\boxed{...} unwrapped, '$'/commas
    stripped, trailing period removed, trimmed."""
    s = F.coalesce(c, F.lit(""))
    boxed = F.regexp_extract(s, r"\\boxed\{([^}]*)\}", 1)
    s = F.when(boxed != "", boxed).otherwise(s)
    s = F.trim(F.regexp_replace(F.trim(s), r"[$,]", ""))
    return F.regexp_replace(s, r"\.$", "")


def math_answer_value(c: Column) -> Column:
    """Parsed numeric value (double) of a normalized answer, or NULL when
    the pinned grammar doesn't match (including zero-denominator
    fractions, which fall back to string comparison)."""
    s = math_answer_norm(c)
    tex_a = F.regexp_extract(s, _FRAC_TEX, 1)
    tex_b = F.regexp_extract(s, _FRAC_TEX, 2)
    sl_a = F.regexp_extract(s, _FRAC_SLASH, 1)
    sl_b = F.regexp_extract(s, _FRAC_SLASH, 2)
    pct = F.regexp_extract(s, _PERCENT, 1)
    # try_divide: ANSI mode makes plain '/' THROW on a zero denominator
    # (even for doubles); a/0 therefore parses to NULL and the judger
    # falls back to string comparison — deterministic in both engines
    return (
        F.when(tex_a != "", F.try_divide(tex_a.cast("double"), tex_b.cast("double")))
        .when(sl_a != "", F.try_divide(sl_a.cast("double"), sl_b.cast("double")))
        .when(pct != "", pct.cast("double") / F.lit(100.0))
        .when(s.rlike(_NUMBER), s.cast("double"))
        .otherwise(F.lit(None).cast("double"))
    )


def math_answers_match(answer: Column, gt: Column, rel_tol: float = 1e-9) -> Column:
    """True iff both parse numerically and agree within ``rel_tol``
    (relative to max(1, |gt|)), else case-insensitive normalized-string
    equality — the verify(parse(a), parse(gt)) shape."""
    va, vg = math_answer_value(answer), math_answer_value(gt)
    num_ok = F.abs(va - vg) <= F.lit(rel_tol) * F.greatest(F.lit(1.0), F.abs(vg))
    str_ok = F.lower(math_answer_norm(answer)) == F.lower(math_answer_norm(gt))
    return F.when(va.isNotNull() & vg.isNotNull(), num_ok).otherwise(str_ok)


def extract_final_answer(c: Column) -> Column:
    """Deterministic final-answer extraction (the AnswerExtraction shape):
    \\boxed{...} content when present, else the LAST number in the text,
    NULL when neither exists."""
    s = F.coalesce(c, F.lit(""))
    boxed = F.regexp_extract(s, r"\\boxed\{([^}]*)\}", 1)
    last_num = F.try_element_at(
        F.regexp_extract_all(s, F.lit(r"-?\d+(?:\.\d+)?"), F.lit(0)), F.lit(-1)
    )
    return F.when(boxed != "", boxed).otherwise(last_num)


def answer_pipeline_root(
    df: DataFrame, answer_col: str, gt_col: str
) -> tuple[DataFrame, DataFrame]:
    """AnswerPipelineRoot (reasoning/filter/answer_pipeline_root.py:45-87):
    backfill a missing/empty ground truth by extracting the final answer
    from the model answer (the reference runs its AnswerExtractor; here
    the same deterministic boxed-else-last-number extractor), then split
    into ``(with_gt, without_gt)``. The without-GT branch's gt column is
    nulled, exactly as the reference does before writing that branch."""
    gt = F.col(gt_col)
    ans = F.col(answer_col)
    filled = F.when(gt.isNotNull() & (gt != ""), gt).otherwise(
        F.when(ans.isNull() | (ans == ""), F.lit(None)).otherwise(
            extract_final_answer(ans)
        )
    )
    tagged = df.withColumn(gt_col, filled)
    # isNotNull & != '' is never NULL (false AND null = false), so the two
    # branches partition the rows exactly
    has_gt = F.col(gt_col).isNotNull() & (F.col(gt_col) != "")
    with_gt = tagged.filter(has_gt)
    without_gt = tagged.filter(~has_gt).withColumn(
        gt_col, F.lit(None).cast("string")
    )
    return with_gt, without_gt


def answer_judger_math(
    df: DataFrame,
    answer_col: str,
    gt_col: str,
    result_col: str = "answer_match",
) -> DataFrame:
    """Adds the boolean verification column (the reference writes
    ``result_key`` rather than filtering)."""
    return df.withColumn(
        result_col, math_answers_match(F.col(answer_col), F.col(gt_col))
    )
