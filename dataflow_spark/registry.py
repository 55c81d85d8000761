"""Operator registry — lookup by name.

Reference: OPERATOR_REGISTRY resolves operator classes by name with lazy
imports (/root/reference/dataflow/utils/registry.py:34-118,
core/Operator.py:20-31 get_operator). Engine analogue: a flat registry of
DataFrame-transform factories spanning every operator family; each entry
returns a callable ``(df, **params) -> DataFrame``.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame


def _refiner_factory(name: str):
    from dataflow_spark.functions.refiners import apply_refiner

    def op(df: DataFrame, col: str = "text") -> DataFrame:
        return apply_refiner(df, name, col)

    return op


def _filter_factory(name: str):
    from dataflow_spark.functions.filters import apply_filter

    def op(df: DataFrame, col: str = "text") -> DataFrame:
        return apply_filter(df, name, col)

    return op


def _build() -> dict[str, Callable]:
    from dataflow_spark.functions.filters import FILTERS
    from dataflow_spark.functions.refiners import REFINERS
    from dataflow_spark.operators import dedup as D
    from dataflow_spark.operators.retrieval import bm25_topk
    from dataflow_spark.operators.selection import select_diverse
    from dataflow_spark.operators.lm import (
        bigram_perplexity,
        perplexity_filter,
        superfiltering_ifd,
    )
    from dataflow_spark.operators.reasoning import (
        answer_judger_math,
        answer_pipeline_root,
        answer_token_length_filter,
    )
    from dataflow_spark.operators.sampling import (
        cap_per_key,
        sample_hash_fraction,
        stratified_sample_n,
    )
    from dataflow_spark.operators.similarity import (
        ann_topk_bruteforce,
        ann_topk_ivf,
        ann_topk_lsh,
    )
    from dataflow_spark.operators.splitter import (
        split_chars,
        split_recursive,
        split_semantic,
        split_sentences,
        split_tokens,
        split_words,
    )

    reg: dict[str, Callable] = {}
    for name in REFINERS:
        reg[f"refine.{name}"] = _refiner_factory(name)
    for name in FILTERS:
        reg[f"filter.{name}"] = _filter_factory(name)
    reg.update(
        {
            "dedup.exact": D.dedup_exact,
            "dedup.minhash": D.dedup_minhash,
            "dedup.simhash": D.dedup_simhash,
            "dedup.ngram_chunks": D.dedup_ngram_chunks,
            "dedup.ngram_jaccard": D.dedup_ngram_jaccard,
            "dedup.embedding_cosine": D.dedup_embedding_cosine,
            "split.chars": split_chars,
            "split.words": split_words,
            "split.sentences": split_sentences,
            "split.tokens": split_tokens,
            "split.recursive": split_recursive,
            "split.semantic": split_semantic,
            "retrieve.bm25": bm25_topk,
            "ann.bruteforce": ann_topk_bruteforce,
            "ann.lsh": ann_topk_lsh,
            "ann.ivf": ann_topk_ivf,
            "lm.bigram_perplexity": bigram_perplexity,
            "lm.perplexity_filter": perplexity_filter,
            "lm.superfiltering_ifd": superfiltering_ifd,
            "reason.answer_token_length": answer_token_length_filter,
            "reason.answer_pipeline_root": answer_pipeline_root,
            "reason.answer_judger_math": answer_judger_math,
            "sample.hash_fraction": sample_hash_fraction,
            "sample.stratified_n": stratified_sample_n,
            "sample.cap_per_key": cap_per_key,
            "select.kcenter": select_diverse,
        }
    )
    from dataflow_spark.operators.dsir import (
        dsir_log_weights,
        dsir_select,
        hashed_ngram_features,
    )

    reg["dedup.lines"] = D.dedup_lines_global
    reg["dedup.substrings"] = D.dedup_substrings_global
    reg["select.dsir_topk"] = dsir_select
    reg["dsir.features"] = hashed_ngram_features
    reg["dsir.log_weights"] = dsir_log_weights
    from dataflow_spark.operators.text2sql import (
        sql_component_difficulty,
        sql_execution_filter,
    )

    reg["text2sql.execution_filter"] = sql_execution_filter

    def _difficulty_op(df: DataFrame, col: str = "sql", out: str = "difficulty"):
        from pyspark.sql import functions as F

        return df.withColumn(out, sql_component_difficulty(F.col(col)))

    reg["text2sql.difficulty"] = _difficulty_op
    return reg


_REGISTRY: dict[str, Callable] | None = None


def registry() -> dict[str, Callable]:
    global _REGISTRY
    if _REGISTRY is None:
        _REGISTRY = _build()
    return _REGISTRY


def get_operator(name: str) -> Callable:
    reg = registry()
    if name not in reg:
        import difflib

        hint = difflib.get_close_matches(name, reg, n=3)
        raise KeyError(f"unknown operator {name!r}; close matches: {hint}")
    return reg[name]


def list_operators() -> list[str]:
    return sorted(registry())
