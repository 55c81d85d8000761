"""Shared Catalyst expression helpers."""

from __future__ import annotations

import functools
from typing import Callable, Iterable

from pyspark import SparkContext
from pyspark.sql import functions as F
from pyspark.sql.classic.column import Column


def bind(col: Column, body: Callable[[Column], Column]) -> Column:
    """``body(col)`` with ``col`` evaluated once per row, however often
    ``body`` references it.

    Catalyst does not share a subexpression across lambda bodies, nor
    inside a ``Filter`` condition, so an array or a struct of statistics
    referenced several times would be recomputed at each reference. Going
    through a one-element array and ``transform`` evaluates ``col`` once
    and hands ``body`` the lambda variable instead."""
    return F.element_at(F.transform(F.array(col), body), 1)


def is_member(key: Column, words: Iterable[str]) -> Column:
    """``key IN words`` as a hashed set probe: O(1) per probe however long
    the word list.

    An ``IN`` over more literals than
    ``spark.sql.optimizer.inSetConversionThreshold`` (10) is rewritten by
    the optimizer to ``InSet``, a hash-set lookup, also inside a
    higher-order lambda. A literal map with ``map_contains_key`` is not a
    hash probe: Spark rewrites it to ``array_contains(map_keys(m), k)``,
    a scan comparing every word. Lists of at most 10 words stay a plain
    ``IN`` of at most 10 compares.

    Each word list crosses py4j once per process, as one string split in
    the JVM (``_jvm_words``), not as one ``F.lit`` call per word."""
    return Column(key._jc.isInCollection(_jvm_words(tuple(sorted(set(words))))))


@functools.cache
def _jvm_words(words: tuple[str, ...]):
    """A JVM ``java.util.List`` of ``words``, built by three py4j calls.
    Cached for the process: the package's word lists are a few constants."""
    if any("\n" in w for w in words):
        raise ValueError("a word list probed by is_member may not contain newlines")
    jvm = SparkContext._jvm
    if not words:
        return jvm.java.util.ArrayList()
    return jvm.java.util.regex.Pattern.compile("\n").splitAsStream("\n".join(words)).toList()


def widen_for_compute(df, min_ratio: int = 2):
    """Round-robin repartition to the session's default parallelism when
    the input arrives in far fewer partitions than the cluster has slots
    (guide case: one small parquet file with a single row group — the
    scan stage, and every narrow op chained onto it, runs on ONE core
    no matter how many the machine has).

    Only worth it ahead of CPU-heavy per-row work (regex chains,
    tokenize+explode, Arrow kernels): the exchange moves the raw rows
    once so the expensive stage uses every slot. At 100 TB inputs
    already carry thousands of partitions and this is a no-op — the
    decision derives from ``defaultParallelism``, not a constant.

    Results are unchanged by construction for the call sites that use
    this: per-row projections, exact-integer aggregations, and ordered
    per-row FP folds are all partitioning-invariant (decimal-sum /
    ordered-fold discipline is documented per query). Streaming inputs
    are returned untouched.
    """
    if getattr(df, "isStreaming", False):
        return df
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism // min_ratio:
        return df.repartition(sc.defaultParallelism)
    return df


def driver_sized(df, cap: int) -> list | None:
    """The rows of ``df`` when there are at most ``cap`` of them, else
    None — the one size dispatch between a driver-local path and its
    distributed twin. A single bounded ``limit(cap + 1)`` collect: an
    over-cap input costs ``cap + 1`` rows on the driver, never more."""
    rows = df.limit(cap + 1).collect()
    return rows if len(rows) <= cap else None
