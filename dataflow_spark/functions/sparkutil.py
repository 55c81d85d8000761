"""Shared Catalyst expression helpers."""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F


def member_map(words: Iterable[str]) -> Column:
    """Literal map for O(1) set-membership tests inside lambdas.

    ``array_contains`` over a literal array is an O(n) scan per probe —
    for a 142-word stopword list probed once per token that dominates the
    tokenizer itself. A map literal probes in O(1) via hash lookup.

    Built as ONE ``F.expr`` SQL literal, not ``create_map(*lits)``:
    every ``F.lit`` is a py4j round-trip, and a 142-word map costs 284
    of them — measured ~4 s of pure DRIVER time to merely CONSTRUCT the
    fused quality_signals projection (which embeds five such
    dictionaries), vs 0.2 s to execute it. Words containing a single
    quote or backslash fall back to the Column path (none of the shipped
    dictionaries do)."""
    ws = sorted(set(words))
    if all("\\" not in w for w in ws):
        items = ", ".join("'" + w.replace("'", "\\'") + "', true" for w in ws)
        return F.expr(f"map({items})")
    pairs: list[Column] = []
    for w in ws:
        pairs.append(F.lit(w))
        pairs.append(F.lit(True))
    return F.create_map(*pairs)


def is_member(m: Column, key: Column) -> Column:
    return F.map_contains_key(m, key)


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
