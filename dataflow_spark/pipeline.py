"""Pipeline API — named operator chains with compile-time key validation.

Reference: PipelineABC.compile() traces operators, extracts their
input_*/output_* keys, and raises KeyError when an operator consumes a key
no prior step produced (/root/reference/dataflow/pipeline/Pipeline.py:100-134,
nodes.py:59-68). Catalyst's analyzer does column resolution for free at
execution time; this class reproduces the reference's *eager, pre-execution*
contract (fail at compile(), not mid-job) and its op/key DAG explain.

Ops are plain ``DataFrame -> DataFrame`` callables, so the whole pipeline
stays one Catalyst plan — no materialization between steps (unlike the
reference's per-step cache files, storage.py:95-107).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Sequence

from pyspark.sql import DataFrame

from dataflow_spark.functions.filters import FILTERS, apply_filter
from dataflow_spark.functions.refiners import REFINERS, apply_refiner


@dataclass(frozen=True)
class OpSpec:
    name: str
    fn: Callable[[DataFrame], DataFrame]
    input_keys: tuple[str, ...]
    output_keys: tuple[str, ...] = ()


@dataclass
class Pipeline:
    """Ordered operator chain over one table."""

    initial_keys: Sequence[str]
    ops: list[OpSpec] = field(default_factory=list)
    _compiled: bool = False

    # ---- builders -------------------------------------------------------
    def add(
        self,
        name: str,
        fn: Callable[[DataFrame], DataFrame],
        input_keys: Sequence[str],
        output_keys: Sequence[str] = (),
    ) -> "Pipeline":
        self.ops.append(OpSpec(name, fn, tuple(input_keys), tuple(output_keys)))
        self._compiled = False
        return self

    def refine(self, refiner: str, col: str = "text") -> "Pipeline":
        if refiner not in REFINERS:
            raise KeyError(f"unknown refiner {refiner!r}")
        return self.add(
            f"refine:{refiner}",
            lambda df, r=refiner: apply_refiner(df, r, col),
            input_keys=[col],
        )

    def filter(self, flt: str, col: str = "text") -> "Pipeline":
        if flt not in FILTERS:
            raise KeyError(f"unknown filter {flt!r}")
        return self.add(
            f"filter:{flt}",
            lambda df, f=flt: apply_filter(df, f, col),
            input_keys=[col],
        )

    def dedup_exact(self, cols: Sequence[str], order_col: str, algo: str = "md5") -> "Pipeline":
        from dataflow_spark.operators.dedup import dedup_exact

        return self.add(
            f"dedup:exact:{algo}",
            lambda df: dedup_exact(df, list(cols), order_col, algo),
            input_keys=[*cols, order_col],
        )

    def dedup_minhash(self, order_col: str, col: str = "text") -> "Pipeline":
        from dataflow_spark.operators.dedup import dedup_minhash

        return self.add(
            "dedup:minhash",
            lambda df: dedup_minhash(df, order_col, col),
            input_keys=[col, order_col],
        )

    def transform(
        self,
        name: str,
        fn: Callable[[DataFrame], DataFrame],
        input_keys: Sequence[str],
        output_keys: Sequence[str] = (),
    ) -> "Pipeline":
        """PandasOperator/GeneralFilter-style escape hatch
        (operators/pandas_operator.py:42-51, filter/general_filter.py:62-70)."""
        return self.add(name, fn, input_keys, output_keys)

    def sql(
        self,
        expr: str,
        input_keys: Sequence[str],
        output_keys: Sequence[str] = (),
        view: str = "t",
    ) -> "Pipeline":
        """DBOperator analogue (reference operators/db/db_operator.py:7-32:
        run a SQL expression against the storage backend). Here the
        current DataFrame is registered as temp view ``view`` and the
        expression runs through Catalyst — same declarative contract, no
        storage round-trip."""

        def run_sql(df: DataFrame) -> DataFrame:
            df.createOrReplaceTempView(view)
            return df.sparkSession.sql(expr)

        return self.add(f"sql:{view}", run_sql, input_keys, output_keys)

    # ---- compile & run --------------------------------------------------
    def compile(self) -> "Pipeline":
        """Key-integrity validation, reference Pipeline.py:104-134 contract:
        every input key must be produced by the source or a prior op."""
        available = set(self.initial_keys)
        for op in self.ops:
            missing = [k for k in op.input_keys if k not in available]
            if missing:
                raise KeyError(
                    f"operator {op.name!r} consumes key(s) {missing} not produced "
                    f"by any prior step (available: {sorted(available)})"
                )
            available.update(op.output_keys)
        self._compiled = True
        return self

    def run(self, df: DataFrame) -> DataFrame:
        if not self._compiled:
            self.compile()
        for op in self.ops:
            df = op.fn(df)
        return df

    def explain(self) -> str:
        """Op/key DAG as text (reference draw_graph analogue,
        Pipeline.py:251-467)."""
        lines = [f"source: keys={sorted(self.initial_keys)}"]
        for i, op in enumerate(self.ops):
            outs = f" -> +{list(op.output_keys)}" if op.output_keys else ""
            lines.append(f"step {i}: {op.name} reads={list(op.input_keys)}{outs}")
        return "\n".join(lines)
