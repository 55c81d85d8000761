"""Independent reference results, computed in pandas on the driver without
Spark: the engine's pandas parity kernels for refiners and filters, a
pandas first-occurrence dedup, and a pure-Python transcription of the
quality-score formula. The benchmark compares the engine's outputs with
these, untimed."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

# Java's \s, which Spark's split() uses
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_LETTER = re.compile(r"[A-Za-z]")
_ELLIPSIS = re.compile(r"\.\.\.")


def refine(pdf: pd.DataFrame, refiners: list[str]) -> pd.DataFrame:
    from dataflow_spark.functions.refiners import REFINERS

    text = pdf["text"].astype(object).reset_index(drop=True)
    for name in refiners:
        text = REFINERS[name].kernel(text)
    return pdf.assign(text=pd.Series(text).to_numpy(dtype=object))


def keep_filtered(pdf: pd.DataFrame, filters: list[str]) -> pd.DataFrame:
    from dataflow_spark.functions.filters import FILTERS

    for name in filters:
        _metric, keep = FILTERS[name].kernel(pdf["text"].reset_index(drop=True))
        pdf = pdf[keep.fillna(False).astype(bool).to_numpy()]
    return pdf


def dedup_first(pdf: pd.DataFrame) -> pd.DataFrame:
    """First occurrence by (conv_id, turn_idx) of each text; null and
    empty text are one key, as in ``dedup_exact``."""
    key = pdf["text"].fillna("")
    order = pdf.assign(__k=key).sort_values(["conv_id", "turn_idx"], kind="stable")
    return order.drop_duplicates("__k", keep="first").drop(columns="__k")


def quality(text: str | None) -> float:
    """``quality_score_native`` for one text."""
    from dataflow_spark.functions.text import STOPWORDS

    cc = text or ""
    toks = [t for t in _JAVA_WS.split(cc.strip(" ")) if t != ""]
    n = len(toks)
    if n == 0:
        return 0.0
    stop = sum(1 for t in toks if t.lower() in STOPWORDS)
    caps = sum(1 for t in toks if t == t.upper() and _LETTER.search(t))
    sym = cc.count("#") + len(_ELLIPSIS.findall(cc)) + cc.count("…")
    return (
        0.3 * min(1.0, n / 50.0)
        + 0.3 * min(1.0, 5.0 * (stop / n))
        + 0.2 * (1.0 - caps / n)
        + 0.2 * max(0.0, 1.0 - 10.0 * (sym / n))
    )


def canonical(pdf: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    """Rows sorted on every column, plain dtypes, fresh index."""
    out = pdf[cols].copy()
    for c in cols:
        if out[c].dtype == "string" or out[c].dtype == object:
            out[c] = out[c].astype(object).where(out[c].notna(), None)
    return out.sort_values(cols, kind="stable", na_position="first").reset_index(drop=True)


def curate(pdf: pd.DataFrame, refiners: list[str], filters: list[str]) -> pd.DataFrame:
    """The ``batch_curate`` chain: refine → exact dedup → filter → score."""
    out = keep_filtered(dedup_first(refine(pdf, refiners)), filters)
    out = out.assign(quality=[quality(t) for t in out["text"]])
    return canonical(out, ["conv_id", "turn_idx", "text", "quality"])


def clean(pdf: pd.DataFrame, refiners: list[str], filters: list[str]) -> pd.DataFrame:
    """The streaming app's clean query over a static table."""
    return canonical(keep_filtered(refine(pdf, refiners), filters), ["conv_id", "turn_idx", "text"])


def mismatch(got: pd.DataFrame, want: pd.DataFrame, float_cols=(), tol: float = 1e-9) -> str | None:
    """None when ``got`` equals ``want`` (both canonical); else why not."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for c in want.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if c in float_cols:
            bad = ~np.isclose(a.astype(float), b.astype(float), rtol=0, atol=tol)
        else:
            bad = a != b
        if bad.any():
            return f"column {c}: {int(bad.sum())} rows differ"
    return None
