"""Corpus text splitter — chunk long documents into rows.

Reference: CorpusTextSplitter (knowledge_cleaning/generate/
corpus_text_splitter.py:19-144) supports token/sentence/recursive chunking
with overlap. Engine semantics (pinned):

* ``char``   — fixed-size character windows with overlap;
* ``word``   — fixed-size whitespace-token windows with overlap;
* ``sentence`` — greedy packing of regex sentences up to chunk_size chars;
* ``token``  — TokenChunker twin (corpus_text_splitter.py:56-62): fixed
  windows over a BPE-ESTIMATE token sequence (each word contributes
  ceil(len/4) 4-char sub-word pieces, word-initial pieces carry the
  space) with overlap, join + trim reconstructs the window's text;
* ``recursive`` — RecursiveChunker twin (corpus_text_splitter.py:71-76):
  descend \\n\\n → \\n → sentence → char-window until every piece fits
  chunk_size chars.

UDTF shape: one input row → N output rows (chunk_idx, chunk). The char and
word modes are pure Catalyst (sequence + substring / slice — explode stays
JVM-side); sentence mode packs inside an Arrow pandas_udf.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataflow_spark.functions.sparkutil import bind
from dataflow_spark.functions.text import SENTENCE_REGEX


def split_chars(
    df: DataFrame,
    text_col: str = "text",
    chunk_size: int = 200,
    overlap: int = 20,
) -> DataFrame:
    """Character-window chunking, fully native."""
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    step = chunk_size - overlap
    cc = F.coalesce(F.col(text_col), F.lit(""))
    n_chunks = F.greatest(
        F.ceil((F.length(cc) - F.lit(overlap)).cast("double") / step).cast("int"),
        F.lit(1),
    )
    starts = F.sequence(F.lit(0), n_chunks - 1)
    chunks = F.transform(starts, lambda i: F.substring(cc, i * step + 1, chunk_size))
    out = df.select(
        *df.columns, F.posexplode(chunks).alias("chunk_idx", "chunk")
    )
    return out.filter(F.col("chunk") != "").drop(text_col)


def split_words(
    df: DataFrame,
    text_col: str = "text",
    chunk_size: int = 50,
    overlap: int = 5,
) -> DataFrame:
    """Token-window chunking, fully native (slice over the token array)."""
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    step = chunk_size - overlap
    toks = F.filter(
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"), lambda x: x != ""
    )
    n_chunks = F.greatest(
        F.ceil((F.size(toks) - F.lit(overlap)).cast("double") / step).cast("int"),
        F.lit(1),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks, i * step + 1, chunk_size), " "),
    )
    out = df.select(*df.columns, F.posexplode(chunks).alias("chunk_idx", "chunk"))
    return out.filter(F.col("chunk") != "").drop(text_col)


_SENT = re.compile(SENTENCE_REGEX)


def split_sentences_udf(chunk_size: int = 200):
    """Greedy sentence packing: emit chunks of whole sentences, each chunk
    <= chunk_size chars (a single over-long sentence becomes its own chunk)."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _udf(s: pd.Series) -> pd.Series:
        def pack(v: str) -> list[str]:
            sents = _SENT.findall(v or "")
            chunks: list[str] = []
            cur = ""
            for sent in sents:
                if cur and len(cur) + len(sent) > chunk_size:
                    chunks.append(cur)
                    cur = sent
                else:
                    cur = cur + sent if cur else sent
            if cur:
                chunks.append(cur)
            return chunks

        return s.map(pack)

    return _udf


def split_sentences(
    df: DataFrame, text_col: str = "text", chunk_size: int = 200
) -> DataFrame:
    chunks = split_sentences_udf(chunk_size)(F.col(text_col))
    out = df.select(*df.columns, F.posexplode(chunks).alias("chunk_idx", "chunk"))
    return out.drop(text_col)


# sentence extraction WITHOUT lookbehind (RE2-compatible so the DuckDB
# oracle can run the identical pattern): a sentence is a maximal run of
# non-terminators plus its terminator run and trailing space, or a final
# unterminated tail.
SENT_EXTRACT_REGEX = r"[^.!?]*[.!?]+\s*|[^.!?]+$"


def split_tokens(
    df: DataFrame,
    text_col: str = "text",
    chunk_size: int = 48,
    overlap: int = 8,
    piece_chars: int = 4,
) -> DataFrame:
    """Token-window chunking over a deterministic BPE-estimate tokenizer:
    word w → ceil(len(w)/piece_chars) pieces of ``piece_chars`` chars, the
    first piece of each word prefixed with the separating space. Windows of
    ``chunk_size`` pieces advance by chunk_size-overlap; each window's
    pieces concatenate (then trim) back into text. Fully Catalyst-native."""
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    step = chunk_size - overlap
    words = F.filter(
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda x: x != "",
    )
    pieces = F.flatten(
        F.transform(
            words,
            lambda w: bind(
                w,
                lambda wb: F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.length(wb) / F.lit(piece_chars)).cast("int") - 1,
                    ),
                    lambda j: F.when(
                        j == 0,
                        F.concat(F.lit(" "), F.substring(wb, 1, piece_chars)),
                    ).otherwise(
                        F.substring(wb, j * piece_chars + 1, F.lit(piece_chars))
                    ),
                ),
            ),
        )
    )

    def over_pieces(ps):
        n_chunks = F.greatest(
            F.ceil((F.size(ps) - F.lit(overlap)).cast("double") / step).cast("int"),
            F.lit(1),
        )
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.trim(F.array_join(F.slice(ps, i * step + 1, chunk_size), "")),
        )

    chunks = bind(pieces, over_pieces)
    out = df.select(*df.columns, F.posexplode(chunks).alias("chunk_idx", "chunk"))
    return out.filter(F.col("chunk") != "").drop(text_col)


def split_recursive(
    df: DataFrame,
    text_col: str = "text",
    chunk_size: int = 200,
) -> DataFrame:
    """Recursive descent chunking: pieces longer than ``chunk_size`` chars
    split at the next level (paragraphs → lines → sentences → fixed char
    windows); pieces that fit are emitted as-is. Fully Catalyst-native
    (fixed-depth flatten/transform — no Python, no recursion at runtime)."""
    cc = F.coalesce(F.col(text_col), F.lit(""))

    def descend(arr, splitter):
        # split only the still-too-long pieces, rebinding per level
        return F.flatten(
            F.transform(
                arr,
                lambda p: bind(
                    p,
                    lambda pb: F.when(
                        F.length(pb) <= chunk_size, F.array(pb)
                    ).otherwise(splitter(pb)),
                ),
            )
        )

    paras = F.split(cc, "\n\n")
    lines = descend(paras, lambda p: F.split(p, "\n"))
    sents = descend(
        lines, lambda p: F.regexp_extract_all(p, F.lit(SENT_EXTRACT_REGEX), F.lit(0))
    )
    final = descend(
        sents,
        lambda p: bind(
            p,
            lambda pb: F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.length(pb) / F.lit(chunk_size)).cast("int") - 1,
                ),
                lambda i: F.substring(pb, i * chunk_size + 1, F.lit(chunk_size)),
            ),
        ),
    )
    chunks = F.filter(final, lambda x: F.trim(x) != "")
    out = df.select(*df.columns, F.posexplode(chunks).alias("chunk_idx", "chunk"))
    return out.drop(text_col)


def split_semantic(
    df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.15,
) -> DataFrame:
    """SemanticChunker twin (corpus_text_splitter.py:66-69 — chonkie
    SemanticChunker groups adjacent sentences while embedding similarity
    stays high; embeddings are model-backed, so the DETERMINISTIC stand-in
    measures lexical cohesion instead): split between adjacent sentences
    whose token-set Jaccard similarity drops below ``threshold``.

    Closed-form (boundary flags -> prefix-sum chunk ids -> per-chunk
    concat), fully Catalyst-native and SQL-expressible — no sequential
    fold, no Python."""
    cc = F.coalesce(F.col(text_col), F.lit(""))
    sents = F.regexp_extract_all(cc, F.lit(SENT_EXTRACT_REGEX), F.lit(0))

    def over_sents(ss):
        toksets = F.transform(
            ss,
            lambda s: F.array_distinct(
                F.filter(F.split(F.lower(s), r"\s+"), lambda x: x != "")
            ),
        )

        def over_toks(tk):
            n = F.size(tk)

            def jac(i):  # similarity between sentence i-1 and i (1-based)
                inter = F.size(F.array_intersect(
                    F.element_at(tk, i - 1), F.element_at(tk, i)))
                uni = F.size(F.array_union(
                    F.element_at(tk, i - 1), F.element_at(tk, i)))
                return F.when(uni > 0, inter / uni).otherwise(F.lit(0.0))

            flags = F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.when(i == 1, F.lit(0))
                .when(jac(i) < threshold, F.lit(1))
                .otherwise(F.lit(0)),
            )

            def over_flags(fl):
                ids = F.transform(
                    F.sequence(F.lit(1), n),
                    lambda i: F.aggregate(
                        F.slice(fl, 1, i), F.lit(0), lambda a, x: a + x
                    ),
                )

                def over_ids(cid):
                    n_chunks = F.element_at(cid, -1) + 1
                    return F.transform(
                        F.sequence(F.lit(0), n_chunks - 1),
                        lambda c: F.array_join(
                            F.transform(
                                F.sequence(F.lit(1), n),
                                lambda i: F.when(
                                    F.element_at(cid, i) == c, F.element_at(ss, i)
                                ).otherwise(F.lit("")),
                            ),
                            "",
                        ),
                    )

                return bind(ids, over_ids)

            return bind(flags, over_flags)

        return F.when(F.size(ss) == 0, F.array().cast("array<string>")).otherwise(
            bind(toksets, over_toks)
        )

    chunks = bind(sents, over_sents)
    out = df.select(*df.columns, F.posexplode(chunks).alias("chunk_idx", "chunk"))
    return out.filter(F.trim(F.col("chunk")) != "").drop(text_col)
