"""Corpus-trained BPE tokenizer: the Catalyst string-replace formulation
must learn the SAME merge table and produce the SAME token counts as the
sequential dict-loop trainer/encoder (reference_kernels.bpe_*) —
including multibyte text and tie-break order."""

import pandas as pd
import pyspark.sql.functions as F

from dataflow_spark.operators import bpe as B
from tests import reference_kernels as RK

CORPUS = [
    "the quick brown fox jumps over the lazy dog",
    "the the the lowest lower low",
    "internationalization and internationalism",
    "tokenizer tokenizes tokens into token pieces",
    "  leading and trailing   whitespace  ",
    "",
    None,
    "punct, punct! punct? (punct)",
    "日本語テキストの分かち書きテスト 日本語の形態素",
    "mixed 日本語 and english words",
    "aaaa aaab aaba abaa baaa",
]


def _df(spark):
    pdf = pd.DataFrame({"text": CORPUS})
    return spark.createDataFrame(pdf)


def test_bpe_training_matches_sequential(spark):
    merges = RK.train_bpe(_df(spark), "text", n_merges=10)
    expected = RK.bpe_train([t for t in CORPUS], n_merges=10)
    assert merges == expected
    assert len(merges) == 10


def test_bpe_counts_match_sequential(spark):
    merges = RK.train_bpe(_df(spark), "text", n_merges=10)
    got = (
        _df(spark)
        .select(B.bpe_token_count("text", merges).alias("n"))
        .toPandas()["n"]
        .tolist()
    )
    expected = [RK.bpe_count(t, merges) for t in CORPUS]
    assert got == expected
    # the trained tokenizer actually compresses: counts are below the
    # char count and above the word count for real sentences
    n_words = len(CORPUS[0].split())
    assert n_words <= got[0] < len(CORPUS[0].replace(" ", ""))


def test_bpe_tokens_roundtrip(spark):
    merges = RK.train_bpe(_df(spark), "text", n_merges=8)
    rows = (
        _df(spark)
        .select(
            "text", B.bpe_tokens("text", merges).alias("toks"),
            B.bpe_token_count("text", merges).alias("n"),
        )
        .collect()
    )
    for r in rows:
        assert len(r["toks"]) == r["n"]
        # concatenating tokens reproduces the whitespace-normalized text
        joined = "".join(r["toks"])
        norm = "".join((r["text"] or "").split())
        assert joined == norm


def test_bpe_merge_zero_and_empty(spark):
    # no merges -> every char is a token (word-split only)
    got = (
        _df(spark).select(B.bpe_token_count("text", []).alias("n")).toPandas()["n"]
    ).tolist()
    expected = [RK.bpe_count(t, []) for t in CORPUS]
    assert got == expected
    assert got[5] == 0 and got[6] == 0  # empty and NULL


def test_train_bpe_local_equals_distributed(spark):
    """r5 VERDICT ask #3: the driver-local merge loop (one Arrow collect
    of the vocab-sized word table, lazy-heap incremental counts) must
    learn EXACTLY the distributed loop's table — same tie-break, same
    replace semantics."""
    for k in (5, 10, 25):
        assert B.train_bpe_local(_df(spark), "text", n_merges=k) == RK.train_bpe(
            _df(spark), "text", n_merges=k
        )


def test_bpe_udf_encoder_matches_codegen(spark):
    merges = B.train_bpe_local(_df(spark), "text", n_merges=25)
    df = _df(spark)
    a = df.select(B.bpe_token_count("text", merges).alias("n")).toPandas()["n"].tolist()
    b = (
        df.select(B.bpe_token_count_udf(merges)(F.col("text")).alias("n"))
        .toPandas()["n"]
        .tolist()
    )
    assert a == b


def test_bpe_replace_semantics_artifact_preserved(spark):
    """The engine's BPE is REPLACE-semantics BPE: a merge pattern can
    match across a symbol boundary ('the'+'␟y' matching 'e␟y'). The
    Arrow encoder must reproduce that exactly — a rank-table token-list
    encoder would answer 2 for 'they' below, not 1."""
    merges = [("t", "h"), ("th", "e"), ("e", "y")]
    df = spark.createDataFrame(pd.DataFrame({"text": ["they", "ey they whey"]}))
    a = df.select(B.bpe_token_count("text", merges).alias("n")).toPandas()["n"].tolist()
    b = (
        df.select(B.bpe_token_count_udf(merges)(F.col("text")).alias("n"))
        .toPandas()["n"]
        .tolist()
    )
    assert a == b
    assert a[0] == 1


def _zipf_corpus() -> list[str]:
    """Deterministic open-vocabulary corpus with a WIDE character
    alphabet. Two reasons the sf* documents table can't drive a k=1000
    test: its vocabulary is 31 words, and replace-semantics BPE saturates
    near |charset|² merges (once every char pair is merged, cross-boundary
    replace has already glued every word solid — measured: a 14-letter
    corpus runs dry at 293). ~200 distinct letters (Latin+Greek+Cyrillic
    ranges) and ~10k distinct 2-8 char words keep 1000 merges live, like
    a real web corpus's charset does."""
    alphabet = [chr(c) for c in range(0x61, 0x7B)]          # a-z
    alphabet += [chr(c) for c in range(0x3B1, 0x3C9)]        # greek
    alphabet += [chr(c) for c in range(0x430, 0x045F)]       # cyrillic
    alphabet += [chr(c) for c in range(0x100, 0x17F, 2)]     # latin ext
    seed = 1234567
    docs = []
    for d in range(300):
        words = []
        for _ in range(100):
            seed = (seed * 1103515245 + 12345) % (1 << 31)
            n_ch = 2 + (seed >> 8) % 7
            w = ""
            for _ in range(n_ch):
                seed = (seed * 1103515245 + 12345) % (1 << 31)
                w += alphabet[(seed >> 8) % len(alphabet)]
            words.append(w)
        docs.append(" ".join(words))
    return docs


def _replace_count(text: str, merges: list[tuple[str, str]]) -> int:
    """Sequential REPLACE-semantics encoder (the engine's semantics —
    RK.bpe_count is symbol-aligned and diverges on cross-boundary
    artifacts at depth): separate each word char-wise with ␟, apply each
    merge in rank order as a plain substring replace."""
    US = "␟"
    t = (text or "").replace(US, "").replace("␞", "")
    n = 0
    for w in t.split():
        s = US.join(w)
        for a, b in merges:
            s = s.replace(a + US + b, a + b)
        n += s.count(US) + 1
    return n


def test_train_bpe_local_k1000_and_encode(spark):
    """Realistic merge count end-to-end: k=1000 training in seconds (not
    1000 driver round-trips) and the Arrow encoder counting under the
    full table — the two scale paths of r5 VERDICT ask #3 together."""
    corpus = _zipf_corpus()
    docs = spark.createDataFrame(pd.DataFrame({"text": corpus}))
    merges = B.train_bpe_local(docs, "text", n_merges=1000)
    assert len(merges) == 1000
    got = (
        docs.limit(50)
        .select("text", B.bpe_token_count_udf(merges)(F.col("text")).alias("n"))
        .toPandas()
    )
    # compression sanity: fewer tokens than characters, at least one per word
    for t, n in zip(got["text"], got["n"]):
        assert len(t.split()) <= n <= len(t.replace(" ", ""))
    # exactness vs the sequential replace-semantics encoder
    for t, n in zip(got["text"][:5], got["n"][:5]):
        assert n == _replace_count(t, merges)


def test_estimated_token_count_fallback(spark):
    got = (
        _df(spark)
        .select(B.estimated_token_count("text").alias("n"))
        .toPandas()["n"]
        .tolist()
    )
    for t, n in zip(CORPUS, got):
        if t is None:
            assert pd.isna(n)
        else:
            assert n == -(-len(t) // 4)
