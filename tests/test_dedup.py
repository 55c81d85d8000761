"""Dedup semantics: distributed first-wins must equal the reference's
sequential first-occurrence-wins scans exactly."""

from pyspark.sql import functions as F

from dataflow_spark.operators import dedup as D
from tests import reference_kernels as RK


def _kept_rids(df):
    return sorted(r.rid for r in df.select("rid").collect())


def _expected(pdf, keep_mask):
    import pandas as pd

    return sorted(pdf[pd.Series(keep_mask).values]["rid"].tolist())


def test_exact_md5(corpus_df, corpus_pdf):
    got = _kept_rids(D.dedup_exact(corpus_df, ["text"], "rid", algo="md5"))
    assert got == _expected(corpus_pdf, RK.hash_dedup_keep(corpus_pdf["text"].tolist()))


def test_exact_ccnet_sha1(corpus_df, corpus_pdf):
    got = _kept_rids(D.dedup_exact(corpus_df, ["text"], "rid", algo="ccnet"))
    assert got == _expected(corpus_pdf, RK.ccnet_dedup_keep(corpus_pdf["text"].tolist()))


def test_minhash_first_wins(corpus_df, corpus_pdf):
    got = _kept_rids(D.dedup_minhash(corpus_df, "rid"))
    expected = _expected(corpus_pdf, RK.minhash_dedup_keep(corpus_pdf["text"].tolist()))
    assert got == expected


def test_minhash_drops_near_duplicates(spark):
    # long varied text so one small edit keeps shingle Jaccard >> 0.9
    # (the reference's MinHashLSH threshold — tiny texts with a 10-char
    # tail sit near 0.78 and are correctly NOT duplicates at 0.9)
    base = " ".join(f"token{i} value{i * 7 % 13}" for i in range(60))
    rows = [
        (0, base),
        (1, base + " tail"),  # near-dup of 0 (Jaccard ~0.99)
        (2, "completely different content about spark streaming engines " * 4),
    ]
    df = spark.createDataFrame(rows, "rid long, text string")
    kept = _kept_rids(D.dedup_minhash(df, "rid"))
    assert 0 in kept and 2 in kept and 1 not in kept


def test_simhash_transitive_chain(spark):
    # A~B, B~C but A!~C must keep A and C (greedy first-wins re-keeps C)
    a = "alpha beta gamma delta epsilon zeta eta theta " * 6
    b = a.replace("zeta", "zetaX")
    rows = [(0, a), (1, b), (2, a.upper() + " tail tail tail")]
    df = spark.createDataFrame(rows, "rid long, text string")
    kept = _kept_rids(D.dedup_simhash(df, "rid", max_hamming=6))
    assert 0 in kept


def test_ngram_chunks(spark):
    # 5 DISTINCT 20-char chunks (identical chunks collapse in the
    # reference's hash SET: ngramhash_deduplicator.py:81-83)
    t1 = "".join(chr(33 + (i * 7) % 90) for i in range(100))
    t2 = t1[:80] + "X" * 20  # shares 4/5 distinct chunk hashes
    chunks = [t1[i * 20 : (i + 1) * 20] for i in range(5)]
    t3 = "".join(chunks[::-1])  # same chunk SET, shuffled order
    rows = [(0, t1), (1, t2), (2, "zzz " * 30), (3, t3)]
    df = spark.createDataFrame(rows, "rid long, text string")
    kept = _kept_rids(D.dedup_ngram_chunks(df, "rid", n_chunks=5, diff_size=2))
    # t2 shares 4 >= 2 hashes; t3 shares all 5 position-independently
    assert kept == [0, 2]

    # repeated-chunk texts collapse to ONE distinct hash — below diff_size=2
    r1 = "0123456789" * 10
    r2 = r1[:80] + "X" * 20
    df2 = spark.createDataFrame([(0, r1), (1, r2)], "rid long, text string")
    assert _kept_rids(D.dedup_ngram_chunks(df2, "rid", n_chunks=5, diff_size=2)) == [0, 1]


def test_ngram_jaccard_verifies(spark):
    base = "the quick brown fox jumps over the lazy dog again " * 6
    rows = [
        (0, base),
        (1, base + "tail"),  # true near-dup (high Jaccard)
        # shares vocabulary (band collisions possible) but low exact Jaccard
        (2, "the quick dog over fox lazy brown jumps " + "zig zag " * 40),
        (3, "completely different text about streaming state stores " * 4),
    ]
    df = spark.createDataFrame(rows, "rid long, text string")
    kept = _kept_rids(D.dedup_ngram_jaccard(df, "rid", threshold=0.8))
    assert 0 in kept and 1 not in kept and 2 in kept and 3 in kept


def test_embedding_cosine(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    base = rng.normal(size=16)
    rows = [
        (0, base.tolist()),
        (1, (base + rng.normal(scale=0.01, size=16)).tolist()),  # dup of 0
        (2, rng.normal(size=16).tolist()),
    ]
    df = spark.createDataFrame(rows, "rid long, embedding array<double>")
    kept = sorted(
        r.rid
        for r in D.dedup_embedding_cosine(df, "rid", vec_col="embedding", threshold=0.95)
        .select("rid")
        .collect()
    )
    assert kept == [0, 2]


def test_component_path_equals_fast_path(spark, corpus_pdf, monkeypatch):
    """Forcing the label-prop component path (cap 0) must give the
    same keep-set as the single-task fast path — and both must equal the
    sequential oracle."""
    import dataflow_spark.operators.dedup as D2
    from tests import reference_kernels as RK

    df = spark.createDataFrame(corpus_pdf)
    buckets = D2.minhash_bucket_table(df, "rid")
    fast = _kept_rids(D2.first_wins_bucket_claim(df, "rid", buckets))
    monkeypatch.setattr(D2, "SMALL_GRAPH_MAX_MEMBERS", 0)
    dist = _kept_rids(D2.first_wins_bucket_claim(df, "rid", buckets))
    assert fast == dist
    assert fast == _expected(corpus_pdf, RK.minhash_dedup_keep(corpus_pdf["text"].tolist()))


def test_component_path_with_verify(spark, monkeypatch):
    """Verified family (simhash) through the distributed component path."""
    a = "alpha beta gamma delta epsilon zeta eta theta " * 6
    rows = [(0, a), (1, a.replace("zeta", "zetaX")), (2, "unrelated words " * 10)]
    df = spark.createDataFrame(rows, "rid long, text string")
    import dataflow_spark.operators.dedup as D2

    monkeypatch.setattr(D2, "SMALL_GRAPH_MAX_MEMBERS", 0)
    kept = _kept_rids(D2.dedup_simhash(df, "rid", max_hamming=6))
    assert 0 in kept and 2 in kept


def test_first_wins_respects_order_not_partitioning(spark, corpus_pdf):
    """Same result regardless of input partitioning — order key decides."""
    df1 = spark.createDataFrame(corpus_pdf).repartition(1)
    df16 = spark.createDataFrame(corpus_pdf).repartition(16, "role")
    assert _kept_rids(D.dedup_minhash(df1, "rid")) == _kept_rids(
        D.dedup_minhash(df16, "rid")
    )


def test_hot_bucket_all_identical_bounded(spark):
    """Pathological LSH skew: 3000 byte-identical docs put EVERY band pair
    into one bucket. The star-edge bucket-claim resolver must stay
    O(members) per bucket (3k star edges), never materialize the 4.5M
    all-pairs explosion, and keep exactly the smallest id."""
    import time

    from dataflow_spark.operators.dedup import dedup_minhash

    rows = [(i, "the same near duplicate text repeated verbatim " * 8)
            for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t0 = time.time()
    kept = sorted(r.doc_id for r in dedup_minhash(df, "doc_id").collect())
    dt = time.time() - t0
    assert kept == [0]
    # generous wall bound: the all-pairs plan blows past this by orders
    # of magnitude; the star-edge plan finishes in a few seconds
    assert dt < 120, f"hot-bucket resolve took {dt:.0f}s - pair explosion?"


def test_assembly_hot_conversation(spark, tmp_path):
    """Zipf-head conversation: one conv_id owning 20k turns must flow
    through the stateful assembly without per-group state blowup and
    assemble byte-identically to the pandas oracle."""
    import os

    import pandas as pd

    from dataflow_spark.streaming.assembly import assemble_conversations
    from dataflow_spark.streaming.source import file_stream
    from tests import reference_kernels as RK

    n = 20_000
    import numpy as np

    pdf = pd.DataFrame(
        {
            "conv_id": ["hot"] * n,
            "turn_idx": np.arange(n, dtype="int32"),
            "role": ["user" if i % 2 == 0 else "assistant" for i in range(n)],
            "text": [f"turn {i}" for i in range(n)],
            "tool": [""] * n,
            "ts": pd.to_datetime("2024-01-01") + pd.to_timedelta(range(n), unit="s"),
        }
    )
    src = str(tmp_path / "hot_src")
    os.makedirs(src)
    pdf.assign(ts=pdf.ts.astype("datetime64[us]")).to_parquet(
        os.path.join(src, "p0.parquet"), index=False
    )
    q = (
        assemble_conversations(file_stream(spark, src), gap_seconds=600,
                               watermark="0 seconds")
        .writeStream.format("memory").queryName("t_hot_conv")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(600)
    got = spark.table("t_hot_conv").toPandas()
    oracle = RK.assemble_sessions(pdf, gap_seconds=600)
    m = oracle.merge(got, on=["conv_id", "session_start"], suffixes=("_o", "_s"))
    assert len(m) == len(got) and len(got) >= len(oracle) - 1
    assert (m.transcript_o == m.transcript_s).all()


def test_char_shingle_kernel_matches_sequential_on_multibyte():
    """The vectorized char-shingle hasher must equal the scalar-loop
    datasketch transcription byte-for-byte on CJK/emoji/mixed text —
    the r4 parity gap (byte windows vs the reference's char windows)."""
    import numpy as np

    cases = [
        "",
        "abc",  # < 5 chars
        "hello world plain ascii text",
        "你好",  # < 5 chars, all multibyte
        "你好世界这是一个测试句子",
        "mixed ascii 和中文 characters überall café",
        "🎉🎊🎈🎆🎇 emoji party 🎉🎊",
        "日本語のテキストとEnglishの混在",
        "áéíóú combining accents",
        "चार बाइट वाले अक्षर देवनागरी में",
        "𝕸𝖆𝖙𝖍 𝖇𝖔𝖑𝖉 astral-plane chars 𝓍𝓎𝓏",
    ]
    for t in cases:
        got = np.sort(D._char_ngram_hashes(t, 5))
        exp = RK.char_shingle_hashes(t, 5)
        assert got.tolist() == exp.tolist(), t


def test_minhash_multibyte_corpus_matches_sequential(spark):
    """End-to-end keep-set parity on a multibyte-dense corpus: the
    distributed LSH dedup equals the sequential reference scan, and a
    one-char CJK edit of a long CJK doc is recognized as a near-dup
    (it was NOT under byte shingles straddling multibyte boundaries
    differently... it was, but with the wrong shingle set)."""
    base_cjk = "".join(f"字符{i}串内容测试" for i in range(40))
    base_emoji = " ".join(f"doc🎉{i}🎊segment" for i in range(30))
    rows = [
        (0, base_cjk),
        (1, base_cjk[:-2] + "改变"),       # near-dup of 0
        (2, base_emoji),
        (3, base_emoji + " 🎈tail"),        # near-dup of 2
        (4, "まったく別の日本語テキスト" * 15),
        (5, base_cjk),                      # exact dup of 0
    ]
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["rid", "text"])
    df = spark.createDataFrame(pdf)
    got = _kept_rids(D.dedup_minhash(df, "rid"))
    expected = _expected(pdf, RK.minhash_dedup_keep(pdf["text"].tolist()))
    assert got == expected
    assert 1 not in got and 3 not in got and 5 not in got
