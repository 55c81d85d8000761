"""Corpus-trained bigram LM: Spark output must equal a sequential Python
re-implementation of the exact formula (same token order, same fold)."""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataflow_spark.operators.lm import bigram_perplexity, perplexity_filter

TEXTS = [
    "the cat sat on the mat",
    "the cat sat on the hat",
    "a dog ran in the park",
    "the the the the",
    "completely novel words appear here once only",
    "",
    "single",
    "the cat sat on the mat",  # exact repeat — lowest surprise
]


def _ref_ppl(texts: list[str], k: int = 1) -> list[tuple[int, float | None]]:
    toks = [[w for w in t.lower().split() if w] for t in texts]
    bigrams = [list(zip(["<s>"] + tk, tk)) for tk in toks]
    bc: dict = {}
    cc: dict = {}
    vocab = set()
    for bgs in bigrams:
        for w1, w2 in bgs:
            bc[(w1, w2)] = bc.get((w1, w2), 0) + 1
            cc[w1] = cc.get(w1, 0) + 1
            vocab.add(w2)
    v = len(vocab)
    out = []
    for i, bgs in enumerate(bigrams):
        if not bgs:
            out.append((i, None))
            continue
        s = 0.0
        for w1, w2 in bgs:  # token order — the fold the engine replays
            s += math.log((bc[(w1, w2)] + k) / (cc[w1] + k * v))
        out.append((i, round(math.exp(-s / len(bgs)), 6)))
    return out


def test_bigram_ppl_matches_sequential_reference(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(TEXTS)), "text": TEXTS})
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["ppl"])
        for r in bigram_perplexity(df, "doc_id").collect()
    }
    for i, ppl in _ref_ppl(TEXTS):
        n = len([w for w in TEXTS[i].lower().split() if w])
        assert got[i][0] == n
        if ppl is None:
            assert got[i][1] is None
        else:
            assert got[i][1] == pytest.approx(ppl, abs=2e-6)
    # repeats of in-corpus phrasing are less surprising than novel text
    assert got[0][1] < got[4][1]
    # the exact-repeat doc scores identically to its twin
    assert got[0][1] == got[7][1]


def test_perplexity_filter_band(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(TEXTS)), "text": TEXTS})
    )
    ref = dict(_ref_ppl(TEXTS))
    lo, hi = 0.0, sorted(p for p in ref.values() if p is not None)[3]
    kept = {
        r["doc_id"]
        for r in perplexity_filter(df, "doc_id", min_score=lo, max_score=hi).collect()
    }
    expected = {i for i, p in ref.items() if p is not None and lo <= p <= hi}
    assert kept == expected
    # token-less rows never pass (the reference scorer can't score them)
    assert 5 not in kept


def test_bigram_ppl_fuzz_vs_reference(spark):
    """Randomized corpora (seeded) vs the sequential Python reference —
    guards the tokenization, count, smoothing and fold parity beyond the
    curated cases. ASCII-only tokens: unicode case-folding edge cases
    (dotted-I, sharp-s) differ between JVM and Python lowercasing and are
    out of the operator's contract."""
    import random

    rnd = random.Random(123)
    alphabet = [
        "alpha", "beta", "Gamma", "DELTA", "x1", "y2z", "...", "a-b",
        "word", "the", "of", "!!", "(paren)", "q",
    ]
    for trial in range(3):
        texts = []
        for _ in range(40):
            n = rnd.randint(0, 12)
            texts.append(
                ("  " if rnd.random() < 0.3 else "")
                + " ".join(rnd.choice(alphabet) for _ in range(n))
                + ("\t" if rnd.random() < 0.3 else "")
            )
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
        )
        got = {
            r["doc_id"]: r["ppl"] for r in bigram_perplexity(df, "doc_id").collect()
        }
        for i, ppl in _ref_ppl(texts):
            if ppl is None:
                assert got[i] is None, (trial, i)
            else:
                assert got[i] == pytest.approx(ppl, abs=2e-6), (trial, i, texts[i])


def test_superfiltering_ifd_semantics(spark):
    """IFD contract: empty response → NULL; empty instruction → ratio
    exactly 1.0; an instruction whose last token frequently precedes the
    response opening (in-corpus continuation) conditions BETTER than BOS
    (IFD < 1), while a misleading instruction conditions worse."""
    from dataflow_spark.operators.lm import superfiltering_ifd

    rows = [
        # instruction ends 'the' and 'the cat' dominates the corpus →
        # conditioning helps (ifd < 1)
        (0, "say the", "cat sat on the mat"),
        (1, "say the", "cat sat on the hat"),
        (2, "", "cat sat on the mat"),          # empty instr → ifd == 1
        (3, "anything here", ""),                # empty resp → NULL
        (4, "say the", "cat ran to the mat"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "instr", "resp"]))
    got = {r["doc_id"]: r["ifd"] for r in superfiltering_ifd(df, "doc_id", "instr", "resp").collect()}
    assert got[3] is None
    assert got[2] == pytest.approx(1.0, abs=1e-9)
    assert got[0] < 1.0  # 'the cat' is the dominant corpus bigram
    assert got[1] < 1.0 and got[4] < 1.0  # same conditioning benefit


def test_superfiltering_ifd_deterministic(spark):
    rows = [(i, f"instr {i} ends here", f"resp tok{i} more words here") for i in range(30)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "instr", "resp"]))
    from dataflow_spark.operators.lm import superfiltering_ifd

    a = sorted((r["doc_id"], r["ifd"]) for r in superfiltering_ifd(df, "doc_id", "instr", "resp").collect())
    b = sorted((r["doc_id"], r["ifd"]) for r in superfiltering_ifd(df, "doc_id", "instr", "resp").collect())
    assert a == b


def test_no_python_in_ppl_plan(spark, monkeypatch):
    """The join plan (the unbounded-vocab path) stays Python-free; the
    r7 auto-local path is deliberately ONE vectorized ArrowEvalPython
    map and must agree with the join plan value for value."""
    from dataflow_spark.operators import lm as LM

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(4), "text": TEXTS[:4]})
    )
    with monkeypatch.context() as m:  # cap 0: every table is over it
        m.setattr(LM, "LOCAL_SCORE_MAX_BIGRAMS", 0)
        joined = bigram_perplexity(df, "doc_id")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert marker not in plan

    local = bigram_perplexity(df, "doc_id")  # auto -> local at this size
    lplan = local._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in lplan and "Exchange" not in lplan
    a = joined.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = local.toPandas()[a.columns.tolist()].sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)


def test_trigram_kn_matches_sequential_reference(spark):
    """Interpolated-KN trigram perplexity equals the sequential dict-loop
    kernel on curated + randomized corpora (exact-integer KN tables,
    pinned op order, token-order fold)."""
    import random

    from dataflow_spark.operators.lm import trigram_kn_perplexity
    from tests.reference_kernels import trigram_kn_ppl

    rnd = random.Random(777)
    alphabet = [
        "alpha", "beta", "gamma", "delta", "x1", "y2z", "the", "of",
        "word", "chain", "!!", "q",
    ]
    corpora = [TEXTS]
    for _ in range(2):
        texts = []
        for _ in range(40):
            n = rnd.randint(0, 12)
            texts.append(" ".join(rnd.choice(alphabet) for _ in range(n)))
        corpora.append(texts)
    for texts in corpora:
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
        )
        got = {
            r["doc_id"]: r["ppl"]
            for r in trigram_kn_perplexity(df, "doc_id").collect()
        }
        exp = trigram_kn_ppl(texts)
        for i, ppl in enumerate(exp):
            if ppl is None:
                assert got[i] is None, i
            else:
                assert got[i] == pytest.approx(ppl, abs=2e-6), (i, texts[i])
        # vacuity guard: perplexities vary across docs and exceed 1
        vals = [v for v in got.values() if v is not None]
        assert len(set(vals)) > 3 and max(vals) > 1.0


def test_trigram_kn_orders_real_text_below_shuffled(spark):
    """The trained trigram model must find natural repeated phrases easier
    (lower ppl) than a token-shuffled rearrangement of the same corpus —
    i.e. it actually models order, unlike a unigram stat."""
    base = ["the quick brown fox jumps over the lazy dog again and again"] * 6
    shuffled = ["dog the jumps again fox brown over quick lazy and the again"] * 2
    texts = base + shuffled

    from dataflow_spark.operators.lm import trigram_kn_perplexity

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    got = {r["doc_id"]: r["ppl"] for r in trigram_kn_perplexity(df, "doc_id").collect()}
    assert got[0] < got[len(base)]


def test_no_python_in_trigram_kn_plan(spark, monkeypatch):
    """Join plan Python-free; the r7 local KN path is one vectorized
    ArrowEvalPython map and must agree value for value."""
    from dataflow_spark.operators import lm as LM
    from dataflow_spark.operators.lm import trigram_kn_perplexity

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(4), "text": TEXTS[:4]})
    )
    with monkeypatch.context() as m:  # cap 0: every table is over it
        m.setattr(LM, "LOCAL_SCORE_MAX_TRIGRAMS", 0)
        joined = trigram_kn_perplexity(df, "doc_id")
    local = trigram_kn_perplexity(df, "doc_id")  # auto -> local here
    lplan = local._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in lplan and "Exchange" not in lplan
    a = joined.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = local.toPandas()[a.columns.tolist()].sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert marker not in plan


CJK_TEXTS = [
    "日本語のテキストです",            # unsegmented han+kana run
    "日本語のテキストですね",          # near-twin — similar, not equal
    "機械学習 と 自然言語処理",        # spaced groups of han runs
    "mixed latin と 日本語 text",      # segmented + unsegmented mix
    "日本語のテキストです",            # exact repeat of doc 0
]


def test_bigram_ppl_cjk_char_fallback(spark):
    """r5 VERDICT ask #4: unsegmented scripts must NOT collapse to one
    token per document — segment_unsegmented gives char-level tokens for
    Han/kana runs, so perplexity carries real signal on a CJK corpus."""
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(CJK_TEXTS)), "text": CJK_TEXTS})
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["ppl"])
        for r in bigram_perplexity(df, "doc_id").collect()
    }
    # char-level: doc 0 has 10 CJK chars -> 10 tokens, not 1
    assert got[0][0] == 10
    # mixed doc: 3 latin words + spaced-out CJK chars
    assert got[3][0] == 3 + 3 + 1  # mixed/latin/text + 日本語 chars + と
    # non-degenerate: all ppl finite-positive and the corpus separates —
    # the exact repeat ties doc 0, the novel-mix doc is more surprising
    assert all(p is not None and p > 0 for _, p in got.values())
    assert got[4][1] == got[0][1]
    assert got[3][1] > got[0][1]
    # deterministic: same input -> same scores on a re-run
    again = {
        r["doc_id"]: (r["n_tokens"], r["ppl"])
        for r in bigram_perplexity(df, "doc_id").collect()
    }
    assert again == got


def test_ppl_buckets_ccnet_split(spark):
    """Per-language head/middle/tail: buckets cover roughly equal thirds,
    head always scores <= tail within a language, the labeling is a pure
    function of the data (partition-layout invariant), and token-less
    docs are dropped."""
    from dataflow_spark.operators.lm import ppl_buckets

    rng = [
        (
            i,
            "common words "
            + " ".join(f"tok{(i * p) % (13 + p)}" for p in (3, 5, 7, 11))
            + (" rare%d" % i if i % 4 == 0 else ""),
            ["en", "fr"][i % 2],
        )
        for i in range(120)
    ]
    rng.append((998, "", "en"))
    rng.append((999, "   ", "fr"))
    df = spark.createDataFrame(rng, ["doc_id", "text", "lang"])

    out = ppl_buckets(df, "doc_id").collect()
    ids = {r["doc_id"] for r in out}
    assert 998 not in ids and 999 not in ids and len(ids) == 120

    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rows in by_lang.items():
        shares = {b: 0 for b in ("head", "middle", "tail")}
        for r in rows:
            shares[r["ppl_bucket"]] += 1
        n = len(rows)
        # sample-derived cutoffs: approximate thirds, not exact
        for b, c in shares.items():
            assert c >= n * 0.15, (lang, b, shares)
        hmax = max(r["ppl"] for r in rows if r["ppl_bucket"] == "head")
        tmin = min(r["ppl"] for r in rows if r["ppl_bucket"] == "tail")
        assert hmax <= tmin

    re_out = ppl_buckets(df.repartition(13), "doc_id").collect()
    assert sorted((r["doc_id"], r["ppl_bucket"]) for r in re_out) == sorted(
        (r["doc_id"], r["ppl_bucket"]) for r in out
    )


def test_ccnet_pipeline_composition(spark):
    """The composed chain drops exact post-normalization duplicates before
    the LM ever trains (clone of doc 0 must not survive), emits no 'tail'
    rows, and keeps roughly two thirds per language."""
    from dataflow_spark.entry_queries import _q_ccnet_pipeline, _t  # noqa: F401
    from dataflow_spark.functions.refiners import REFINERS
    from dataflow_spark.operators.dedup import dedup_exact
    from dataflow_spark.operators.lm import ppl_buckets
    from pyspark.sql import functions as F2

    rows = [
        (
            i,
            "common words "
            + " ".join(f"tok{(i * p) % (13 + p)}" for p in (3, 5, 7, 11))
            + f" uniq{i}",
            ["en", "fr"][i % 2],
        )
        for i in range(80)
    ]
    rows.append((500, rows[0][1] + "  ", "en"))  # dup modulo normalization
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])

    norm = df.select(
        "doc_id", REFINERS["ccnet_normalize"].native(F2.col("text")).alias("text"), "lang"
    )
    surv = dedup_exact(norm, ["text"], "doc_id", algo="sha256")
    out = ppl_buckets(surv, "doc_id").filter(F2.col("ppl_bucket") != "tail").collect()

    ids = {r["doc_id"] for r in out}
    assert 500 not in ids and 0 in ids
    assert all(r["ppl_bucket"] in ("head", "middle") for r in out)
    # both languages keep something, and the tail cut is real
    assert {r["lang"] for r in out} == {"en", "fr"}
    assert 0 < len(out) < 81
