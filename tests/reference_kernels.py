"""Pinned pandas/pure-Python reference kernels — the pytest oracle.

Each function is a 1:1 transcription of the cited reference operator's
row-at-a-time logic (/root/reference/dataflow/...), intentionally written
as sequential Python loops so the engine's vectorized/distributed
implementations are checked against the original execution model, not
against themselves. Library-dependent pieces (NLTK tokenizers, datasketch
permutations, emoji dicts) use the engine's pinned stand-ins documented in
dataflow_spark/functions/text.py.
"""

from __future__ import annotations

import hashlib
import re
import string

import numpy as np
import pandas as pd

from dataflow_spark.functions import text as X

PUNCT_TABLE = str.maketrans("", "", string.punctuation)


# refine archetype: overwrite text in place
# (refine/remove_extra_spaces_refiner.py:53)
def remove_extra_spaces(texts: list[str | None]) -> list[str | None]:
    return [t if t is None else " ".join(t.split()) for t in texts]


# refine/lowercase_refiner.py:48
def lowercase(texts):
    return [t if t is None else t.lower() for t in texts]


# refine/remove_emoji_refiner.py:17,66 (engine-pinned ranges)
def remove_emoji(texts):
    return [t if t is None else X.EMOJI_PATTERN.sub("", t) for t in texts]


# refine/html_url_remover_refiner.py:51-53
def remove_html_url(texts):
    out = []
    for t in texts:
        if t is None:
            out.append(None)
            continue
        t = re.sub(r"https?://\S+", "", t)
        t = re.sub(r"<[^>]*>", "", t)
        out.append(t)
    return out


# filter archetype: metric → 0/1 label → keep (heuristics.py:53-57)
def word_number_keep(texts, lo=20, hi=100_000):
    return [
        t is not None and lo <= len(t.split()) < hi for t in texts
    ]


# heuristics.py:1283-1350
def char_number_keep(texts, lo=100):
    return [t is not None and len(t) >= lo for t in texts]


# heuristics.py:13-58
def colon_end_keep(texts):
    return [
        t is not None and t.strip() != "" and not t.endswith(":") for t in texts
    ]


# heuristics.py:846-919
def mean_word_length_keep(texts, lo=3.0, hi=10.0):
    out = []
    for t in texts:
        if t is None or not t.split():
            out.append(False)
            continue
        words = t.split()
        chars = len(re.sub(r"\s", "", t))
        m = chars / len(words)
        out.append(lo <= m < hi)
    return out


# heuristics.py:1209-1281
def unique_words_keep(texts, threshold=0.1):
    out = []
    for t in texts:
        if t is None:
            out.append(False)
            continue
        toks = t.lower().translate(PUNCT_TABLE).split()
        out.append(bool(toks) and len(set(toks)) / len(toks) > threshold)
    return out


# heuristics.py:1000-1062
def curly_bracket_keep(texts, threshold=0.025):
    out = []
    for t in texts:
        if not t:
            out.append(False)
            continue
        out.append((t.count("{") + t.count("}")) / len(t) < threshold)
    return out


# heuristics.py:1139-1207
def lorem_ipsum_keep(texts, threshold=3e-8):
    out = []
    for t in texts:
        if not t:
            out.append(False)
            continue
        hits = len(re.findall(r"lorem\s+ipsum", t.lower()))
        out.append(hits / len(t) <= threshold)
    return out


# heuristics.py:301-355
def content_null_keep(texts):
    return [t is not None and t.strip() != "" for t in texts]


# filter/hash_deduplicator.py:75-89 — first-occurrence-wins md5 dedup
def hash_dedup_keep(texts):
    seen: set[str] = set()
    keep = []
    for t in texts:
        h = hashlib.md5((t or "").encode("utf-8")).hexdigest()
        keep.append(h not in seen)
        seen.add(h)
    return keep


# filter/ccnet_deduplicator.py:95-104 — first-64-bits-of-sha1 dedup
def ccnet_dedup_keep(texts):
    seen: set[str] = set()
    keep = []
    for t in texts:
        h = hashlib.sha1((t or "").encode("utf-8")).hexdigest()[:16]
        keep.append(h not in seen)
        seen.add(h)
    return keep


# filter/minhash_deduplicator.py:47-55 — the datasketch shingle unit:
# CHAR n-grams, each hashed over its utf-8 encoding (s[i:i+n].encode()).
# Sequential scalar-loop transcription, deliberately independent of the
# engine's vectorized _char_ngram_hashes so a kernel bug can't self-verify.
def char_shingle_hashes(t: str, n: int = 5):
    import zlib

    t = t or ""
    b = t.encode("utf-8")
    if len(t) < n:  # CHARACTER count — the reference windows characters
        return (
            np.array([zlib.crc32(b)], dtype=np.uint64)
            if b
            else np.array([], dtype=np.uint64)
        )
    vals = set()
    for i in range(len(t) - n + 1):
        h = 0
        for byte in t[i : i + n].encode("utf-8"):
            h = (h * 257 + byte) % (1 << 64)
        vals.add(h)
    return np.array(sorted(vals), dtype=np.uint64)


# filter/minhash_deduplicator.py:47-86 — LSH first-wins: row kept iff no
# band of its signature collides with a previously-kept row's band.
# Raw-text char shingles + datasketch-optimal banding for threshold=0.9,
# the reference defaults (MinHashLSH(threshold=0.9, num_perm=128)).
def minhash_dedup_keep(texts, num_perm=128, threshold=0.9, bands=None, ngram=5, seed=1):
    from dataflow_spark.operators.dedup import (
        _MERSENNE,
        optimal_band_param,
    )

    if bands is None:
        bands, r = optimal_band_param(threshold, num_perm)
    else:
        r = num_perm // bands
    rng = np.random.RandomState(seed)
    a = (rng.randint(1, _MERSENNE, size=num_perm).astype(np.uint64) | np.uint64(1))
    b = rng.randint(0, _MERSENNE, size=num_perm).astype(np.uint64)

    def sig(t: str) -> np.ndarray:
        hv = char_shingle_hashes(t, ngram)
        if hv.size == 0:
            return np.zeros(num_perm, dtype=np.int64)
        with np.errstate(over="ignore"):  # multiply-shift: mod-2^64 wrap
            m = hv[:, None] * a[None, :] + b[None, :]
        return m.min(axis=0).astype(np.int64)

    index: dict = {}
    keep = []
    for t in texts:
        s = sig(t)
        keys = [(i, tuple(s[i * r : (i + 1) * r])) for i in range(bands)]
        dup = any(k in index for k in keys)
        keep.append(not dup)
        if not dup:
            for k in keys:
                index[k] = True
    return keep


# eval/statistics/ngram_scorer.py:38-50 — unique/total word 5-grams on
# lowercased, punctuation-stripped text (1.0 when < n tokens).
def ngram_score(texts, n=5):
    out = []
    for t in texts:
        toks = (t or "").lower().translate(PUNCT_TABLE).split()
        if len(toks) < n:
            out.append(1.0)
            continue
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        out.append(len(set(grams)) / len(grams))
    return out


# conversations/consistent_chat.py:116-132 — ordered assembly, drop
# trailing user turn; sessions split on gap.
def assemble_sessions(pdf: pd.DataFrame, gap_seconds: int = 600) -> pd.DataFrame:
    rows = []
    for conv_id, g in pdf.groupby("conv_id"):
        g = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        gaps = g["ts"].diff().dt.total_seconds() > gap_seconds
        for _, sess in g.groupby(gaps.cumsum()):
            s = sess.sort_values("turn_idx")
            if len(s) and s.iloc[-1]["role"] == "user":
                s = s.iloc[:-1]
            if not len(s):
                continue
            rows.append(
                {
                    "conv_id": conv_id,
                    "session_start": sess["ts"].min(),
                    "session_end": sess["ts"].max(),
                    "n_turns": len(s),
                    "transcript": "\n".join(
                        f"{r.role}|{r.text if r.text is not None else ''}"
                        for r in s.itertuples()
                    ),
                }
            )
    return pd.DataFrame(
        rows, columns=["conv_id", "session_start", "session_end", "n_turns", "transcript"]
    )


# eval/statistics/token_info.py + reasoning/filter/answer_token_length_filter.py
# — the reference counts tokens with a trained (HuggingFace) tokenizer; the
# engine trains its own BPE on the corpus. This is the sequential scalar
# transcription of that trainer/encoder (plain dict loops, deliberately
# independent of the engine's string-replace formulation).
def bpe_train(texts, n_merges=12):
    import collections
    import re

    wc = collections.Counter()
    for t in texts:
        t = (t or "").replace("\x1f", "").replace("\x1e", "")
        for w in re.split(r"(?a)\s+", t.strip()):
            if w:
                wc[tuple(w)] += 1
    words = dict(wc)
    merges = []
    for _ in range(n_merges):
        pc = collections.Counter()
        for syms, c in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        # max count, ties -> lexicographically smallest separated pair
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0] + "\x1f" + kv[0][1]))[0]
        merges.append(best)
        a, b = best
        new_words = {}
        for syms, c in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_words[tuple(out)] = new_words.get(tuple(out), 0) + c
        words = new_words
    return merges


def bpe_count(text, merges):
    import re

    t = (text or "").replace("\x1f", "").replace("\x1e", "")
    total = 0
    for w in re.split(r"(?a)\s+", t.strip()):
        if not w:
            continue
        syms = list(w)
        for a, b in merges:  # merge order = priority order
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        total += len(syms)
    return total


def _release_checkpoint(df) -> None:
    """Free a ``localCheckpoint`` generation's blocks eagerly.
    ``DataFrame.unpersist`` only talks to the CacheManager and is a no-op
    for checkpoint blocks; the blocks live on the underlying RDD held by
    the plan's LogicalRDD node. Classic-mode reach-through; on any other
    backend the ContextCleaner reclaims the blocks once the generation's
    reference is dropped (bounded here: ≤2 generations are ever live)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # noqa: BLE001 - non-classic backend / already gone
        pass


def train_bpe(df, text_col: str = "text", n_merges: int = 12) -> list[tuple[str, str]]:
    """The distributed Catalyst BPE trainer — the reference that the
    engine's driver-local ``train_bpe_local`` is pinned to. Each merge
    step is one pair-count aggregation (map-side combinable) + a 1-row
    driver collect + one codegen'd ``replace`` over the distinct word
    table: k driver-coordinated jobs, against the local trainer's one
    collect.

    Deterministic: pair counts are exact integers; the argmax breaks ties
    on the smallest separated pair string."""
    from pyspark.sql import functions as F

    from dataflow_spark.operators.bpe import US, _interspersed_words

    # localCheckpoint, not persist: a persisted generation still carries
    # its FULL logical lineage, and Catalyst re-optimizes that whole
    # k-deep plan every iteration before the cache can match — measured
    # super-linear (3 s at k=5, 15 s at k=15, 470 s at k=20 on an 11-doc
    # corpus). The checkpoint replaces the plan root with the
    # materialized blocks, so per-iteration optimizer cost is constant.
    # eager=False: the top-pair collect below is what materializes the
    # current generation — no extra jobs.
    state = _interspersed_words(df, text_col).localCheckpoint(eager=False)
    prev = None  # the previous generation, released one step late: until
    # the current generation materializes, its plan still reads the
    # previous one's blocks
    merges: list[tuple[str, str]] = []
    try:
        for _ in range(n_merges):
            syms = F.split("w", US)
            # guard single-symbol words BEFORE sequence(): Spark's
            # sequence(1, 0) counts DOWN ([1, 0]) instead of returning
            # empty, and element_at(·, 0) throws under ANSI
            pairs = (
                state.filter(F.size(syms) >= 2)
                .select(
                    F.explode(
                        F.transform(
                            F.sequence(F.lit(1), F.size(syms) - 1),
                            lambda i: F.concat_ws(
                                US, F.element_at(syms, i), F.element_at(syms, i + 1)
                            ),
                        )
                    ).alias("pair"),
                    "cnt",
                )
            )
            top = (
                pairs.groupBy("pair")
                .agg(F.sum("cnt").alias("n"))
                .orderBy(F.col("n").desc(), F.col("pair").asc())
                .limit(1)
                .collect()
            )
            if prev is not None:
                _release_checkpoint(prev)
                prev = None
            if not top:
                break  # every word is a single token already
            a, b = top[0]["pair"].split(US)
            merges.append((a, b))
            nxt = state.select(
                F.replace(
                    F.col("w"), F.lit(a + US + b), F.lit(a + b)
                ).alias("w"),
                "cnt",
            ).localCheckpoint(eager=False)
            prev, state = state, nxt
    finally:
        _release_checkpoint(state)
        if prev is not None:
            _release_checkpoint(prev)
    return merges


# KenLM-semantics upgrade (Kenlm/model.py loads interpolated-KN n-gram
# tables): sequential interpolated Kneser-Ney trigram perplexity with
# fixed discount D, trained on the scored corpus itself. Dict-loop
# transcription, independent of the engine's join/fold formulation.
def trigram_kn_ppl(texts, discount=0.75):
    import collections
    import math
    import re

    docs = [
        [w for w in re.split(r"(?a)\s+", (t or "").lower()) if w] for t in texts
    ]
    t3 = collections.Counter()
    for tk in docs:
        padded = ["<s>", "<s>"] + tk
        for i in range(len(tk)):
            t3[(padded[i], padded[i + 1], padded[i + 2])] += 1
    ctx3, nt3, cont2 = collections.Counter(), collections.Counter(), collections.Counter()
    for (w1, w2, w3), c in t3.items():
        ctx3[(w1, w2)] += c
        nt3[(w1, w2)] += 1
        cont2[(w2, w3)] += 1
    mid_ctx, mid_t, cont1 = collections.Counter(), collections.Counter(), collections.Counter()
    for (w2, w3), c in cont2.items():
        mid_ctx[w2] += c
        mid_t[w2] += 1
        cont1[w3] += 1
    total2 = len(cont2)
    vocab = len({w for tk in docs for w in tk})
    dd = discount
    out = []
    for tk in docs:
        if not tk:
            out.append(None)
            continue
        padded = ["<s>", "<s>"] + tk
        s = 0.0
        for i in range(len(tk)):
            w1, w2, w3 = padded[i], padded[i + 1], padded[i + 2]
            p1 = float(cont1.get(w3, 0) + 1) / float(total2 + vocab + 1)
            mc = mid_ctx.get(w2, 0)
            if mc > 0:
                p2 = (
                    max(float(cont2.get((w2, w3), 0)) - dd, 0.0)
                    + (dd * float(mid_t[w2])) * p1
                ) / float(mc)
            else:
                p2 = p1
            cx = ctx3.get((w1, w2), 0)
            if cx > 0:
                p3 = (
                    max(float(t3.get((w1, w2, w3), 0)) - dd, 0.0)
                    + (dd * float(nt3[(w1, w2)])) * p2
                ) / float(cx)
            else:
                p3 = p2
            s += math.log(p3)
        out.append(math.exp(-s / len(tk)))
    return out


# The classifier-family doctrine twin (model-backed Category/quality
# classifiers in the reference are LLM-served): sequential multinomial
# Naive Bayes with add-1 smoothing, token-order log-prob accumulation,
# argmax with smallest-label tie-break. Dict loops, independent of the
# engine's join/fold formulation.
def nb_classify_seq(texts, labels):
    import collections
    import math
    import re

    tok = lambda t: [  # noqa: E731
        w for w in re.split(r"(?a)\s+", (t or "").lower()) if w
    ]
    wc = collections.Counter()
    n_tok = collections.Counter()
    n_docs = collections.Counter()
    for t, lab in zip(texts, labels):
        n_docs[lab] += 1
        for w in tok(t):
            wc[(lab, w)] += 1
            n_tok[lab] += 1
    vocab = len({w for (lab, w) in wc})
    total = len(texts)
    classes = sorted(n_docs)
    out = []
    for t in texts:
        best = None
        for lab in classes:
            s = 0.0
            for w in tok(t):
                s += math.log(
                    float(wc.get((lab, w), 0) + 1) / float(n_tok[lab] + vocab)
                )
            score = math.log(float(n_docs[lab]) / float(total)) + s
            if best is None or score > best[0]:
                best = (score, lab)
        out.append(best)
    return out
