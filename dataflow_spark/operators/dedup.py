"""Deduplication operators.

The reference's dedups are ALL order-dependent first-wins sequential scans:
row i is kept iff no *previously kept* row collides with it
(/root/reference/dataflow/operators/general_text/filter/hash_deduplicator.py:75-89,
minhash_deduplicator.py:74-86, simhash_deduplicator.py:78). That is a greedy
maximal-independent-set over the collision graph, taken in a global stable
order — here always ``(order key asc)`` with the engine's canonical order key
being ``(conv_id, turn_idx)`` / ``doc_id``.

Parallel re-expression (no driver-side loops, no pairwise self-joins):

1. bucket table   — (id, band) rows from banding/bucketing (LSH bands,
   simhash sub-keys, chunk hashes, hyperplane buckets). Shuffle keyed on
   the band value only.
2. star edges     — every member of a duplicated bucket links to the
   bucket's min id. Same connectivity as the full within-bucket clique but
   O(members) edges instead of O(members²): a 1M-row hot bucket (think
   boilerplate docs at 100 TB) emits 1M edges, not 10¹².
3. connected components — min-label propagation on the star edges (star
   unions have tiny diameter; converges in 1-2 rounds).
4. per-component greedy claim — cogrouped ``applyInPandas`` over the
   component's (id, band) rows [+ optional per-id payload]: scan ids
   ascending; a row collides iff a *kept* row already claimed >=
   ``min_shared`` of its bands and (for verified families) the exact
   similarity check passes. This is literally the reference's
   LSH-insertion-session loop (minhash_deduplicator.py:74-89), restricted
   to one component — and greedy over components equals the global scan
   because rows in different components share no bucket.

Exact dedup needs none of that: first-wins == min-by-order within the hash
group — a single map-side-combinable aggregation.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MERSENNE = (1 << 61) - 1


# ------------------------------------------------------------- exact dedup


def dedup_exact(
    df: DataFrame,
    cols: list[str],
    order_col: str,
    algo: str = "md5",
) -> DataFrame:
    """First-occurrence-wins exact dedup on the hash of ``cols`` joined by
    '\\n' (multi-key form of hash_deduplicator.py:79-82).

    One shuffle on the hash key; ``min_by`` aggregates partially map-side —
    at 100 TB this is the cheapest correct plan (no global sort, no window).
    ``algo``: md5 | sha256 | xxh64 | ccnet (first 16 hex chars of sha1,
    ccnet_deduplicator.py:9-39).
    """
    joined = F.concat_ws("\n", *[F.coalesce(F.col(c), F.lit("")) for c in cols])
    if algo == "md5":
        h = F.md5(joined)
    elif algo == "sha256":
        h = F.sha2(joined, 256)
    elif algo == "xxh64":
        h = F.xxhash64(joined)
    elif algo == "ccnet":
        # reference packs sha1's first 8 BYTES as a little-endian uint64
        # (ccnet_deduplicator.py:34-36); the first 16 hex chars are a
        # bijection of those same 8 bytes, so the dedup partition — and
        # hence the keep-set — is identical, without a byte-reverse expr
        h = F.substring(F.sha1(joined), 1, 16)
    else:
        raise ValueError(algo)
    tagged = df.withColumn("__h", h)
    winners = tagged.groupBy("__h").agg(
        F.min_by(F.struct(*df.columns), F.col(order_col)).alias("row")
    )
    return winners.select("row.*")


# ----------------------------------------------- first-wins graph resolve


def connected_components(
    edges: DataFrame, max_iter: int = 30
) -> DataFrame:
    """Min-label propagation over ``edges(src,dst)`` (ids: long).

    Returns DataFrame[id, comp]. Only nodes that appear in an edge are
    labeled — isolated nodes never collide and are kept unconditionally by
    the caller, which keeps this loop's working set proportional to the
    (small) duplicate population, not the corpus.
    """
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    lab = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("mind"))
        .select(F.col("src").alias("id"), F.least("src", "mind").alias("comp"))
        .localCheckpoint()
    )
    def one_round(cur):
        nbr = (
            sym.join(cur.withColumnRenamed("id", "dst2"), sym.dst == F.col("dst2"))
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        return cur.join(nbr, cur.id == nbr.src, "left").select(
            cur.id, F.least(cur.comp, F.coalesce("nbr_comp", cur.comp)).alias("comp")
        )

    # two propagation rounds per convergence check: near-dup components are
    # shallow (usually diameter <= 2), so this halves the count-jobs without
    # extra rounds in the common case. Loops until a fixpoint — ``max_iter``
    # only bounds label-prop ROUNDS per check, never truncates convergence
    # (a truncated label split would silently keep extra duplicates).
    while True:
        new_lab = one_round(one_round(lab)).localCheckpoint()
        changed = (
            new_lab.alias("n")
            .join(lab.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        lab = new_lab
        if changed == 0:
            break
    return lab


_RESOLVE_SCHEMA = T.StructType(
    [T.StructField("id", T.LongType(), False), T.StructField("keep", T.BooleanType(), False)]
)


def with_order_rank(df: DataFrame, order_cols: list[str], rank_col: str = "__ord") -> DataFrame:
    """Stable dense global order rank (long) over ``order_cols``.

    Distributed zipWithIndex shape: range-shuffle sort on ``order_cols``,
    one light count job for per-partition offsets (over a localCheckpoint
    so both jobs see the identical partitioning — range sampling is not
    replay-stable), then an Arrow pass adds ``offset + local running
    index``. No single-task global sort anywhere — every stage is as
    parallel as the range partitioning. Callers that already hold a unique
    long key (doc_id, vec_id) should pass it directly instead of ranking.
    """
    import pandas as pd

    sc = df.sparkSession.sparkContext
    sorted_df = (
        df.repartitionByRange(max(sc.defaultParallelism, 1), *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = dict(
        (r["__pid"], r["cnt"])
        for r in sorted_df.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    boff = sc.broadcast(offsets)
    out_schema = T.StructType(
        sorted_df.drop("__pid").schema.fields + [T.StructField(rank_col, T.LongType(), False)]
    )

    def add_rank(batches):
        seen = 0
        for pdf in batches:
            if len(pdf):
                base = boff.value[int(pdf["__pid"].iloc[0])]
                start = base + seen + 1
                pdf = pdf.drop(columns=["__pid"])
                pdf[rank_col] = range(start, start + len(pdf))
                seen += len(pdf)
                yield pdf

    return sorted_df.mapInPandas(add_rank, schema=out_schema)


# -------------------------------------------------- bucket-claim first-wins


def _greedy_claim_resolve(
    bands: pd.DataFrame,
    payload: pd.DataFrame | None,
    prepare=None,
    verify=None,
    min_shared: int = 1,
) -> pd.DataFrame:
    """Reference LSH-insertion-session loop over ONE collision component
    (minhash_deduplicator.py:74-89 / simhash_deduplicator.py:70-85): scan
    ids ascending; a row is dropped iff some KEPT row shares >=
    ``min_shared`` of its bands and (if ``verify``) the exact check passes;
    kept rows claim their bands."""
    by_id = bands.groupby("id")["band"].agg(list)
    data: dict[int, object] = {}
    if payload is not None and verify is not None:
        prep = prepare if prepare is not None else (lambda x: x)
        data = {int(i): prep(v) for i, v in zip(payload["id"].values, payload["data"].values)}
    owners: dict[object, list[int]] = {}
    kept: set[int] = set()
    out = []
    for i in by_id.index:
        i = int(i)
        bs = by_id[i]
        collide = False
        if verify is None and min_shared <= 1:
            collide = any(b in owners for b in bs)
        else:
            cnt: dict[int, int] = {}
            cands: list[int] = []
            for b in bs:
                for j in owners.get(b, ()):
                    c = cnt.get(j, 0) + 1
                    cnt[j] = c
                    if c == min_shared:
                        cands.append(j)
            if verify is None:
                collide = bool(cands)
            else:
                mine = data.get(i)
                collide = any(verify(mine, data[j]) for j in cands)
        if not collide:
            kept.add(i)
            for b in bs:
                owners.setdefault(b, []).append(i)
        out.append((i, not collide))
    return pd.DataFrame(out, columns=["id", "keep"])


# duplicate populations up to this many member rows resolve in one task
# (read at call time, so tests reach the component path by lowering it)
SMALL_GRAPH_MAX_MEMBERS = 500_000


def first_wins_bucket_claim(
    df: DataFrame,
    id_col: str,
    buckets: DataFrame,
    payload: DataFrame | None = None,
    prepare=None,
    verify=None,
    min_shared: int = 1,
) -> DataFrame:
    """Filter ``df`` to first-wins survivors given a bucket table
    ``buckets(id, band)`` (id = long order rank; (id, band) pairs distinct).

    Collision relation: rows i<j collide iff they share >= ``min_shared``
    bands and (for verified families) ``verify(prepare(data_i),
    prepare(data_j))`` holds, with per-id ``payload(id, data)``. Rows whose
    every band is globally unique never collide and are kept without ever
    entering the resolve — the working set is the duplicate population, not
    the corpus.

    Scale shape: one shuffle on band (dup-bucket detection), star edges to
    the bucket-min id (O(members), immune to hot-bucket pair explosion),
    label-prop components, then one cogrouped applyInPandas whose groups are
    single collision components. When the whole duplicate population is
    small (<= ``SMALL_GRAPH_MAX_MEMBERS`` member rows) the component loop
    is skipped and one task replays the global scan."""
    buckets = buckets.select(
        F.col(buckets.columns[0]).alias("id"), F.col(buckets.columns[1]).alias("band")
    )
    roots = (
        buckets.groupBy("band")
        .agg(F.min("id").alias("root"), F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .select("band", "root")
    )
    members = buckets.join(roots, "band").select("id", "band", "root").localCheckpoint()
    n_members = members.count()
    if n_members == 0:
        return df

    need_payload = payload is not None and verify is not None
    if n_members <= SMALL_GRAPH_MAX_MEMBERS:
        grouped = members.select("id", "band").withColumn("__g", F.lit(0))
        pay = (
            payload.join(members.select("id").distinct(), "id")
            .select("id", "data")
            .withColumn("__g", F.lit(0))
            if need_payload
            else None
        )
        key = "__g"
    else:
        edges = (
            members.filter(F.col("id") != F.col("root"))
            .select(F.col("root").alias("src"), F.col("id").alias("dst"))
            .distinct()
        )
        comp = connected_components(edges)
        grouped = members.join(comp, "id").select("id", "band", "comp")
        # fresh exprIds on the payload side: both cogroup branches would
        # otherwise reference the same `comp` attributes (ambiguous self-join)
        comp_p = comp.select(
            F.col("id").alias("id"), F.col("comp").alias("__comp_p")
        )
        pay = (
            payload.join(comp_p, "id")
            .select("id", "data", F.col("__comp_p").alias("comp"))
            if need_payload
            else None
        )
        key = "comp"

    def run(bands_pdf: pd.DataFrame, payload_pdf: pd.DataFrame | None) -> pd.DataFrame:
        return _greedy_claim_resolve(
            bands_pdf.sort_values("id"), payload_pdf, prepare, verify, min_shared
        )

    if pay is not None:
        verdict = (
            grouped.groupBy(key)
            .cogroup(pay.groupBy(key))
            .applyInPandas(lambda left, right: run(left, right), schema=_RESOLVE_SCHEMA)
        )
    else:
        verdict = grouped.groupBy(key).applyInPandas(
            lambda pdf: run(pdf, None), schema=_RESOLVE_SCHEMA
        )
    verdict = verdict.select(
        F.col("id").alias("__fw_id"), F.col("keep").alias("__fw_keep")
    )
    return (
        df.join(verdict, df[id_col] == verdict["__fw_id"], "left")
        .filter(F.coalesce(F.col("__fw_keep"), F.lit(True)))
        .drop("__fw_id", "__fw_keep")
    )


# ----------------------------------------------------------------- minhash


def _rolling_byte_ngram_hashes(b: bytes, n: int) -> np.ndarray:
    """All distinct byte-n-gram polynomial hashes of b, fully vectorized.

    base 257 > 255 makes the polynomial injective over byte n-grams, and
    for n <= 7 the exact value fits in int64 (255 * sum(257^i) < 2^63) —
    no modulus, no Python loop: one sliding-window matmul.
    """
    if len(b) < n:
        return (
            np.array([zlib.crc32(b)], dtype=np.uint64)
            if b
            else np.array([], dtype=np.uint64)
        )
    if n > 7:  # would overflow int64 — not used by the engine defaults
        raise ValueError("byte-ngram hash supports n <= 7")
    arr = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
    powers = (257 ** np.arange(n - 1, -1, -1)).astype(np.int64)
    win = np.lib.stride_tricks.sliding_window_view(arr, n)
    return np.unique(win @ powers).astype(np.uint64)


def _char_ngram_hashes(text: str, n: int) -> np.ndarray:
    """All distinct CHAR-n-gram hashes: each shingle is the utf-8 byte
    sequence of ``n`` consecutive characters (the reference/datasketch
    unit — minhash_deduplicator.py:47-55 hashes ``s[i:i+n].encode()``),
    hashed with the same base-257 polynomial, mod 2^64 for the multibyte
    windows that exceed 7 bytes.

    Pure-ASCII text takes the exact byte-window fast path (char windows
    == byte windows there, and the polynomial is injective with no
    wraparound) — identical values AND identical speed to the previous
    byte-shingle kernel on ASCII corpora; only genuinely multibyte rows
    pay the grouped-by-byte-length vectorized path. Texts shorter than
    ``n`` CHARACTERS degenerate to one crc32 of the full encoding (the
    pinned engine semantics for sub-window docs)."""
    b = text.encode("utf-8")
    arr = np.frombuffer(b, dtype=np.uint8)
    if arr.size == 0 or (arr < 0x80).all():
        return _rolling_byte_ngram_hashes(b, n)
    starts = np.flatnonzero((arr & 0xC0) != 0x80)  # char start offsets
    if starts.size < n:
        return np.array([zlib.crc32(b)], dtype=np.uint64)
    s0 = starts[: starts.size - n + 1]
    ends = np.append(starts[n:], arr.size)  # byte end of each n-char window
    lens = ends - s0
    a64 = arr.astype(np.uint64)
    out = np.empty(s0.size, dtype=np.uint64)
    with np.errstate(over="ignore"):  # mod-2^64 wraparound IS the hash
        for L in np.unique(lens):
            idx = np.flatnonzero(lens == L)
            block = a64[s0[idx][:, None] + np.arange(int(L))[None, :]]
            h = np.zeros(idx.size, dtype=np.uint64)
            for j in range(int(L)):  # Horner over <= 4n byte columns
                h = h * np.uint64(257) + block[:, j]
            out[idx] = h
    return np.unique(out)


def optimal_band_param(
    threshold: float,
    num_perm: int,
    fp_weight: float = 0.5,
    fn_weight: float = 0.5,
) -> tuple[int, int]:
    """(bands, rows_per_band) minimizing weighted false-positive +
    false-negative area of the LSH S-curve at ``threshold`` — the same
    objective datasketch's MinHashLSH optimizes (public algorithm;
    datasketch lsh.py _optimal_param), evaluated with a fixed-grid
    trapezoid integral so the result is deterministic here."""
    xs = np.linspace(0.0, 1.0, 2049)
    below = xs <= threshold
    best, best_err = (1, num_perm), float("inf")
    for b in range(1, num_perm + 1):
        for r in range(1, num_perm // b + 1):
            p_collide = 1.0 - (1.0 - xs**r) ** b
            fp = np.trapz(p_collide[below], xs[below])
            fn = np.trapz(1.0 - p_collide[~below], xs[~below])
            err = fp * fp_weight + fn * fn_weight
            if err < best_err:
                best_err, best = err, (b, r)
    return best


def minhash_perm_constants(num_perm: int = 128, seed: int = 1) -> tuple[np.ndarray, np.ndarray]:
    """The pinned multiply-shift permutation constants (a_i odd, b_i) as
    uint64 arrays — shared by the signature kernel and the DuckDB oracle
    builder so both sides hash identically."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_perm).astype(np.uint64) | np.uint64(1)
    b = rng.randint(0, _MERSENNE, size=num_perm).astype(np.uint64)
    return a, b


def minhash_signature_udf(num_perm: int = 128, ngram: int = 5, seed: int = 1):
    """Arrow pandas_udf: text → array<long> MinHash signature.

    Engine semantics (pinned): RAW text (reference shingles the unmodified
    string: minhash_deduplicator.py:50-53), CHAR 5-gram shingle set with
    each shingle hashed over its utf-8 bytes (the reference/datasketch
    unit: ``s[i:i+5].encode('utf-8')`` — identical to byte windows on
    ASCII, and now also faithful across multibyte boundaries on CJK/emoji
    text); universal hashing h_i(x)=(a_i*x+b_i) mod (2^61-1),
    signature[i]=min_x h_i(x). (datasketch is unavailable here so the
    permutation family is pinned: multiply-shift hashing
    h_i(x) = (a_i*x + b_i) mod 2^64 with odd a_i — Dietzfelbinger et al.'s
    universal family. Unlike (a*x+b) mod Mersenne it needs no integer
    division, so the (shingles × permutations) matrix stays SIMD —
    ~10x faster per Arrow batch at identical collision statistics.)
    """
    a, b = minhash_perm_constants(num_perm, seed)

    # shingles per vectorized block: 2^16 x 128 x 8B = 64 MiB peak — big
    # enough to amortize per-row Python overhead over ~100+ docs, small
    # enough to stay cache/memory friendly inside an Arrow batch
    _CHUNK_SHINGLES = 1 << 16

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _udf(s: pd.Series) -> pd.Series:
        hvs = [_char_ngram_hashes(v, ngram) for v in s.fillna("")]
        out: list = [None] * len(hvs)
        i = 0
        while i < len(hvs):
            # greedily pack rows into one (total_shingles x num_perm) block
            j, tot, idxs = i, 0, []
            while j < len(hvs) and (tot == 0 or tot + hvs[j].size <= _CHUNK_SHINGLES):
                tot += hvs[j].size
                idxs.append(j)
                j += 1
            nz = [k for k in idxs if hvs[k].size]
            if nz:
                h = np.concatenate([hvs[k] for k in nz])
                sizes = [hvs[k].size for k in nz]
                offs = np.cumsum([0] + sizes[:-1])
                # 16 permutations at a time: the (shingles x 16) block stays
                # cache-resident — 10x faster than materializing the full
                # (shingles x 128) matrix (measured 16.0s -> 1.6s per 1M
                # shingles single-core), bit-identical output
                parts = []
                with np.errstate(over="ignore"):  # mod-2^64 wraparound IS the hash
                    for p0 in range(0, num_perm, 16):
                        mc = h[:, None] * a[None, p0:p0 + 16] + b[None, p0:p0 + 16]
                        parts.append(np.minimum.reduceat(mc, offs, axis=0))
                mins = np.concatenate(parts, axis=1)
                for r, k in enumerate(nz):
                    out[k] = mins[r].astype(np.int64).tolist()
            for k in idxs:
                if not hvs[k].size:
                    out[k] = [0] * num_perm
            i = j
        return pd.Series(out)

    return _udf


def _widen_for_compute(df: DataFrame, id_col: str, data_col: str) -> DataFrame:
    """Project to (id, data) and, when the input arrives in fewer
    partitions than the cluster has slots (one small parquet file, a
    coalesced upstream stage), round-robin repartition so the expensive
    per-row kernel downstream uses every core. The shuffled payload is only
    the projected pair; at 100 TB inputs already carry thousands of
    partitions and this is a no-op."""
    out = df.select(id_col, data_col)
    sc = df.sparkSession.sparkContext
    if out.rdd.getNumPartitions() < sc.defaultParallelism // 2:
        out = out.repartition(sc.defaultParallelism)
    return out


def minhash_bucket_table(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_perm: int = 128,
    threshold: float = 0.9,
    bands: int | None = None,
    seed: int = 1,
) -> DataFrame:
    """(id, band) bucket table of the MinHash LSH index. ``bands`` defaults
    to the datasketch-optimal banding for ``threshold`` (reference runs
    MinHashLSH(threshold=0.9, num_perm=128): minhash_deduplicator.py:73);
    any band collision is a duplicate *without* verification — the
    reference's no-verify semantics, pinned."""
    if bands is None:
        bands, rows_per_band = optimal_band_param(threshold, num_perm)
    else:
        rows_per_band = num_perm // bands
    src = _widen_for_compute(df, id_col, text_col)
    sig = src.select(
        F.col(id_col).alias("id"),
        minhash_signature_udf(num_perm=num_perm, seed=seed)(F.col(text_col)).alias("sig"),
    )
    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.concat_ws(
                    ":",
                    i.cast("string"),
                    F.xxhash64(F.slice("sig", i * rows_per_band + 1, rows_per_band)).cast(
                        "string"
                    ),
                ),
            )
        ).alias("band"),
    )


def dedup_minhash(
    df: DataFrame,
    order_col: str,
    text_col: str = "text",
    num_perm: int = 128,
    threshold: float = 0.9,
    bands: int | None = None,
    seed: int = 1,
) -> DataFrame:
    """MinHash-LSH near-dedup, first-wins by ``order_col`` (long)."""
    buckets = minhash_bucket_table(df, order_col, text_col, num_perm, threshold, bands, seed)
    return first_wins_bucket_claim(df, order_col, buckets)


def shingle_set_udf(ngram: int = 5):
    """text → sorted distinct char-n-gram hashes (the exact shingle set,
    raw text — same shingle definition as the MinHash signature)."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _udf(s: pd.Series) -> pd.Series:
        def sh(v: str):
            return _char_ngram_hashes(v, ngram).astype(np.int64).tolist()

        return s.fillna("").map(sh)

    return _udf


def dedup_ngram_jaccard(
    df: DataFrame,
    order_col: str,
    text_col: str = "text",
    threshold: float = 0.8,
    ngram: int = 5,
    num_perm: int = 128,
    lsh_threshold: float | None = None,
    seed: int = 1,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dedup: MinHash LSH buckets generate
    candidates, each candidate (new row, kept row) is VERIFIED with the
    true Jaccard of the byte n-gram shingle sets inside the per-component
    greedy scan, then first-wins. Unlike ``dedup_minhash`` (reference
    no-verify semantics) this has no false positives."""
    buckets = minhash_bucket_table(
        df, order_col, text_col, num_perm,
        lsh_threshold if lsh_threshold is not None else threshold, None, seed,
    )
    payload = _widen_for_compute(df, order_col, text_col).select(
        F.col(order_col).alias("id"), shingle_set_udf(ngram)(F.col(text_col)).alias("data")
    )

    def jac(a: frozenset, b: frozenset) -> bool:
        inter = len(a & b)
        union = len(a) + len(b) - inter
        return union > 0 and inter / union >= threshold

    return first_wins_bucket_claim(
        df, order_col, buckets, payload=payload, prepare=frozenset, verify=jac
    )


# ----------------------------------------------------------------- simhash


def simhash_udf():
    """64-bit token-weighted SimHash (simhash_deduplicator.py:15-85
    semantics). Token hash = LOW 64 bits of md5(token) — the `simhash`
    library's md5 hashfunc truncated to f=64 (the reference runs
    ``Simhash(text, f=64)``); tokenization pinned to ``lower().split()``
    with per-occurrence weight; bit i set iff its signed vote sum > 0.
    md5 (not crc32) keeps the kernel DuckDB-oracle-expressible."""

    @F.pandas_udf(T.LongType())
    def _udf(s: pd.Series) -> pd.Series:
        import hashlib
        from collections import Counter

        cache: dict[str, int] = {}

        def token_hash(t: str) -> int:
            v = cache.get(t)
            if v is None:
                v = int.from_bytes(hashlib.md5(t.encode("utf-8")).digest()[8:16], "big")
                cache[t] = v
            return v

        idx = np.arange(64, dtype=np.uint64)

        def sh(v: str) -> int:
            toks = v.lower().split()
            if not toks:
                return 0
            acc = np.zeros(64, dtype=np.int64)
            for t, w in Counter(toks).items():
                bits = (np.uint64(token_hash(t)) >> idx) & np.uint64(1)
                acc += np.where(bits.astype(bool), w, -w)
            out = 0
            for i in range(64):
                if acc[i] > 0:
                    out |= 1 << i
            return out - (1 << 64) if out >= (1 << 63) else out

        return s.fillna("").map(sh)

    return _udf


def dedup_simhash(
    df: DataFrame,
    order_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dedup: 4×16-bit band keys → bucket-claim resolve with
    hamming ≤ max_hamming verify against kept rows (the simhash index
    query semantics, simhash_deduplicator.py:70-85)."""
    sh = _widen_for_compute(df, order_col, text_col).select(
        F.col(order_col).alias("id"), simhash_udf()(F.col(text_col)).alias("data")
    ).localCheckpoint()
    band_exprs = [
        F.concat_ws(
            ":",
            F.lit(str(j)),
            F.shiftrightunsigned("data", j * 16).bitwiseAND(F.lit(0xFFFF)).cast("string"),
        )
        for j in range(4)
    ]
    buckets = sh.select("id", F.explode(F.array(*band_exprs)).alias("band"))

    mask = (1 << 64) - 1

    def ham(a: int, b: int) -> bool:
        return ((a ^ b) & mask).bit_count() <= max_hamming

    return first_wins_bucket_claim(
        df, order_col, buckets, payload=sh, prepare=int, verify=ham
    )


# --------------------------------------------------------- n-gram chunks


def dedup_ngram_chunks(
    df: DataFrame,
    order_col: str,
    text_col: str = "text",
    n_chunks: int = 3,
    diff_size: int = 1,
) -> DataFrame:
    """Chunk-hash near-dedup (ngramhash_deduplicator.py:75-85, defaults
    n_gram=3/diff_size=1): split text into ``n_chunks`` chunks of
    ``len(text)//n_chunks`` chars (trailing remainder dropped, exactly the
    reference's slicing), md5 each into an UNORDERED hash set; a row is a
    duplicate iff it shares >= ``diff_size`` distinct hashes with a kept
    row, position-independent — shuffled-paragraph copies collide."""
    cc = F.coalesce(F.col(text_col), F.lit(""))
    step = (F.length(cc) / n_chunks).cast("int")
    chunks = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_chunks - 1)),
            lambda i: F.md5(F.substring(cc, i * step + 1, step)),
        )
    )
    buckets = df.select(F.col(order_col).alias("id"), F.explode(chunks).alias("band"))
    return first_wins_bucket_claim(df, order_col, buckets, min_shared=diff_size)


# ------------------------------------------------------ embedding cosine


_QUANT = 1_000_000  # embedding quantization scale (micro-units)


def hyperplane_signs(n_tables: int, n_planes: int, dim: int) -> np.ndarray:
    """Deterministic ±1 hyperplane weights from md5 — w[t,p,d] = +1 iff the
    first md5 nibble of "t:p:d" is < 8. Sign-random-projection LSH keeps the
    same cosine collision statistics as gaussian planes for ±1 weights
    (Charikar 2002), and an arithmetic-free weight family makes the bucket
    keys exactly reproducible in any engine (the DuckDB oracle re-derives
    them from md5 alone — no float RNG to replicate)."""
    import hashlib

    w = np.empty((n_tables, n_planes, dim), dtype=np.int64)
    for t in range(n_tables):
        for p in range(n_planes):
            for d in range(dim):
                w[t, p, d] = 1 if hashlib.md5(f"{t}:{p}:{d}".encode()).digest()[0] < 128 else -1
    return w


def dedup_embedding_cosine(
    df: DataFrame,
    order_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 12,
    n_tables: int = 3,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-dedup (sem_deduplicator.py:63-161 shape): candidates
    via sign-random-projection LSH buckets, exact cosine verify against
    kept rows inside the per-component greedy scan, first-wins resolve.

    All arithmetic that decides the keep-set is INTEGER-exact: embeddings
    are quantized to micro-units (floor(e * 1e6), one IEEE multiply then a
    deterministic floor), bucket bits are signs of integer projections, and
    the cosine test ``cos >= threshold`` is evaluated as
    ``10^8 * dot^2 >= thr_bp^2 * |a|^2 * |b|^2`` (dot > 0) in arbitrary-
    precision ints with thr_bp = round(threshold * 1e4) — so the result is
    bit-reproducible across executors, Python versions, and the DuckDB
    oracle, with no FP-summation-order sensitivity. Pass ``dim`` from the
    caller to avoid a driver probe job."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = hyperplane_signs(n_tables, n_planes, dim)  # (T, P, dim) of ±1
    thr_bp = int(round(threshold * 10_000))

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def bucket_udf(vs: pd.Series) -> pd.Series:
        mat = np.floor(np.vstack(vs.values) * _QUANT).astype(np.int64)  # (B, dim)
        signs = [mat @ planes[t].T > 0 for t in range(n_tables)]  # int64 exact
        keys = []
        for i in range(mat.shape[0]):
            keys.append(
                [
                    f"{t}:" + "".join("1" if x else "0" for x in signs[t][i])
                    for t in range(n_tables)
                ]
            )
        return pd.Series(keys)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def quant_udf(vs: pd.Series) -> pd.Series:
        return vs.map(
            lambda v: np.floor(np.asarray(v, dtype=np.float64) * _QUANT)
            .astype(np.int64)
            .tolist()
        )

    buckets = df.select(
        F.col(order_col).alias("id"),
        F.explode(bucket_udf(F.col(vec_col))).alias("band"),
    )
    payload = df.select(F.col(order_col).alias("id"), quant_udf(F.col(vec_col)).alias("data"))

    # int64 np.dot is exact while every |component| <= _SAFE_Q (then
    # dim * q^2 < 2^63); unit-ish embeddings quantized at 1e6 sit 2-3
    # orders below that. The object-dtype path is the arbitrary-magnitude
    # fallback — exact but ~50x slower in the greedy verify loop.
    _SAFE_Q = int(((1 << 62) // max(dim, 1)) ** 0.5)

    def _exact_dot(qa: np.ndarray, qb: np.ndarray) -> int:
        if not qa.size:
            return 0
        if (
            np.abs(qa).max(initial=0) <= _SAFE_Q
            and np.abs(qb).max(initial=0) <= _SAFE_Q
        ):
            return int(np.dot(qa, qb))
        return int((qa.astype(object) * qb.astype(object)).sum())

    def prepare(v) -> tuple:
        q = np.asarray(v, dtype=np.int64)
        return q, _exact_dot(q, q)

    def cos_ok(a: tuple, b: tuple) -> bool:
        qa, na = a
        qb, nb = b
        dot = _exact_dot(qa, qb)
        if dot <= 0:
            return False
        return dot * dot * 100_000_000 >= thr_bp * thr_bp * na * nb

    return first_wins_bucket_claim(
        df, order_col, buckets, payload=payload, prepare=prepare, verify=cos_ok
    )


# --------------------------------------------------------------- line dedup


def dedup_lines_global(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 10,
    newline: str = "\n",
) -> DataFrame:
    """Corpus-wide exact LINE deduplication, first occurrence wins — the
    C4 / MassiveText / RefinedWeb pretraining staple: boilerplate lines
    (nav menus, cookie banners, license footers) repeat across millions
    of pages and must be removed at line granularity, not document
    granularity. Lines shorter than ``min_chars`` are exempt (blank
    lines and short connectives would otherwise all collapse to one
    global survivor, gutting every document).

    Returns ``(id_col, text_col)`` with each document reassembled from
    its surviving lines in original order; documents whose every line
    was a losing duplicate disappear.

    Scale shape: posexplode lines -> per-line ``min(struct(id, pos))``
    winner aggregation (map-side combinable — the deliberate choice over
    a rank window, because hot boilerplate lines are exactly the skewed
    keys a per-key sort window would serialize on) -> one co-partitioned
    join of occurrences to winners -> per-doc ordered reassembly. Two
    shuffles on the line key plus one on the doc key; working set per
    reducer is one line-string per distinct line, never the corpus.
    First-wins identity is total: (id, pos) orders every occurrence.
    """
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), F.lit(newline), -1)
        ).alias("pos", "line"),
    )
    eligible = F.length("line") >= min_chars
    winners = (
        lines.filter(eligible)
        .groupBy("line")
        .agg(F.min(F.struct("id", "pos")).alias("w"))
    )
    kept = (
        lines.join(winners, "line", "left")
        .filter(
            (~eligible)
            | ((F.col("w.id") == F.col("id")) & (F.col("w.pos") == F.col("pos")))
        )
    )
    return (
        kept.groupBy("id")
        .agg(
            F.concat_ws(
                newline,
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
            ).alias("txt")
        )
        .select(F.col("id").alias(id_col), F.col("txt").alias(text_col))
    )


# --------------------------------------------------------- substring dedup


def dedup_substrings_global(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
) -> DataFrame:
    """Corpus-wide EXACT-SUBSTRING deduplication (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): any run
    of ``k`` tokens that occurs more than once in the corpus survives
    only at its FIRST occurrence — every later occurrence's tokens are
    removed from their documents (the published ExactSubstr rule, on
    whitespace tokens instead of a suffix array). Case-sensitive, raw
    tokens: dedup must not conflate case variants.

    Output is ``(id_col, text_col)`` with surviving tokens re-joined by
    single spaces in original order (token-normalized text — the
    standard output of ExactSubstr implementations, which operate on the
    token stream); documents whose every token was covered disappear,
    and documents with fewer than ``k`` tokens pass through
    token-normalized but uncut.

    Scale shape (the suffix array is the single-node way; this is the
    Spark way): one k-gram explode -> combinable ``min(struct(id, s))``
    winner per gram string -> losing occurrences explode to at most
    k x (duplicated-instance count) covered positions -> one anti-join
    of the token stream against covered positions -> per-doc ordered
    reassembly. Every shuffle key is a gram string or (id, pos); the
    blow-up is bounded by the DUPLICATED volume, not the corpus. At
    100 TB you would key grams by a 128-bit hash instead of the string
    (same plan, smaller shuffle); the string key keeps the oracle exact
    here.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.filter(
                F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
                lambda x: x != F.lit(""),
            )
        ).alias("p", "w"),
    )
    tarr = df.select(
        F.col(id_col).alias("id"),
        F.filter(
            F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
            lambda x: x != F.lit(""),
        ).alias("t"),
    )
    grams = tarr.filter(F.size("t") >= k).select(
        "id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(t) - {k}),"
                f" s -> array_join(slice(t, s + 1, {k}), ' '))"
            )
        ).alias("s", "g"),
    )
    win = grams.groupBy("g").agg(F.min(F.struct("id", "s")).alias("w"))
    losing = (
        grams.join(win, "g")
        .filter((F.col("w.id") != F.col("id")) | (F.col("w.s") != F.col("s")))
        .select("id", "s")
    )
    covered = losing.select(
        "id", F.explode(F.sequence(F.col("s"), F.col("s") + F.lit(k - 1))).alias("p")
    ).distinct()
    kept = toks.join(covered, ["id", "p"], "left_anti")
    return (
        kept.groupBy("id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "w"))),
                    lambda x: x["w"],
                ),
            ).alias("txt")
        )
        .select(F.col("id").alias(id_col), F.col("txt").alias(text_col))
    )
