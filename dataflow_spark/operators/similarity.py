"""Similarity search over embedding columns (array<float/double>).

Two paths, per the engine's scale doctrine:

* ``ann_topk_bruteforce`` — exact top-k by cosine. The query side is small
  and gets broadcast; the corpus side streams through a single
  whole-stage-codegen stage (zip_with/aggregate dot products — no Python).
  This is the correctness baseline and is already the right plan when
  |queries| is small (broadcast join = no shuffle of the 100-TB corpus).
* ``ann_topk_lsh`` — random-hyperplane LSH bucketing: corpus and queries
  hash to sign-pattern buckets (multi-table + multi-probe by Hamming-1
  neighbors); cosine is evaluated only inside matching buckets. Same
  output schema; recall < 1.0 by construction. At scale the bucket join
  shuffles only bucket keys + vectors, and AQE handles bucket skew.
* ``ann_topk_ivf`` — IVF (inverted-file) coarse quantizer: a deterministic
  k-means over micro-unit-QUANTIZED integer vectors partitions the corpus
  into centroid cells; each query probes its ``n_probe`` nearest cells and
  scores candidates exactly. Everything is JVM-native Catalyst (integer
  zip_with/aggregate dot products — no Python anywhere), every
  intermediate is an exact integer or an IEEE op on exact integers, so the
  whole pipeline — Lloyd iterations included — is bit-reproducible across
  engines and has an exact DuckDB oracle. At 100 TB the train loop runs on
  a sample, the cell tag is one narrow column, and the probe join shuffles
  only ``n_probe/n_centroids`` of the corpus per query batch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from dataflow_spark.functions.sparkutil import driver_sized


def _dot(a: str, b: str):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(col: str):
    return F.sqrt(
        F.aggregate(F.transform(col, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def ann_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cos_sim, rank).

    Excludes self-matches (same id). Ties broken by neighbor id asc —
    deterministic output for hash comparison.
    """
    # norms are hoisted into the per-ROW projections (r8): the naive
    # form re-evaluates the interpreted aggregate-over-array norm of
    # both sides once per PAIR (|corpus| x |queries| times); computing
    # each norm once per row and multiplying inside the pair leaves the
    # identical IEEE op sequence — sqrt(agg(q)) * sqrt(agg(c)), one
    # divide — so cos_sim is bit-identical.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", _norm("qv"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cn", _norm("cv"))
    joined = c.crossJoin(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id"))
    sim = _dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    scored = joined.withColumn("cos_sim", sim).drop("qn", "cn")
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )
    if round_to is not None:
        out = out.withColumn("cos_sim", F.round("cos_sim", round_to))
    return out


def _hyperplanes(n_tables: int, n_planes: int, dim: int, seed: int) -> np.ndarray:
    """md5-arithmetic hyperplane family (not an RNG): component j of plane
    (t, p) is ``int(md5(f"plane:{seed}:{t}:{p}:{j}")[:8], 16) / 2^31 - 1``
    — uniform in [-1, 1), deterministic, identical across executors, and
    SQL-replayable, so the bucket assignment (and hence the whole
    ann_topk_lsh output) can be verified by a DuckDB oracle."""
    import hashlib

    arr = np.empty((n_tables, n_planes, dim))
    for t in range(n_tables):
        for p in range(n_planes):
            for j in range(dim):
                h = int(
                    hashlib.md5(
                        f"plane:{seed}:{t}:{p}:{j}".encode("utf-8")
                    ).hexdigest()[:8],
                    16,
                )
                arr[t, p, j] = h / 2147483648.0 - 1.0
    return arr


def _bucket_udf(planes: np.ndarray, multiprobe: bool):
    n_tables, n_planes, _ = planes.shape

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _udf(vs: pd.Series) -> pd.Series:
        mat = np.vstack(vs.values).astype(np.float64)
        out = []
        signs = [mat @ planes[t].T > 0 for t in range(n_tables)]
        for i in range(mat.shape[0]):
            ks = []
            for t in range(n_tables):
                bits = signs[t][i]
                code = int("".join("1" if x else "0" for x in bits), 2)
                ks.append(f"{t}:{code}")
                if multiprobe:  # Hamming-1 probes widen recall cheaply
                    for j in range(n_planes):
                        ks.append(f"{t}:{code ^ (1 << j)}")
            out.append(ks)
        return pd.Series(out)

    return _udf


# ------------------------------------------------------------------- IVF

def _int_dot(a, b):
    """Exact integer dot product of two array<long> columns (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def quantize_vec(col, scale: int = 10_000):
    """array<float> → array<long> micro-unit quantization (half-up round,
    identical in Spark and DuckDB). With |x| ≤ ~1 and 64 dims, every dot
    product / squared norm downstream stays far below 2^53, so doubles
    derived from these integers are exact in BOTH engines — the key to a
    bit-reproducible k-means."""
    return F.transform(
        F.col(col).cast("array<double>"),
        lambda x: F.round(x * scale).cast("long"),
    )


def _cent_score(vec_col, sum_col):
    """cos(v, centroid-mean) up to the per-row constant ||v||:
    dot(v, sum_c) / ||sum_c|| — exact ints into two IEEE ops, so argmax
    ties and order are identical across engines."""
    return _int_dot(vec_col, sum_col).cast("double") / F.sqrt(
        _int_dot(sum_col, sum_col).cast("double")
    )


def _cent_literal(cents: list[list[int]]):
    # sv MUST be array<long>: int literals would make zip_with multiply in
    # 32-bit and overflow (ANSI throws) on squared centroid sums
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("cid"),
                F.array(*[F.lit(int(v)) for v in c]).cast("array<long>").alias("sv"),
            )
            for i, c in enumerate(cents)
        ]
    )


def _assign_cells(df: DataFrame, id_col: str, vec_col: str, cents: list[list[int]]) -> DataFrame:
    """DataFrame[id, cid]: nearest centroid by cosine-to-mean, ties to the
    lowest cid (max_by over (score, -cid) — deterministic)."""
    e = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        F.explode(_cent_literal(cents)).alias("c"),
    )
    score = _cent_score("v", "c.sv")
    return e.groupBy("id").agg(
        F.max_by(
            F.col("c.cid"), F.struct(score.alias("s"), (-F.col("c.cid")).alias("nc"))
        ).alias("cid")
    )


# Above this many (sampled) training rows the train set no longer counts
# as driver-sized and ivf_train keeps the distributed Lloyd loop. The
# 100-TB lever is train_fraction — the paper-shaped sample is chosen to be
# exactly the thing that fits one machine, so real runs sit below this.
IVF_LOCAL_MAX_TRAIN_ROWS = 200_000


def _lloyd_local(
    ids, vecs, n_centroids: int, iters: int
) -> list[list[int]]:
    """Driver-local numpy replay of the distributed Lloyd loop below —
    bit-identical by construction (pytest-pinned against the distributed
    path): int64 matmuls are exact (quantize_vec bounds every dot <
    2^53), long→double conversion / divide / sqrt are the same single
    IEEE ops the JVM executes, and ``np.argmax`` breaks score ties on
    the first (lowest) cid exactly like ``max_by((s, -cid))``. Init =
    the ``n_centroids`` vectors with the smallest ids, like
    ``orderBy(id).limit(n)``."""
    order = np.argsort(np.asarray(ids), kind="stable")
    v = np.asarray([vecs[i] for i in order], dtype=np.int64)
    cents = v[:n_centroids].copy()
    for _ in range(iters):
        num = (v @ cents.T).astype(np.float64)
        den = np.sqrt(np.einsum("ij,ij->i", cents, cents).astype(np.float64))
        cid = np.argmax(num / den[None, :], axis=1)
        nxt = cents.copy()
        for c in range(n_centroids):
            m = cid == c
            if m.any():
                nxt[c] = v[m].sum(axis=0)  # exact int64, order-free
        cents = nxt
    return [[int(x) for x in row] for row in cents]


def _assign_cells_udf(cents: list[list[int]]):
    """Arrow-batched twin of ``_assign_cells``: vec → nearest cid, same
    arithmetic (int64 matmul exact, one double divide per (row,
    centroid), argmax ties to the lowest cid). Removes the explode(×k)
    shuffle AND the assignment join from the corpus path — tagging
    becomes one narrow map (the 100-TB shape: the corpus is touched
    once, nothing wide ever shuffles). Bit-identity with the SQL path is
    pytest-pinned."""
    c = np.asarray(cents, dtype=np.int64)
    den = np.sqrt(np.einsum("ij,ij->i", c, c).astype(np.float64))

    @F.pandas_udf(T.IntegerType())
    def _udf(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype="int32")
        v = np.vstack(vs.to_numpy()).astype(np.int64)
        s = (v @ c.T).astype(np.float64) / den[None, :]
        return pd.Series(np.argmax(s, axis=1).astype(np.int32))

    return _udf


def ivf_train(
    int_corpus: DataFrame,
    id_col: str = "id",
    vec_col: str = "iv",
    n_centroids: int = 8,
    iters: int = 2,
    train_fraction: float | None = None,
    sample_seed: str = "ivf",
) -> list[list[int]]:
    """Deterministic Lloyd's k-means over quantized integer vectors.

    Init = the ``n_centroids`` vectors with the smallest ids (cid in id
    order); each iteration reassigns all rows (one codegen'd explode/agg
    job) and rebuilds every centroid as the exact element-wise INTEGER SUM
    of its members (posexplode + groupBy(cid, pos) — order-independent,
    hence replay- and engine-independent; the mean's scale factor cancels
    in the cosine score so sums never need dividing). A centroid that
    loses all members keeps its previous sum. Only n_centroids × dim longs
    ever reach the driver.

    ``train_fraction`` is the 100-TB lever: a deterministic md5-hash
    Bernoulli sample (operators/sampling.py — retry/layout-stable,
    SQL-replayable) of the corpus feeds BOTH the init and every Lloyd
    iteration, so training cost scales with the sample while assignment
    semantics over the full corpus are unchanged.

    r8: when the (sampled) train set is driver-sized (``driver_sized``
    against ``IVF_LOCAL_MAX_TRAIN_ROWS``), the whole Lloyd loop runs
    driver-local in numpy (``_lloyd_local`` — bit-identical replay,
    pytest-pinned): ONE bounded collect instead of 1 + 2·iters
    driver-coordinated jobs. Above the cap the distributed loop below
    runs unchanged."""
    train = int_corpus.select(id_col, vec_col)
    if train_fraction is not None:
        from dataflow_spark.operators.sampling import sample_hash_fraction

        train = sample_hash_fraction(train, [id_col], train_fraction, seed=sample_seed)
    rows = driver_sized(train, IVF_LOCAL_MAX_TRAIN_ROWS)
    if rows is not None:
        return _lloyd_local(
            [r[id_col] for r in rows],
            [list(r[vec_col]) for r in rows],
            n_centroids,
            iters,
        )
    # distributed fallback: materialize the train set once — every Lloyd
    # iteration re-reads it (callers no longer pre-checkpoint)
    train = train.localCheckpoint()
    init = train.orderBy(id_col).limit(n_centroids).collect()
    cents = [list(r[vec_col]) for r in init]
    dim = len(cents[0])
    for _ in range(iters):
        assigned = _assign_cells(train, id_col, vec_col, cents)
        sums = (
            train.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
            .join(assigned, "id")
            .select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.sum("val").alias("s"))
            .collect()
        )
        acc: dict[int, dict[int, int]] = {}
        for r in sums:
            acc.setdefault(r["cid"], {})[r["pos"]] = r["s"]
        cents = [
            [acc[c][p] for p in range(dim)] if c in acc else cents[c]
            for c in range(len(cents))
        ]
    return cents


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    iters: int = 2,
    n_probe: int = 2,
    scale: int = 10_000,
    round_to: int | None = 6,
    train_fraction: float | None = None,
) -> DataFrame:
    """IVF approximate cosine top-k. Output schema matches
    ann_topk_bruteforce; recall < 1.0 by construction (a true neighbor in
    an unprobed cell is missed). Cosine here is over the QUANTIZED
    vectors — the operator defines its arithmetic, and that definition is
    exactly replayable in SQL (every intermediate is an exact integer or
    an IEEE op on exact integers). At scale: train on a sample, tag the
    corpus once (narrow int column), and each query batch joins only its
    n_probe cells — n_probe/n_centroids of the corpus instead of all of
    it, with AQE absorbing cell skew.

    r8 plan shape: training dispatches to the driver-local Lloyd replay
    when the sample is driver-sized (ivf_train), and corpus tagging is
    the Arrow assignment map (``_assign_cells_udf``) instead of
    explode(×k) → groupBy → join — the corpus path is now scan → map →
    one probe join, zero assignment shuffles. Values are pinned
    identical to the SQL assignment path by pytest."""
    ci = corpus.select(
        F.col(id_col).alias("id"), quantize_vec(vec_col, scale).alias("v")
    )
    cents = ivf_train(
        ci, "id", "v", n_centroids=n_centroids, iters=iters,
        train_fraction=train_fraction,
    )

    tagged = ci.select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("cv"),
        _assign_cells_udf(cents)(F.col("v")).alias("cid"),
        F.sqrt(_int_dot("v", "v").cast("double")).alias("cn"),
    )
    qi = queries.select(
        F.col(id_col).alias("query_id"), quantize_vec(vec_col, scale).alias("qv")
    )
    qe = qi.select(
        "query_id", "qv", F.explode(_cent_literal(cents)).alias("c")
    ).withColumn("s", _cent_score("qv", "c.sv"))
    wq = Window.partitionBy("query_id").orderBy(F.desc("s"), F.asc("c.cid"))
    qprobe = (
        qe.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select(
            "query_id", "qv", F.col("c.cid").alias("cid"),
            F.sqrt(_int_dot("qv", "qv").cast("double")).alias("qn"),
        )
    )
    cand = tagged.join(qprobe, "cid").filter(F.col("neighbor_id") != F.col("query_id"))
    # per-row norms hoisted below the join (r8): sqrt(int_dot) was being
    # re-evaluated once per CANDIDATE PAIR; same IEEE ops, same values
    cos = _int_dot("qv", "cv").cast("double") / (F.col("qn") * F.col("cn"))
    scored = cand.withColumn("cos_sim", cos).drop("qn", "cn")
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )
    if round_to is not None:
        out = out.withColumn("cos_sim", F.round("cos_sim", round_to))
    return out


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 4,
    n_planes: int = 10,
    seed: int = 13,
    round_to: int | None = 6,
    dim: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via sign-LSH buckets (multi-probe on the
    query side only). Output schema matches ann_topk_bruteforce. Pass
    ``dim`` — the fallback probe launches an extra driver job per call.

    Cross-engine caveat: bucket bits are signs of float64 dot products;
    a projection within ~1e-15 of zero could flip between numpy and a SQL
    replay (summation order). Real vectors keep projections far from
    zero; the integer-exact formulation lives in dedup_embedding_cosine.
    """
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    planes = _hyperplanes(n_tables, n_planes, dim, seed)
    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
        F.explode(_bucket_udf(planes, multiprobe=False)(F.col(vec_col))).alias("bk"),
    )
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        F.explode(_bucket_udf(planes, multiprobe=True)(F.col(vec_col))).alias("bk"),
    )
    cand = (
        cb.join(qb, "bk")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "qv", "cv")
        .distinct()
    )
    sim = _dot("qv", "cv") / (_norm("qv") * _norm("cv"))
    scored = cand.withColumn("cos_sim", sim)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )
    if round_to is not None:
        out = out.withColumn("cos_sim", F.round("cos_sim", round_to))
    return out


def semdedup_kmeans(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int = 8,
    iters: int = 2,
    scale: int = 10_000,
    train_fraction: float | None = None,
    sample_seed: str = "semdedup",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540; the reference's
    embedding near-dedup family, sem_deduplicator.py:63-161): k-means
    cluster the embedding space, then within each cluster drop every item
    whose cosine similarity to a LOWER-ID cluster member reaches the
    threshold. Returns the kept ``(id, cid)`` rows.

    The paper's design point is exactly this cost shape: candidate pairs
    are confined to clusters, so pair volume is sum(c_i^2) over cluster
    sizes instead of n^2 — at 100 TB you raise ``n_centroids`` to keep
    clusters bounded and train on a ``train_fraction`` sample; the corpus
    then sees one assignment pass (explode over a broadcast centroid
    literal + max_by), one self-join per cluster (AQE absorbs cluster
    skew), and one broadcast anti-join. Clustering reuses ``ivf_train``'s
    deterministic integer Lloyd iterations, so every decision — centroid
    sums, assignments, and the cosine test (two IEEE ops on exact
    integers < 2^53) — is bit-reproducible across engines and replayed
    exactly by the DuckDB oracle. Differences from
    ``dedup_embedding_cosine`` (the LSH-bucketed variant): candidates
    come from trained clusters rather than sign-LSH bands, and the drop
    rule is one-shot (similar to ANY earlier member, kept or not) rather
    than the greedy kept-only scan — a single join instead of a
    sequential per-component pass, at the cost of occasionally dropping a
    chain member the greedy scan would keep. Near-dup pairs split across
    clusters are missed — the paper's documented recall trade.

    r8 plan shape (values unchanged, oracle-pinned): training dispatches
    to the driver-local Lloyd replay when the sample is driver-sized
    (ivf_train); assignment is the Arrow map (``_assign_cells_udf``)
    instead of explode(×k) → groupBy → join; and the within-cluster
    drop rule runs as ONE grouped Arrow kernel per cluster (blockwise
    int64 Gram matmul — identical IEEE ops to the pairwise SQL dot, see
    ``_semdedup_keep_kernel``) instead of a c²-pair self-join of
    interpreted zip_with/aggregate expressions plus a distinct and an
    anti-join. End to end the corpus sees one scan, one narrow map, and
    one shuffle (the groupBy cid); per-task memory is O(block · c) with
    the documented ``n_centroids`` lever bounding c."""
    ci = corpus.select(
        F.col(id_col).alias("id"), quantize_vec(vec_col, scale).alias("v")
    )
    cents = ivf_train(
        ci, "id", "v", n_centroids=n_centroids, iters=iters,
        train_fraction=train_fraction, sample_seed=sample_seed,
    )
    tagged = ci.select(
        "id", "v", _assign_cells_udf(cents)(F.col("v")).alias("cid")
    )
    kept = tagged.groupBy("cid").applyInPandas(
        _semdedup_keep_kernel(float(threshold)),
        schema="id long, cid int",
    )
    return kept.select(F.col("id").alias(id_col), "cid")


def _semdedup_keep_kernel(threshold: float, block: int = 2048):
    """Per-cluster SemDeDup keep rule as a vectorized kernel: sort the
    cluster by id ascending, then drop row i iff some j < i has
    cos(v_i, v_j) ≥ threshold. The cosine is numerically IDENTICAL to
    the SQL pairwise form it replaces: an exact int64 dot (< 2^53 by
    quantize_vec's bound), one double sqrt per row, one multiply and one
    divide per pair — the same IEEE op sequence the DuckDB oracle
    replays. Gram rows are computed in ``block``-row slabs so per-task
    memory is O(block · c), not O(c²)."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pd.DataFrame({"id": [], "cid": []})
        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        ids = pdf["id"].to_numpy()[order]
        cids = pdf["cid"].to_numpy()[order]
        v = np.vstack(pdf["v"].to_numpy()[order]).astype(np.int64)
        norms = np.sqrt(np.einsum("ij,ij->i", v, v).astype(np.float64))
        n = len(ids)
        drop = np.zeros(n, dtype=bool)
        for lo in range(1, n, block):
            hi = min(lo + block, n)
            g = (v[lo:hi] @ v[:hi].T).astype(np.float64)
            cos = g / (norms[lo:hi, None] * norms[None, :hi])
            hit = cos >= threshold
            # keep only the strictly-lower-triangle comparisons (j < i)
            for r in range(lo, hi):
                hit[r - lo, r:] = False
            drop[lo:hi] = hit.any(axis=1)
        keep = ~drop
        return pd.DataFrame({"id": ids[keep], "cid": cids[keep]})

    return run
