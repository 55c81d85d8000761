"""ANN: exact top-k vs numpy oracle; LSH recall floor; multimodal plumbing."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from dataflow_spark.operators.similarity import (
    ann_topk_bruteforce,
    ann_topk_ivf,
    ann_topk_lsh,
)


def _toy_embeddings(spark, n=120, dim=24, seed=2):
    rng = np.random.RandomState(seed)
    mat = rng.normal(size=(n, dim))
    pdf = pd.DataFrame({"vec_id": np.arange(n, dtype="int64"), "embedding": list(map(list, mat))})
    return spark.createDataFrame(pdf), mat


def _numpy_topk(mat, qids, k):
    sims = mat @ mat.T
    norms = np.linalg.norm(mat, axis=1)
    cos = sims / np.outer(norms, norms)
    out = {}
    for q in qids:
        order = sorted(
            ((round(cos[q, j], 6), -j) for j in range(len(mat)) if j != q), reverse=True
        )
        out[q] = [(-j, s) for s, j in order[:k]]
    return out


def test_bruteforce_matches_numpy(spark):
    df, mat = _toy_embeddings(spark)
    qids = list(range(8))
    got = ann_topk_bruteforce(df, df.filter(F.col("vec_id") < 8), k=5).toPandas()
    oracle = _numpy_topk(mat, qids, 5)
    for q in qids:
        g = got[got.query_id == q].sort_values("rank")
        assert [int(x) for x in g.neighbor_id] == [j for j, _ in oracle[q]]
        assert np.allclose(g.cos_sim.tolist(), [s for _, s in oracle[q]], atol=2e-6)


def test_lsh_recall_floor(spark):
    df, mat = _toy_embeddings(spark, n=200)
    q = df.filter(F.col("vec_id") < 10)
    exact = ann_topk_bruteforce(df, q, k=5).toPandas()
    approx = ann_topk_lsh(df, q, k=5, n_tables=6, n_planes=8).toPandas()
    e = set(map(tuple, exact[["query_id", "neighbor_id"]].values))
    a = set(map(tuple, approx[["query_id", "neighbor_id"]].values))
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_ivf_recall_and_determinism(spark):
    """IVF coarse-quantized ANN: candidate lists come only from probed
    cells (recall < 1 possible but must stay useful), ranks are contiguous
    per query, and the deterministic k-means makes two runs bit-identical."""
    df, mat = _toy_embeddings(spark, n=200)
    q = df.filter(F.col("vec_id") < 10)
    exact = ann_topk_bruteforce(df, q, k=5).toPandas()
    a1 = ann_topk_ivf(df, q, k=5, n_centroids=8, n_probe=3).toPandas()
    a2 = ann_topk_ivf(df, q, k=5, n_centroids=8, n_probe=3).toPandas()
    key = ["query_id", "neighbor_id", "cos_sim", "rank"]
    assert sorted(map(tuple, a1[key].values.tolist())) == sorted(
        map(tuple, a2[key].values.tolist())
    )
    e = set(map(tuple, exact[["query_id", "neighbor_id"]].values))
    a = set(map(tuple, a1[["query_id", "neighbor_id"]].values))
    assert len(e & a) / len(e) >= 0.5, "IVF recall too low"
    for qid, grp in a1.groupby("query_id"):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))
    # quantized cosine tracks the true cosine closely (scale 1e4 ⇒ ~1e-4)
    merged = a1.merge(
        exact, on=["query_id", "neighbor_id"], suffixes=("_ivf", "_exact")
    )
    assert not merged.empty
    assert np.allclose(merged.cos_sim_ivf, merged.cos_sim_exact, atol=5e-3)


def test_multimodal_plumbing(spark):
    from dataflow_spark.operators.multimodal import extract_features, synth_assets

    out = extract_features(synth_assets(spark, n=12)).toPandas()
    assert len(out) == 12
    assert set(out.modality) == {"image", "audio", "video"}
    assert (out.n_bytes > 0).all()
    assert out.feature.map(len).eq(8).all()
    # deterministic: same payload → same sha/feature
    out2 = extract_features(synth_assets(spark, n=12)).toPandas()
    assert out.content_sha.tolist() == out2.content_sha.tolist()


def test_multimodal_unknown_modality_raises(spark):
    import pandas as pd
    import pytest

    from dataflow_spark.operators.multimodal import extract_features

    pdf = pd.DataFrame(
        {"asset_id": [0], "modality": ["hologram"], "payload": [b"x"]}
    )
    df = spark.createDataFrame(pdf)
    with pytest.raises(Exception, match="hologram|PythonException"):
        extract_features(df).collect()


def test_ivf_train_fraction(spark):
    """train_fraction: k-means trains on the deterministic md5 half-sample
    (init + every Lloyd iteration see only sampled rows), assignment stays
    corpus-wide — results remain deterministic and recall stays useful."""
    from dataflow_spark.operators.sampling import sample_hash_fraction
    from dataflow_spark.operators.similarity import ivf_train, quantize_vec

    df, mat = _toy_embeddings(spark, n=200)
    q = df.filter(F.col("vec_id") < 10)
    a1 = ann_topk_ivf(df, q, k=5, n_centroids=8, n_probe=3, train_fraction=0.5).toPandas()
    a2 = ann_topk_ivf(df, q, k=5, n_centroids=8, n_probe=3, train_fraction=0.5).toPandas()
    key = ["query_id", "neighbor_id", "cos_sim", "rank"]
    assert sorted(map(tuple, a1[key].values.tolist())) == sorted(
        map(tuple, a2[key].values.tolist())
    )
    exact = ann_topk_bruteforce(df, q, k=5).toPandas()
    e = set(map(tuple, exact[["query_id", "neighbor_id"]].values))
    a = set(map(tuple, a1[["query_id", "neighbor_id"]].values))
    assert len(e & a) / len(e) >= 0.5, "sampled-train IVF recall too low"

    # the sample genuinely drives training: centroids from the half-sample
    # equal centroids trained on the explicitly-sampled corpus, and the
    # sample is a strict subset
    ci = df.select(F.col("vec_id").alias("id"), quantize_vec("embedding").alias("v"))
    sampled = sample_hash_fraction(ci, ["id"], 0.5, seed="ivf")
    n_s, n_f = sampled.count(), ci.count()
    assert 0 < n_s < n_f
    c_frac = ivf_train(ci, "id", "v", n_centroids=8, train_fraction=0.5)
    c_explicit = ivf_train(sampled, "id", "v", n_centroids=8)
    assert c_frac == c_explicit


def test_semdedup_kmeans_semantics(spark):
    """SemDeDup: exact clones always drop (same vector -> same cluster,
    cos 1.0), originals always survive vs their own clones (first-wins by
    id), every drop is justified by a lower-id same-cluster member at
    >= threshold (numpy cross-check on the quantized integers), and the
    keep-set is partition-layout invariant."""
    from dataflow_spark.operators.similarity import semdedup_kmeans

    df, mat = _toy_embeddings(spark, n=90, dim=24, seed=5)
    clones = df.filter(F.col("vec_id") < 12).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    aug = df.unionByName(clones)

    out = semdedup_kmeans(aug, threshold=0.95, n_centroids=4, iters=2)
    kept = {r["vec_id"]: r["cid"] for r in out.collect()}
    assert all(i in kept for i in range(90))          # originals survive
    assert all(1000 + i not in kept for i in range(12))  # clones drop

    # numpy justification of every drop, over the SAME quantized ints
    rows = {
        r["vec_id"]: (np.array(r["v"], dtype="int64"), r["cid"])
        for r in aug.select(
            "vec_id",
            F.transform(F.col("embedding").cast("array<double>"),
                        lambda x: F.round(x * 10000).cast("long")).alias("v"),
        ).join(
            semdedup_kmeans(aug, threshold=2.0, n_centroids=4, iters=2)
            .withColumnRenamed("cid", "cid2"),
            "vec_id",
        ).selectExpr("vec_id", "v", "cid2 as cid").collect()
    }
    all_ids = sorted(rows)
    for i in all_ids:
        if i in kept:
            continue
        vi, ci = rows[i]
        just = False
        for j in all_ids:
            if j >= i or rows[j][1] != ci:
                continue
            vj = rows[j][0]
            cos = float(vi @ vj) / (
                np.sqrt(float(vi @ vi)) * np.sqrt(float(vj @ vj))
            )
            if cos >= 0.95:
                just = True
                break
        assert just, f"unjustified drop {i}"

    re_out = semdedup_kmeans(
        aug.repartition(17), threshold=0.95, n_centroids=4, iters=2
    )
    assert sorted((r["vec_id"], r["cid"]) for r in re_out.collect()) == sorted(
        kept.items()
    )


def test_r8_local_lloyd_matches_distributed(spark, monkeypatch):
    """r8 optimization pin: the driver-local numpy Lloyd replay
    (``_lloyd_local``) and the Arrow assignment map
    (``_assign_cells_udf``) are bit-identical to the distributed
    explode/agg path they replaced — centroids AND per-row cids."""
    from dataflow_spark.operators import similarity as S
    from dataflow_spark.operators.similarity import (
        _assign_cells,
        _assign_cells_udf,
        ivf_train,
        quantize_vec,
    )

    df, _ = _toy_embeddings(spark, n=180, dim=16, seed=5)
    ci = df.select(F.col("vec_id").alias("id"), quantize_vec("embedding").alias("v"))
    for frac in (None, 0.5):
        c_local = ivf_train(ci, "id", "v", n_centroids=6, iters=2,
                            train_fraction=frac)
        with monkeypatch.context() as m:  # cap 0: the distributed loop
            m.setattr(S, "IVF_LOCAL_MAX_TRAIN_ROWS", 0)
            c_dist = ivf_train(ci, "id", "v", n_centroids=6, iters=2,
                               train_fraction=frac)
        assert c_local == c_dist
        a_sql = (
            _assign_cells(ci, "id", "v", c_local).toPandas()
            .sort_values("id").reset_index(drop=True)
        )
        a_udf = (
            ci.select("id", _assign_cells_udf(c_local)(F.col("v")).alias("cid"))
            .toPandas().sort_values("id").reset_index(drop=True)
        )
        assert a_sql.cid.tolist() == a_udf.cid.tolist()


def test_r8_semdedup_kernel_matches_pairwise_sql(spark):
    """r8 optimization pin: the grouped Arrow SemDeDup keep kernel equals
    the pairwise SQL self-join + anti-join it replaced (with planted
    exact and perturbed clones so the drop rule actually fires)."""
    from dataflow_spark.operators.similarity import (
        _assign_cells_udf,
        _int_dot,
        ivf_train,
        quantize_vec,
        semdedup_kmeans,
    )

    df, _ = _toy_embeddings(spark, n=150, dim=16, seed=7)
    clones = df.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    aug = df.unionByName(clones)
    got = (
        semdedup_kmeans(aug, threshold=0.95, n_centroids=5)
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    # reference: the pre-r8 pairwise SQL formulation, inlined
    ci = aug.select(F.col("vec_id").alias("id"), quantize_vec("embedding").alias("v"))
    cents = ivf_train(ci, "id", "v", n_centroids=5, iters=2)
    tagged = ci.select("id", "v", _assign_cells_udf(cents)(F.col("v")).alias("cid"))
    a = tagged.select(F.col("id").alias("a_id"), F.col("v").alias("av"), "cid")
    b = tagged.select(F.col("id").alias("b_id"), F.col("v").alias("bv"), "cid")
    cos = _int_dot("av", "bv").cast("double") / (
        F.sqrt(_int_dot("av", "av").cast("double"))
        * F.sqrt(_int_dot("bv", "bv").cast("double"))
    )
    drops = (
        a.join(b, "cid")
        .filter(F.col("b_id") < F.col("a_id"))
        .filter(cos >= F.lit(0.95))
        .select(F.col("a_id").alias("id"))
        .distinct()
    )
    exp = (
        tagged.join(drops, "id", "left_anti")
        .select(F.col("id").alias("vec_id"), "cid")
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    assert len(got) < aug.count()  # the rule fired
    assert got.vec_id.tolist() == exp.vec_id.tolist()
    assert got.cid.tolist() == exp.cid.tolist()
