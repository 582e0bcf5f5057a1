"""k-means IVF quantizer, multi-probe ANN, SimHash pairing (round-3
similarity/dedup additions)."""

import pytest
from pyspark.sql import functions as F

from datalakehouse_spark.io import load_table
from datalakehouse_spark.operators import similarity as S
from datalakehouse_spark.operators.dedup import simhash_df, simhash_near_dup_pairs

SF = "/root/testdata/sf0.001"


def _sse(spark, emb, assign):
    """Within-cluster sum of squared distances to the cluster mean."""
    j = emb.join(assign, "vec_id").select("cluster", S._dvec("embedding").alias("v"))
    exploded = j.select("cluster", F.posexplode("v").alias("pos", "x"))
    cent = exploded.groupBy("cluster", "pos").agg(F.avg("x").alias("c"))
    return (
        exploded.join(cent, ["cluster", "pos"])
        .select(((F.col("x") - F.col("c")) ** 2).alias("d"))
        .agg(F.sum("d"))
        .first()[0]
    )


def test_kmeans_sse_non_increasing(spark):
    """Lloyd guarantee: each assign-to-nearest-centroid step cannot
    increase the within-cluster SSE of the NEXT mean computation."""
    emb = load_table(spark, SF, "embeddings")
    sses = []
    for iters in (0, 1, 2, 3):
        assign, _ = S.kmeans_clusters(emb, k=4, iters=iters)
        sses.append(_sse(spark, emb, assign))
    assert all(b <= a + 1e-6 for a, b in zip(sses, sses[1:])), sses


def test_kmeans_deterministic_and_total(spark):
    emb = load_table(spark, SF, "embeddings")
    a1, c1 = S.kmeans_clusters(emb, k=4, iters=2)
    a2, c2 = S.kmeans_clusters(emb, k=4, iters=2)
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))
    assert c1 == c2
    # every vector assigned exactly once, clusters within range
    n = emb.count()
    assert a1.count() == n
    assert a1.select("vec_id").distinct().count() == n
    assert a1.where((F.col("cluster") < 0) | (F.col("cluster") >= 4)).count() == 0


def test_ivf_kmeans_probe_subset_of_exact(spark, tmp_path):
    """IVF results are drawn from the probed clusters and scored with
    the same cosine as the exact path: every IVF hit appearing in the
    exact top-k must carry the identical score."""
    emb = load_table(spark, SF, "embeddings")
    q = list(emb.where(F.col("vec_id") == 0).first().embedding)
    exact = {r.vec_id: r.cosine_sim for r in S.knn_brute_force(emb, q, k=50).collect()}
    path = str(tmp_path / "ivf")
    cent_rows = S.build_ivf_index(emb, path)
    ivf = S.ivf_search_indexed(spark, path, cent_rows, q, k=10, n_probe=2).collect()
    assert 0 < len(ivf) <= 10
    for r in ivf:
        if r.vec_id in exact:
            assert r.cosine_sim == exact[r.vec_id]


def test_hamming_ball_probes():
    probes = S.hamming_ball_probes(0b1010, n_planes=4, radius=1)
    assert probes == sorted({0b1010, 0b1011, 0b1000, 0b1110, 0b0010})
    assert S.hamming_ball_probes(0, n_planes=8, radius=1) == sorted(
        {0} | {1 << p for p in range(8)}
    )
    # radius 2 over 4 planes: C(4,0)+C(4,1)+C(4,2) = 11 buckets
    assert len(S.hamming_ball_probes(7, n_planes=4, radius=2)) == 11


def test_multiprobe_recall_at_least_single_probe(spark):
    """Multi-probe candidate set strictly contains the single-probe
    bucket, so recall can only improve."""
    emb = load_table(spark, SF, "embeddings")
    b = emb.withColumn("bucket", S.hyperplane_lsh_bucket("embedding"))
    qrow = b.where(F.col("vec_id") == 0).first()
    single = {r.vec_id for r in b.where(F.col("bucket") == qrow.bucket).collect()}
    probes = S.hamming_ball_probes(qrow.bucket, n_planes=8, radius=1)
    multi = {r.vec_id for r in b.where(F.col("bucket").isin(probes)).collect()}
    assert qrow.bucket in probes
    assert single <= multi


def test_simhash_pairs_equal_quadratic_scan(spark):
    """Pigeonhole exhaustiveness: block-bucket candidates + popcount
    filter == the full O(n^2) scan at max_hamming = n_blocks - 1."""
    docs = load_table(spark, SF, "documents")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_dup_pairs(docs).collect()
    }
    sigs = {r.doc_id: r.simhash for r in simhash_df(docs).collect()}
    want = set()
    ids = sorted(sigs)
    mask64 = (1 << 64) - 1  # sigs are SIGNED 64-bit; popcount on two's complement
    for i, a in enumerate(ids):
        for b2 in ids[i + 1 :]:
            h = bin((sigs[a] ^ sigs[b2]) & mask64).count("1")
            if h <= 3:
                want.add((a, b2, h))
    assert got == want
    assert want, "fixture should contain at least one near-dup pair"


def test_simhash_pairs_bucket_cap(spark):
    """A degenerate corpus (identical text) saturates every block
    bucket.  Round 5: the default hot-bucket policy is SALT — over-cap
    buckets split into bounded sub-joins with recall equal to the
    uncapped join; "drop" remains the bound-total-work escape hatch."""
    docs = spark.createDataFrame(
        [(i, "same text everywhere for everyone") for i in range(100)],
        "doc_id long, text string",
    )
    full = 100 * 99 // 2
    assert simhash_near_dup_pairs(docs, max_bucket_size=None).count() == full
    assert simhash_near_dup_pairs(docs, max_bucket_size=10).count() == full
    assert (
        simhash_near_dup_pairs(docs, max_bucket_size=10, hot_bucket="drop").count() == 0
    )


def test_multi_group_lloyd_matches_single_group_runs(spark):
    """One ``_lloyd`` run trains the coarse k=8 quantizer and the four
    PQ subspace codebooks together (one aggregate and one collect per
    iteration); each group's centroids are those of that group trained
    alone, which takes the plain-projection path."""
    emb = load_table(spark, SF, "embeddings")
    base, dim = S._corpus(emb, "vec_id", "embedding")
    sub = dim // 4
    groups = [(8, slice(0, dim))] + [(16, slice(s * sub, (s + 1) * sub)) for s in range(4)]
    fused = S._lloyd(base, groups, 2)
    assert len(fused) == len(groups)
    for group, (_, cents) in zip(groups, fused):
        [(_, alone)] = S._lloyd(base, [group], 2)
        assert cents and cents == alone


def test_build_ivfpq_fused_matches_sequential_training(spark, tmp_path):
    """``build_ivfpq_index`` writes codes and cluster from ONE
    literal-model projection of the trained models; its rows equal the
    sequential composition: ``pq_encode`` joined with the
    ``kmeans_clusters`` assignment."""
    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "ivfpq")
    assign, coarse = S.kmeans_clusters(emb, k=8, iters=2)
    books, sub = S.pq_codebooks(emb, m=4, codes=16, iters=2)
    S.build_ivfpq_index(emb, path, coarse, books, sub)
    idx = spark.read.parquet(path)
    composed = S.pq_encode(emb, books, sub).join(assign, "vec_id")
    got = sorted(
        (r["vec_id"], r["code_0"], r["code_1"], r["code_2"], r["code_3"], int(r["cluster"]))
        for r in idx.collect()
    )
    want = sorted(
        (r["vec_id"], r["code_0"], r["code_1"], r["code_2"], r["code_3"], int(r["cluster"]))
        for r in composed.collect()
    )
    assert got == want
    # serving still composes: partition-pruned probe + ADC over codes
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    hits = S.ivfpq_search(
        spark, path, coarse, books, sub, qv, k=5, n_probe=2, exclude_id=0
    ).collect()
    assert len(hits) == 5


@pytest.mark.parametrize(
    "train, iters",
    [
        (lambda emb: S.kmeans_clusters(emb, k=8, iters=3), 3),
        (lambda emb: S.pq_codebooks(emb, m=4, codes=16, iters=2), 2),
    ],
    ids=["kmeans_k8_iters3", "pq_m4_iters2"],
)
def test_cold_lloyd_build_runs_one_collect_per_iteration(spark, last_job_id, train, iters):
    """A cold build runs the dim probe plus ONE collect per Lloyd
    iteration, however many models the loop trains (one k-means, or m
    codebooks).  With AQE on, each iteration's collect is two Spark
    jobs: the aggregate's shuffle-map stage, then the result stage."""
    emb = load_table(spark, SF, "embeddings")
    emb.count()  # warm the scan: load_table's schema read is not the build's
    before = last_job_id()
    train(emb)
    assert last_job_id() - before == 1 + 2 * iters
