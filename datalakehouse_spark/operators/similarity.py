"""Similarity search over embedding columns (array<float>).

Extension surface for LLM-data pipelines: nearest-neighbor retrieval
over a corpus of embeddings, in four tiers.

- Exact: brute-force cosine top-k (:func:`knn_brute_force`).  All math
  in built-in higher-order functions (zip_with -> aggregate) in DOUBLE
  with a fixed sequential accumulation order — deterministic across
  partitionings and bit-comparable against the DuckDB oracle.
- IVF (inverted file): the corpus is persisted PARTITIONED BY its
  k-means cluster (:func:`build_ivf_index`); a query ranks the k
  centroids driver-side and scans only its n_probe nearest partitions
  (:func:`ivf_search_indexed`).  At 100 TB a query touches
  n_probe/n_clusters of the data; the centroids are a literal table.
- PQ (product quantization): one k-means codebook per contiguous
  subspace (:func:`pq_codebooks`) encodes each vector as m code ids
  (:func:`pq_encode`); serving is ADC over the codes (:func:`pq_adc_topk`).
- IVF-PQ: the PQ codes partitioned by the IVF cluster
  (:func:`build_ivfpq_index`, :func:`ivfpq_search`).

Every model is trained by ONE seeded Lloyd loop, :func:`_lloyd`: it
trains any number of k-means models (a coarse quantizer, each k of an
elbow sweep, each PQ subspace) with one corpus scan, one grouped
aggregate and one collect per iteration, and the DuckDB oracle replays
the same iterations.  No UDFs in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dvec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-order double dot product (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def knn_brute_force(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector.

    Plan shape: narrow map (per-row cosine) -> TakeOrderedAndProject.
    No shuffle; at 100 TB this is a full scan, which is exactly what the
    exact baseline costs — the IVF tier prunes it.
    """
    q = _darray_lit(query_vec)
    scored = embeddings.select(
        F.col(id_col),
        F.round(cosine(_dvec(vec_col), q), 9).alias("cosine_sim"),
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc()).limit(k)


def _dlit_sql(x: float) -> str:
    import math

    x = float(x)
    if math.isfinite(x):
        # repr is shortest-round-trip: the parsed double is bit-identical
        return repr(x) + "D"
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"


def _darray_lit(vals: list[float]) -> Column:
    """``array<double>`` literal via ONE ``F.expr`` parse.  ``F.lit``
    of a Python list makes a py4j round trip per element — measured
    ~0.3 s per 16x16 nested literal, the dominant DRIVER cost of every
    literal-centroid assignment expression (round 16, guide §1.2:
    per-task work includes the driver building the plan)."""
    return F.expr("array(" + ",".join(_dlit_sql(x) for x in vals) + ")")


def _darray2_lit(rows: list[list[float]]) -> Column:
    """``array<array<double>>`` literal via one ``F.expr`` parse."""
    return F.expr(
        "array("
        + ",".join("array(" + ",".join(_dlit_sql(x) for x in c) + ")" for c in rows)
        + ")"
    )


def _argmin_cluster(v: Column, cent_rows: list[tuple[int, list[float]]]) -> Column:
    """Nearest-centroid id as ONE nested-loop expression.

    The k centroids ride in a single ``array<array<double>>`` literal
    and the k distance folds are a ``transform`` over it — versus k
    expanded ``struct(fold, id)`` nodes under ``least``, this keeps the
    generated code size O(1) in k (the earlier shape made whole-stage
    codegen *compilation* the dominant k-means wall cost).  Same math,
    same doubles: ``array_position`` returns the FIRST minimum, and
    ``cent_rows`` is sorted ascending by cluster id, so ties still
    break toward the lower id — bit-identical to the struct-least form
    (and the DuckDB oracle's ``list_position`` twin).
    """
    # plain int literals parse as array<int>: cluster ids are small
    # non-negative indices, and every consumer compares or casts the id
    ids = F.expr("array(" + ",".join(str(int(cid)) for cid, _ in cent_rows) + ")")
    dists = _sq_dists(v, cent_rows)
    return F.element_at(ids, F.array_position(dists, F.array_min(dists)).cast("int"))


def _sq_dists(v: Column, cent_rows: list[tuple[int, list[float]]]) -> Column:
    """Sequential-fold squared L2 distance of ``v`` to each centroid."""
    return F.transform(
        _darray2_lit([c for _, c in cent_rows]),
        lambda c: F.aggregate(
            F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        ),
    )


def _corpus(
    embeddings: DataFrame, id_col: str, vec_col: str
) -> tuple[DataFrame, int]:
    """``(_id, _raw)`` over the corpus, and the vector width (one job).

    The RAW vector is carried and cast per SCALAR at each use site:
    staging a transform-cast array looks cheaper, but project
    collapsing may inline the whole-array cast into every one of the
    dim sum expressions — O(dim²) per row."""
    base = embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_raw"))
    return base, len(base.select("_raw").first()[0])


def _lloyd(
    base: DataFrame, groups: list[tuple[int, slice]], iters: int
) -> list[tuple[Column, list[tuple[int, list[float]]]]]:
    """Deterministic Lloyd k-means of every group at once.

    A group ``(k, part)`` clusters the ``part`` slice of ``base._raw``
    (the whole vector, or one PQ subspace) into k clusters.

    - init: cluster = md5-prefix-hash(id) % k — seeded, reproducible
      across engines (the DuckDB oracle replays the identical
      iterations), no sampling step.
    - each iteration: ONE hash aggregate of per-(group, cluster) counts
      and dim sums (map-side partials; shuffle = Σk × (width+1)
      doubles per task), ONE collect of those Σk rows, then every
      vector is reassigned to its argmin squared-L2 centroid by a
      literal-centroid expression — a narrow projection, never a join
      or shuffle on the corpus.  The corpus is scanned once per
      iteration however many groups train.
    - one group aggregates a plain projection; several explode each
      row into one ``(group, cluster, slice)`` struct per group, which
      would cost a lone group ~10% (k=8, 3 iterations, sf0.1, 4-core
      VM: median 3.68 s against 3.31 s).  The sums see the same addends
      either way: the fixture's float32-precision values make the
      double sums exactly associative, which is also why the
      sequential DuckDB replay matches bit for bit.

    Returns per group (its final assignment expression over ``_raw``,
    its centroids sorted by cluster id).  Empty clusters drop out
    (standard Lloyd behavior); ties break toward the lower cluster id.
    """
    from datalakehouse_spark.operators.dedup import md5_hash60

    seed = md5_hash60(F.col("_id").cast("string"))
    assign = [(seed % k).cast("int") for k, _ in groups]
    parts = [(p.start, p.stop - p.start) for _, p in groups]
    cents: list[list[tuple[int, list[float]]]] = [[] for _ in groups]
    for _ in range(iters):
        if len(groups) == 1:
            [(lo, width)] = parts
            tagged = base.select("_raw", assign[0].alias("c"))
            keys, elem = ["c"], lambda i: F.col("_raw")[lo + i]
        else:
            structs = [
                F.struct(F.lit(g).alias("g"), a.alias("c"), F.slice("_raw", lo + 1, w).alias("v"))
                for g, (a, (lo, w)) in enumerate(zip(assign, parts))
            ]
            tagged = base.select(F.explode(F.array(*structs)).alias("x")).select("x.*")
            # get() (not []) past a narrower slice reads NULL, which SUM
            # skips: one aggregate serves every width
            keys, elem = ["g", "c"], lambda i: F.get(F.col("v"), i)
        sums = [
            F.sum(elem(i).cast("double")).alias(f"s{i}") for i in range(max(w for _, w in parts))
        ]
        # Σk rows × width doubles — tiny by construction
        rows = tagged.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"), *sums).collect()
        for g, (_, width) in enumerate(parts):
            cents[g] = sorted(
                (r["c"], [r[f"s{i}"] / r["_n"] for i in range(width)])
                for r in rows
                if len(groups) == 1 or r["g"] == g
            )
        assign = [
            _argmin_cluster(_dvec(F.slice("_raw", lo + 1, width)), c)
            for (lo, width), c in zip(parts, cents)
        ]
    return list(zip(assign, cents))


def kmeans_clusters(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Seeded Lloyd k-means (:func:`_lloyd`) of the whole vector.

    Returns (assignment DataFrame ``(id, cluster)``, final centroid
    list)."""
    base, dim = _corpus(embeddings, id_col, vec_col)
    [(assign, cent_rows)] = _lloyd(base, [(k, slice(0, dim))], iters)
    return base.select(F.col("_id").alias(id_col), assign.alias("cluster")), cent_rows


def kmeans_elbow_sweep(
    embeddings: DataFrame,
    ks: tuple[int, ...],
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-k elbow sweep: `(k, n_clusters, inertia)` for every
    candidate k, each k one :func:`_lloyd` group — the math per k is
    :func:`kmeans_clusters` at that k, and the sweep reads the corpus
    ``iters + 1`` times in all, not ``|ks| * (iters + 2)``.  Eager
    class: centroids (Σk × dim doubles) collect per iteration."""
    base, dim = _corpus(embeddings, id_col, vec_col)
    fits = _lloyd(base, [(k, slice(0, dim)) for k in ks], iters)
    # final metrics, also fused: per row emit (k, min-dist, cluster) for
    # every k, then one grouped aggregate over the k tag
    structs = []
    for k, (assign, cents) in zip(ks, fits):
        dists = _sq_dists(_dvec(F.col("_raw")), cents)
        structs.append(
            F.struct(
                F.lit(k).alias("k"),
                F.round(F.array_min(dists), 9).cast("decimal(28,9)").alias("m"),
                assign.alias("cluster"),
            )
        )
    exploded = base.select(F.explode(F.array(*structs)).alias("s"))
    return (
        exploded.groupBy(F.col("s.k").alias("k"))
        .agg(
            F.count_distinct(F.col("s.cluster")).alias("n_clusters"),
            F.round(F.sum("s.m").cast("double"), 6).alias("inertia"),
        )
        # deterministic output order (a bare groupBy is
        # partitioning-dependent and flakes ordered consumers)
        .orderBy("k")
    )


def rank_probes(
    cent_rows: list[tuple[int, list[float]]], query_vec: list[float], n_probe: int
) -> list[int]:
    """Rank centroids against the query, return the n_probe nearest ids.

    k rows of plain doubles — pure driver-side math with the same
    sequential accumulation order as the SQL twin."""

    def _seq_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    qv = [float(x) for x in query_vec]
    ranked = sorted(
        (-(_seq_dot(c, qv) / (_seq_dot(c, c) ** 0.5)), cid) for cid, c in cent_rows
    )
    return [cid for _, cid in ranked[:n_probe]]


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_clusters: int = 8,
    kmeans_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """The build half of the IVF build/serve split: persist the corpus
    PARTITIONED BY its k-means cluster id.  Returns the centroid list
    (the serving side's tiny routing table — k×dim doubles, stored
    wherever the query layer lives).

    At 100 TB this is the one-off (or periodic) index build; every
    subsequent query is partition PRUNING over this layout instead of
    an argmin scan — see :func:`ivf_search_indexed`.
    """
    assign, cent_rows = kmeans_clusters(
        embeddings, k=n_clusters, iters=kmeans_iters, id_col=id_col, vec_col=vec_col
    )
    indexed = embeddings.join(assign, id_col)
    # one file per cluster partition (fixture scale); a real build sizes
    # files via maxRecordsPerFile and the table's compaction policy
    indexed.repartition("cluster").write.mode("overwrite").partitionBy(
        "cluster"
    ).parquet(path)
    return cent_rows


def ivf_search_indexed(
    spark,
    index_path: str,
    cent_rows: list[tuple[int, list[float]]],
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The serve half: route the query to its n_probe nearest clusters
    driver-side (k-row math), then scan ONLY those hive partitions —
    the cluster IN-list is a partition filter, so n_probe/n_clusters of
    the files are even opened (plan-asserted in tests/test_plans.py).
    Each hit carries the exact tier's cosine score.
    """
    probe = rank_probes(cent_rows, query_vec, n_probe)
    pruned = spark.read.parquet(index_path).where(F.col("cluster").isin(probe))
    return knn_brute_force(pruned, query_vec, k, id_col, vec_col).withColumn(
        "probed_clusters", F.lit(len(probe))
    )


def quantize_int8(vec_col: Column | str) -> tuple[Column, Column]:
    """Symmetric int8 scalar quantization: q_i = round(v_i * 127/max|v|).

    Returns (scale, quantized array<int>). Cuts vector storage 4× and
    makes distance kernels SIMD-int at scale; the scale factor rides
    along for dequantization. Deterministic (no calibration sample).
    """
    v = _dvec(vec_col)
    max_abs = F.aggregate(
        F.transform(v, lambda x: F.abs(x)), F.lit(0.0), lambda a, x: F.greatest(a, x)
    )
    scale = F.lit(127.0) / F.greatest(max_abs, F.lit(1e-30))
    q = F.transform(v, lambda x: F.round(x * scale, 0).cast("int"))
    return scale, q


def quantize_int8_df(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Staged int8 quantization: (id, scale, q).

    Same math as :func:`quantize_int8`, but each intermediate (double
    vector, max_abs, scale) is materialized through its own projection.
    Higher-order array functions are interpreted per element, and the
    one-expression form re-evaluates the scale fold inside the per-
    element lambda — O(dim²) interpreted ops per row, measured 2.6x
    slower at sf0.1.  Staging keeps it O(dim): CollapseProject does not
    inline an alias that a later non-cheap expression uses repeatedly.
    """
    staged = (
        df.select(F.col(id_col), _dvec(vec_col).alias("_v"))
        .select(
            id_col,
            "_v",
            F.aggregate(
                F.transform("_v", lambda x: F.abs(x)),
                F.lit(0.0),
                lambda a, x: F.greatest(a, x),
            ).alias("_max_abs"),
        )
        .select(
            id_col,
            "_v",
            (F.lit(127.0) / F.greatest(F.col("_max_abs"), F.lit(1e-30))).alias("_scale"),
        )
    )
    return staged.select(
        F.col(id_col),
        F.col("_scale").alias("scale"),
        F.transform(
            "_v", lambda x: F.round(x * F.col("_scale"), 0).cast("int")
        ).alias("q"),
    )


def _plane_weights(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplane normals in [-1, 1),
    derived from md5 — reproducible across runs and languages."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"plane{p}_{d}".encode()).digest()
            row.append((int.from_bytes(h[:4], "big") % 2000) / 1000.0 - 1.0)
        planes.append(row)
    return planes


def hyperplane_lsh_bucket(
    vec_col: Column | str, n_planes: int = 8, dim: int = 64
) -> Column:
    """Random-hyperplane (SimHash-for-vectors) LSH bucket id in
    [0, 2^n_planes).

    Vectors whose cosine is high agree on most hyperplane signs, so they
    collide; at scale, ANN = partition the corpus by bucket (plus a few
    neighboring probes) and brute-force within buckets. Plane constants
    are deterministic literals — no fitting step, no state to persist.
    """
    v = _dvec(vec_col)
    planes = _plane_weights(n_planes, dim)
    bucket = F.lit(0)
    for p, w in enumerate(planes):
        wcol = _darray_lit(w)
        bit = F.when(dot(v, wcol) > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket.cast("int")


def hamming_ball_probes(bucket: int, n_planes: int = 8, radius: int = 1) -> list[int]:
    """Deterministic multi-probe set for hyperplane LSH: the query's
    bucket plus every bucket within Hamming distance ``radius`` of it
    (sign flips of individual planes).

    A vector near a hyperplane lands on either side with ~equal
    probability, so true neighbors often differ from the query in
    exactly one plane bit — single-bucket probing has a recall cliff.
    radius=1 probes n_planes+1 buckets (9 of 256 at the defaults):
    ~28× fewer candidates than a full scan with most of the lost
    recall recovered.  The probe set is a pure function of the bucket —
    fixed, ordered, engine-reproducible (the oracle enumerates the same
    XOR flips)."""
    probes = {bucket}
    frontier = {bucket}
    for _ in range(radius):
        frontier = {b ^ (1 << p) for b in frontier for p in range(n_planes)}
        probes |= frontier
    return sorted(probes)


def pairwise_topk(
    embeddings: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
) -> DataFrame:
    """All-pairs top-k neighbors, optionally blocked by a cluster column.

    Unblocked all-pairs is O(n²) — refuse it at scale; the blocked form
    self-joins within clusters only (equi-join on the block key keeps it
    a hash join)."""
    # norms are per-VECTOR, so compute them once per row before the
    # self-join — inside the pair scoring they'd be re-evaluated per
    # pair (O(blocks x block_size^2 x dim) interpreted lambda work
    # instead of O(n x dim); measured ~3x on the fixture corpus)
    sides = embeddings.select(
        F.col(id_col).alias("_id"),
        _dvec(vec_col).alias("_v"),
        F.col(block_col).alias("blk"),
    ).select("_id", "_v", "blk", norm(F.col("_v")).alias("_n"))
    a = sides.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("va"), F.col("_n").alias("na"), "blk"
    )
    b = sides.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("vb"), F.col("_n").alias("nb"), "blk"
    )
    pairs = a.join(b, ["blk"]).where(F.col("id_a") < F.col("id_b"))
    scored = pairs.select(
        "id_a",
        "id_b",
        F.round(
            dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 9
        ).alias("cosine_sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id_a").orderBy(F.col("cosine_sim").desc(), F.col("id_b").asc())
    return scored.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k).drop("_rn")


# ---------------------------------------------------------------------------
# Product quantization (round 5): per-subspace codebooks + ADC search
# ---------------------------------------------------------------------------


def pq_codebooks(
    embeddings: DataFrame,
    m: int = 4,
    codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[tuple[int, list[float]]]], int]:
    """Train product-quantization codebooks: split the vector into
    ``m`` contiguous subspaces and train each one's ``codes``-means as
    a :func:`_lloyd` group — one corpus pass and one collect per
    iteration for all m codebooks, whatever m is.

    Returns (per-subspace centroid lists, subspace width)."""
    base, dim = _corpus(embeddings, id_col, vec_col)
    sub = dim // m
    fits = _lloyd(base, [(codes, slice(s * sub, (s + 1) * sub)) for s in range(m)], iters)
    return [book for _, book in fits], sub


def _code_cols(v: Column, books: list[list[tuple[int, list[float]]]], sub: int) -> list[Column]:
    """``code_s``: the nearest codeword of each subspace of ``v``."""
    return [
        _argmin_cluster(F.slice(v, s * sub + 1, sub), book).alias(f"code_{s}")
        for s, book in enumerate(books)
    ]


def pq_encode(
    embeddings: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    sub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its m nearest-codeword ids — ONE narrow
    whole-stage-codegen projection (literal codebooks, no join, no
    shuffle): the 4-byte-per-subspace compressed representation that
    replaces the raw vector at serve time."""
    return embeddings.select(F.col(id_col), *_code_cols(_dvec(vec_col), books, sub))


def _seq_sqdist(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return acc


def build_pq_index(
    embeddings: DataFrame,
    path: str,
    m: int = 4,
    codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[tuple[int, list[float]]]], int]:
    """Build half of the PQ split: train codebooks, persist the encoded
    corpus (id + m code columns — a ~dim*8/m-fold size reduction).
    Serving scans CODES, never raw vectors."""
    books, sub = pq_codebooks(embeddings, m, codes, iters, id_col, vec_col)
    pq_encode(embeddings, books, sub, id_col, vec_col).write.mode(
        "overwrite"
    ).parquet(path)
    return books, sub


def pq_adc_topk(
    encoded: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    sub: int,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    exclude_id: int | None = None,
) -> DataFrame:
    """ADC top-k over an already-loaded encoded DataFrame: per-subspace
    query-to-codebook distance tables (driver-side, m x codes doubles)
    ride in as LITERAL arrays; each row costs m lookups + (m-1) adds —
    a narrow projection into TakeOrderedAndProject.

    Accumulation is sequential per subspace then left-to-right across
    subspaces — bit-matching the SQL oracle's fold order."""
    qv = [float(x) for x in query_vec]
    tables = []
    for s, book in enumerate(books):
        qs = qv[s * sub : (s + 1) * sub]
        by_code = {cid: _seq_sqdist(qs, c) for cid, c in book}
        tables.append(
            [by_code.get(j, float("inf")) for j in range(max(by_code) + 1)]
        )
    adc = None
    for s, tab in enumerate(tables):
        term = F.element_at(_darray_lit(tab), F.col(f"code_{s}") + 1)
        adc = term if adc is None else adc + term
    out = encoded.select(F.col(id_col), F.round(adc, 9).alias("adc_dist"))
    if exclude_id is not None:
        out = out.where(F.col(id_col) != exclude_id)
    return out.orderBy(F.col("adc_dist").asc(), F.col(id_col).asc()).limit(k)


def pq_adc_search(
    spark,
    index_path: str,
    books: list[list[tuple[int, list[float]]]],
    sub: int,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    exclude_id: int | None = None,
) -> DataFrame:
    """Serve half of the PQ split: ADC top-k over the persisted encoded
    corpus.  No join, no shuffle, no raw vectors read."""
    return pq_adc_topk(
        spark.read.parquet(index_path), books, sub, query_vec, k, id_col, exclude_id
    )


def build_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    coarse: list[tuple[int, list[float]]],
    books: list[list[tuple[int, list[float]]]],
    sub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """IVF-PQ build from trained models: the coarse centroids
    (:func:`build_ivf_index` / :func:`kmeans_clusters`) partition the
    corpus and the PQ books (:func:`pq_codebooks`) compress it — the
    persisted index is (id, code_0..code_{m-1}) PARTITIONED BY cluster.
    Codes and cluster come from ONE literal-model projection: no
    training, no join.  Serving composes both accelerations: partition
    pruning cuts the scan to n_probe/n_clusters of the files, and each
    surviving row is m codes, not dim floats.

    This is the no-residual IVF-PQ variant (codes quantize the RAW
    vectors, not cluster residuals): the deterministic-replay oracle
    stays expressible, and at fixture dims the recall difference is
    immaterial."""
    v = _dvec(vec_col)
    embeddings.select(
        F.col(id_col),
        *_code_cols(v, books, sub),
        _argmin_cluster(v, coarse).alias("cluster"),
    ).repartition("cluster").write.mode("overwrite").partitionBy("cluster").parquet(path)


def ivfpq_search(
    spark,
    index_path: str,
    coarse: list[tuple[int, list[float]]],
    books: list[list[tuple[int, list[float]]]],
    sub: int,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    exclude_id: int | None = None,
) -> DataFrame:
    """IVF-PQ serve: driver-side probe routing (partition pruning over
    the cluster layout) then ADC over the probed partitions' codes."""
    probe = rank_probes(coarse, query_vec, n_probe)
    pruned = spark.read.parquet(index_path).where(F.col("cluster").isin(probe))
    return pq_adc_topk(pruned, books, sub, query_vec, k, id_col, exclude_id).withColumn(
        "probed_clusters", F.lit(len(probe))
    )
