"""Similarity search over embedding columns.

brute_force_topk     exact cosine top-k per query against the corpus —
                     JVM-side codegen cosine + TakeOrderedAndProject for
                     one query; window row_number for query batches.
knn_within_blocks    per-row top-k neighbors inside explicit blocks
                     (label / LSH bucket) — the bounded-pairs pattern.
lsh_bucket_ann       random-hyperplane LSH: integer signature → bucket,
                     candidates from the same bucket, exact re-rank.
                     The scale path: shuffles on the bucket key only.

Distances are floor()ed to integer micro-units so oracle comparison is
representation-stable.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from semtools_spark.functions.vectors import cosine_distance_expr, vector_literal


def _dim_guard(vec_col: str, dim: int, expr):
    """Wrap ``expr`` so a vector whose length != ``dim`` raises loudly.
    zip_with against a fixed ``dim``-length weight array NULL-pads on a
    length mismatch, which silently collapses every LSH signature into
    bucket 0 (making the bucket-keyed candidate join quadratic) — a dim
    mismatch must fail, not degrade."""
    return F.when(F.size(F.col(vec_col)) == F.lit(dim), expr).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"expected '{vec_col}' vectors of length {dim}, got length "),
                F.size(F.col(vec_col)).cast("string"),
            )
        )
    )


def brute_force_topk(
    emb: DataFrame,
    query_vec: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k for one query vector: map-side distance, partial top-k
    per partition, driver merge (TakeOrderedAndProject) — no shuffle.
    ``dim`` opts into the unrolled codegen cosine — worth it for corpus-
    scale scans; the one-time codegen compile outweighs it on small
    tables, so it is off by default."""
    scored = emb.withColumn("__q", vector_literal(query_vec)).select(
        F.col(id_col),
        F.floor(cosine_distance_expr(vec_col, "__q", dim=dim) * 1000000)
        .cast("long")
        .alias("dist_micro"),
    )
    return scored.orderBy("dist_micro", id_col).limit(k)


def knn_within_blocks(
    emb: DataFrame,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    query_filter=None,
    dim: int | None = None,
) -> DataFrame:
    """For each (filtered) row, its k nearest neighbors within its block:
    block-equi-join (shuffle on the block key, never all-pairs) + windowed
    row_number. Returns (q, neighbor, dist_micro, rank)."""
    d = emb.select(
        F.col(id_col).alias("id"), F.col(block_col).alias("blk"), F.col(vec_col).alias("v")
    )
    q = d if query_filter is None else d.filter(query_filter)
    pairs = (
        q.alias("l")
        .join(d.alias("r"), (F.col("l.blk") == F.col("r.blk")) & (F.col("l.id") != F.col("r.id")))
        .select(
            F.col("l.id").alias("q"),
            F.col("r.id").alias("neighbor"),
            F.floor(cosine_distance_expr("l.v", "r.v", dim=dim) * 1000000)
            .cast("long")
            .alias("dist_micro"),
        )
    )
    w = Window.partitionBy("q").orderBy("dist_micro", "neighbor")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def int_plane_weights(n_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    """±1 hyperplane weights, Philox-seeded — computed driver-side and
    inlined as literals in both engine renderings. A previous in-SQL
    linear-congruence parity (``(i*C1 + j*C2) mod 2`` with odd constants)
    degenerated to ``(i+j) mod 2`` — two effective buckets — making the
    bucket-keyed candidate join quadratic at scale."""
    rng = np.random.Generator(np.random.Philox(key=(seed << 8) | 0x51))
    return (rng.integers(0, 2, size=(n_planes, dim)) * 2 - 1).astype(np.int64)


def int_hyperplane_signature(
    emb: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    vec_col: str = "embedding",
    out_col: str = "lsh_bucket",
) -> DataFrame:
    """Random-hyperplane LSH with INTEGER arithmetic: embedding components
    are floor()ed to micro-units and the hyperplanes are seeded ±1 weight
    literals, so the signature is bit-identical across engines — float
    sign-flips near zero can't diverge. ±1 hyperplanes are a standard
    SimHash-style choice; angles are preserved in expectation just like
    Gaussian planes.

    Map-only, whole-stage-codegen JVM expressions; the bucket column is the
    shuffle key for the candidate join at scale."""
    weights = int_plane_weights(n_planes, dim, seed)
    sig = None
    for j in range(n_planes):
        warr = ", ".join(str(int(w)) for w in weights[j])
        dot = F.expr(
            f"aggregate(zip_with({vec_col}, array({warr}), "
            f"(x, w) -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) * w), "
            f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )
        term = F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
        sig = term if sig is None else (sig + term)
    return emb.withColumn(out_col, _dim_guard(vec_col, dim, sig))


def int_hyperplane_signature_sql_duckdb(
    n_planes: int = 8, dim: int = 64, seed: int = 42, vec_col: str = "embedding"
) -> str:
    """DuckDB rendering of int_hyperplane_signature (1-based list index),
    inlining the same Philox-seeded ±1 weight literals."""
    weights = int_plane_weights(n_planes, dim, seed)
    terms = []
    for j in range(n_planes):
        wlist = "[" + ", ".join(str(int(w)) for w in weights[j]) + "]"
        dot = (
            f"list_sum(list_transform(range(1, {dim} + 1), "
            f"i -> CAST(floor(CAST({vec_col}[i] AS DOUBLE) * 1000000) AS BIGINT) "
            f"* ({wlist})[i]))"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def ivf_centroids(n_centroids: int = 8, dim: int = 64, seed: int = 42) -> np.ndarray:
    """Deterministic IVF 'coarse quantizer': Philox-seeded unit-norm
    centroids. A kmeans-trained codebook drops in here unchanged — the
    partition/probe plumbing (the Spark-side work) is identical; seeded
    centroids keep the operator reproducible anywhere with no model
    artifact to ship."""
    rng = np.random.Generator(np.random.Philox(key=(seed << 8) | 0xC3))
    mat = rng.standard_normal((n_centroids, dim))
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    return mat / norms[:, None]


def ivf_train_centroids_np(
    mat: np.ndarray,
    n_centroids: int = 8,
    dim: int = 64,
    seed: int = 42,
    iters: int = 10,
) -> np.ndarray:
    """Pure-NumPy spherical-kmeans core (Lloyd's on the cosine geometry):
    assign by max dot against unit centroids, recompute means,
    renormalize. Initialized from the seeded codebook — deterministic
    given (mat, seed); an empty cluster keeps its previous centroid.
    Shared verbatim by the Spark operator and the DuckDB oracle builder
    so both derive bit-identical codebooks from the same sample."""
    mat = np.asarray(mat, dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    keep = norms > 0
    mat = mat[keep] / norms[keep, None]
    cents = ivf_centroids(n_centroids, dim, seed).copy()
    for _ in range(iters):
        sims = mat @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(n_centroids):
            members = mat[assign == c]
            if len(members) == 0:
                continue
            m = members.mean(axis=0)
            nm = np.linalg.norm(m)
            if nm > 0:
                cents[c] = m / nm
    return cents


def ivf_train_centroids(
    emb: DataFrame,
    n_centroids: int = 8,
    dim: int = 64,
    seed: int = 42,
    vec_col: str = "embedding",
    max_sample: int = 50_000,
    iters: int = 10,
) -> np.ndarray:
    """Spherical-kmeans codebook trained on a bounded driver-side sample
    (one count job + one bounded collect — the codebook is tiny; training
    is the only driver-side step, O(max_sample · n_centroids · dim) per
    iter). At 100 TB the same trained array is passed to
    ivf_assign/ivf_topk as ``centroids=``; only the assignment scan is
    distributed."""
    n = emb.count()
    fraction = min(1.0, max_sample / max(n, 1))
    sample = (
        emb.select(vec_col).sample(fraction=fraction, seed=seed).limit(max_sample)
    ).toPandas()
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in sample[vec_col]])
    return ivf_train_centroids_np(mat, n_centroids, dim, seed, iters)


def ivf_assign(
    emb: DataFrame,
    n_centroids: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "centroid_id",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF list assignment: each vector → its nearest centroid (integer
    micro-unit cosine distance, ties to the lowest centroid id). Map-only
    JVM expressions; at scale the centroid id is the partition/cluster
    key the inverted lists live under.

    ``centroids`` overrides the seeded codebook (pass the output of
    :func:`ivf_train_centroids`); the seeded default keeps the operator
    reproducible anywhere with no model artifact."""
    cents = ivf_centroids(n_centroids, dim, seed) if centroids is None else centroids
    # centroid literals spliced as SQL arrays: cosine_distance_expr takes
    # SQL expression strings, not Columns
    dists = F.array(
        *[
            F.floor(
                cosine_distance_expr(
                    vec_col, "array(" + ", ".join(f"{float(x)!r}D" for x in c) + ")"
                )
                * 1000000
            ).cast("long")
            for c in cents
        ]
    )
    return emb.withColumn("__d", _dim_guard(vec_col, dim, dists)).withColumn(
        out_col,
        (F.expr("array_position(__d, array_min(__d))") - 1).cast("int"),
    ).drop("__d")


def ivf_probe_ids(
    query_vec: np.ndarray,
    nprobe: int = 2,
    n_centroids: int = 8,
    dim: int = 64,
    seed: int = 42,
    centroids: np.ndarray | None = None,
) -> list[int]:
    """Driver-side coarse search: the nprobe centroid ids nearest the
    query (deterministic; shared verbatim by the oracle rendering)."""
    cents = ivf_centroids(n_centroids, dim, seed) if centroids is None else centroids
    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)
    q = q / qn if qn > 0 else q
    d = 1.0 - cents @ q
    return [int(i) for i in np.argsort(d, kind="stable")[:nprobe]]


def ivf_topk(
    emb: DataFrame,
    query_vec: np.ndarray,
    k: int = 10,
    nprobe: int = 2,
    n_centroids: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: scan ONLY the nprobe nearest inverted lists
    (~nprobe/n_centroids of the corpus — with the assignment
    pre-materialized and partitioned by centroid_id, partition pruning
    makes this a fractional scan), exact cosine re-rank inside them.
    Returns (id, centroid_id, dist_micro) ascending. ``centroids`` swaps
    in a trained codebook (ivf_train_centroids)."""
    probe = ivf_probe_ids(query_vec, nprobe, n_centroids, dim, seed, centroids)
    assigned = ivf_assign(
        emb, n_centroids, dim, seed, id_col, vec_col, centroids=centroids
    )
    scored = (
        assigned.filter(F.col("centroid_id").isin(probe))
        .withColumn("__q", vector_literal(query_vec))
        .select(
            F.col(id_col),
            F.col("centroid_id"),
            F.floor(cosine_distance_expr(vec_col, "__q") * 1000000)
            .cast("long")
            .alias("dist_micro"),
        )
    )
    return scored.orderBy("dist_micro", id_col).limit(k)


#: codebook + params sidecar written next to a materialized IVF index
IVF_META_FILE = "_ivf_meta.json"


def ivf_build_index(
    emb: DataFrame,
    index_path: str,
    n_centroids: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> str:
    """Materialize the IVF inverted lists: :func:`ivf_assign` output
    written as hive partitions ``centroid_id=K``, plus a ``_ivf_meta.json``
    sidecar carrying the exact codebook/params the index was built with
    (a trained codebook round-trips — queries never score against a
    different quantizer than the one that laid out the lists).

    This turns the "fractional scan" from a docstring claim into a
    physical plan property: :func:`ivf_topk_indexed` reads back with a
    ``centroid_id IN (probes)`` filter that Spark resolves as PARTITION
    pruning — only nprobe/n_centroids of the index files are opened, no
    re-assignment scan of the corpus per query (the reference persists
    its HNSW index the same way, store.rs:146-177). Build is one map-only
    pass + one shuffle-free partitioned write."""
    cents = ivf_centroids(n_centroids, dim, seed) if centroids is None else centroids
    assigned = ivf_assign(
        emb, n_centroids, dim, seed, id_col, vec_col, centroids=cents
    )
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(index_path)
    ivf_write_meta(emb.sparkSession, index_path, n_centroids, dim, seed, cents)
    return index_path


def ivf_write_meta(
    spark, index_path: str, n_centroids: int, dim: int, seed: int, centroids: np.ndarray
) -> None:
    """Write the ``_ivf_meta.json`` codebook sidecar of an index at
    ``index_path`` (read back by :func:`ivf_read_meta`)."""
    import json

    from semtools_spark import fs as hfs

    hfs.write_text(
        spark,
        f"{index_path}/{IVF_META_FILE}",
        json.dumps(
            {
                "n_centroids": n_centroids,
                "dim": dim,
                "seed": seed,
                # json floats round-trip exactly (repr-based) — the probe
                # step recomputes distances against bit-identical centroids
                "centroids": [[float(x) for x in c] for c in centroids],
            }
        ),
    )


def ivf_read_meta(spark, index_path: str) -> dict:
    import json

    from semtools_spark import fs as hfs

    text = hfs.read_text(spark, f"{index_path}/{IVF_META_FILE}")
    if text is None:
        raise FileNotFoundError(f"no {IVF_META_FILE} under {index_path}")
    meta = json.loads(text)
    meta["centroids"] = np.asarray(meta["centroids"], dtype=np.float64)
    return meta


def ivf_topk_indexed(
    spark,
    index_path: str,
    query_vec: np.ndarray,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k over a PRE-MATERIALIZED index (:func:`ivf_build_index`):
    driver-side coarse search picks the nprobe nearest lists from the
    sidecar codebook, then the scan reads ONLY those ``centroid_id=K``
    partitions (partition pruning — asserted in tests via the plan's
    PartitionFilters and the pruned input-file list). Identical output
    contract to :func:`ivf_topk`, minus the per-query assignment scan."""
    meta = ivf_read_meta(spark, index_path)
    probe = ivf_probe_ids(
        query_vec,
        nprobe,
        meta["n_centroids"],
        meta["dim"],
        meta["seed"],
        centroids=meta["centroids"],
    )
    scored = (
        spark.read.parquet(index_path)
        .filter(F.col("centroid_id").isin(probe))
        .withColumn("__q", vector_literal(query_vec))
        .select(
            F.col(id_col),
            F.col("centroid_id"),
            F.floor(cosine_distance_expr(vec_col, "__q") * 1000000)
            .cast("long")
            .alias("dist_micro"),
        )
    )
    return scored.orderBy("dist_micro", id_col).limit(k)


def lsh_bucket_ann(
    emb: DataFrame,
    k: int = 1,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter=None,
) -> DataFrame:
    """Approximate kNN: candidates share an integer hyperplane-signature
    bucket (:func:`int_hyperplane_signature`), exact cosine re-rank
    within bucket. Same output shape as knn_within_blocks."""
    bucketed = int_hyperplane_signature(emb, n_planes, dim, seed, vec_col)
    return knn_within_blocks(
        bucketed, k=k, id_col=id_col, vec_col=vec_col,
        block_col="lsh_bucket", query_filter=query_filter, dim=dim,
    )
