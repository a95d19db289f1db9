"""Iterative algorithms (MapReduce chained-job parity).

MapReduce expresses iteration as a driver loop of full jobs with HDFS
materialization between rounds (SURVEY.md §3.1 'chained pipeline'); Spark's
advantage is keeping the loop state tiny (broadcast centroids) while the
big side streams through executors each round.

k-means here is deterministic end-to-end (fixed init = the k lowest
vec_ids, fixed iteration count, float64 numpy kernels) so runs are
reproducible and testable against a single-process reference
implementation. It doubles as the IVF coarse quantizer for similarity
search (assign → per-centroid buckets → probe nearest buckets).

100 TB shape per iteration: one Arrow-batched assignment pass over the
vectors (broadcast k×d centroid matrix), one groupBy(cluster) partial mean
— both map-side combinable; only k×d floats ever reach the driver.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cbde_mapreduce_spark.operators.loop import DATA_SIZED, RoundState

ASSIGN_SCHEMA = "vec_id bigint, cluster int, dist double"


def _assign_batches(centroids: np.ndarray):
    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            # squared euclidean to every centroid: |x|^2 - 2xC^T + |C|^2
            d2 = (
                (m * m).sum(axis=1, keepdims=True)
                - 2.0 * (m @ centroids.T)
                + (centroids * centroids).sum(axis=1)[None, :]
            )
            cl = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cluster": cl.astype(np.int32),
                    "dist": np.sqrt(np.maximum(d2[np.arange(len(cl)), cl], 0.0)),
                }
            )

    return assign


def kmeans_fit(
    emb: DataFrame, k: int = 10, iters: int = 5
) -> tuple[np.ndarray, DataFrame]:
    """Fit deterministic k-means; return (centroids k×d, assignments DF).

    Init: the embeddings of the k smallest vec_ids. Update: elementwise
    mean per cluster via posexplode + groupBy — no driver-side data except
    the k×d centroid matrix. Empty clusters keep their previous centroid.
    """
    src = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    seed_rows = src.orderBy("vec_id").limit(k).collect()
    centroids = np.array([r.embedding for r in seed_rows], dtype=np.float64)

    for _ in range(iters):
        assigned = src.mapInPandas(_assign_batches(centroids), ASSIGN_SCHEMA)
        means = (
            assigned.join(src, "vec_id")
            .select("cluster", F.posexplode("embedding").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg("val").alias("mean_val"))
            .collect()
        )
        new_centroids = centroids.copy()
        for r in means:
            new_centroids[r.cluster][r.pos] = r.mean_val
        centroids = new_centroids

    return centroids, src.mapInPandas(_assign_batches(centroids), ASSIGN_SCHEMA)


def kmeans_assignments(
    emb: DataFrame, k: int = 10, iters: int = 5, digits: int = 6
) -> DataFrame:
    """(vec_id, cluster, dist): deterministic k-means assignment table."""
    _, final = kmeans_fit(emb, k, iters)
    return final.select("vec_id", "cluster", F.round("dist", digits).alias("dist"))


def ivf_topk(
    emb: DataFrame,
    k: int = 10,
    n_clusters: int | None = 10,
    n_probe: int = 3,
    iters: int = 3,
    digits: int = 6,
) -> DataFrame:
    """IVF approximate k-NN: k-means coarse quantizer + multi-probe re-rank.

    Every vector probes its ``n_probe`` nearest centroids; candidates are
    the vectors assigned to those clusters; exact cosine re-rank keeps the
    top-k per query. The inverted-file structure is the (cluster → vectors)
    assignment table — at 100 TB it is the partitioning key of the stored
    index, so a probe touches only n_probe/n_clusters of the data.

    ``n_clusters=None`` auto-sizes to ≈√n (the standard IVF balance point:
    per-probe candidate-list length and centroid-table size are then both
    O(√n)).

    Duplicate-collapse (round-6 scale fix): identical vectors quantize and
    probe identically, so a g-copy group multiplies both the query count
    and every touched inverted list by g — the candidate join grew Ω(dup²)
    at 100× replication (SCALING.md r6). The quantizer, inverted file, and
    exact re-rank now run over identical-vector representatives
    (embedding_dup_groups) and the per-qid top-k expands through the
    membership map (expand_rep_qtopk): twins are sim-1.0 candidates (same
    cluster with certainty), rep candidates fan out at the rep sim. On
    all-distinct data the collapse is the identity, so eval-scale results
    are unchanged; on dup-heavy data the quantizer sees distinct vectors
    once (frequency-deduped k-means — the standard codebook practice).
    """
    from cbde_mapreduce_spark.operators.similarity import (
        embedding_dup_tables,
        expand_rep_qtopk,
        nonzero_embedding,
    )

    m, reps = embedding_dup_tables(emb)
    mem = m.select("vec_id", "gid", nonzero_embedding().alias("nz"))
    emb = reps
    if n_clusters is None:
        n = emb.select("vec_id").count()
        n_clusters = max(2, int(n**0.5))
    centroids, assigned = kmeans_fit(emb, n_clusters, iters)
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(centroids)

    def probes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            d2 = (
                (m * m).sum(axis=1, keepdims=True)
                - 2.0 * (m @ cents.T)
                + (cents * cents).sum(axis=1)[None, :]
            )
            # probe width caps at the actual centroid count (a corpus
            # smaller than n_probe clusters would otherwise mis-align the
            # repeated qid column with the probe list)
            p = min(n_probe, cents.shape[0])
            near = np.argsort(d2, axis=1, kind="stable")[:, :p]
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            yield pd.DataFrame(
                {
                    "qid": np.repeat(ids, p),
                    "cluster": near.ravel().astype(np.int32),
                }
            )

    src = emb.select("vec_id", "embedding")
    probe_df = src.mapInPandas(probes, "qid bigint, cluster int")
    inv = assigned.select(F.col("vec_id").alias("nid"), "cluster")
    cand = (
        probe_df.join(inv, "cluster")
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
        .distinct()
    )
    from cbde_mapreduce_spark.functions.vectors import dot, l2_norm

    n = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    e1 = n.select(F.col("vec_id").alias("qid"), F.col("e").alias("ea"), F.col("nrm").alias("na"))
    e2 = n.select(F.col("vec_id").alias("nid"), F.col("e").alias("eb"), F.col("nrm").alias("nb"))
    from pyspark.sql import Window

    scored = (
        cand.join(e1, "qid")
        .join(e2, "nid")
        .select(
            "qid",
            "nid",
            # try_divide: a zero-norm vector has no cosine — NULL, then
            # dropped, mirroring the matmul kernels' NaN-row drop (ANSI
            # mode raises on the plain division)
            F.round(
                F.try_divide(
                    dot(F.col("ea"), F.col("eb")), F.col("na") * F.col("nb")
                ),
                digits,
            ).alias("sim"),
        )
        .filter(F.col("sim").isNotNull())
    )
    return expand_rep_qtopk(mem, scored, k)


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(v, component): undirected connected components by min-label propagation.

    The MR realization is the classic iterate-until-fixpoint job chain;
    here each round is one join + groupBy(min) and the driver only checks
    the scalar change count. Deterministic: component id = min vertex id.

    At 100 TB use large-star/small-star (Kiveris et al.) to bound round
    count; min-label propagation converges in O(diameter) rounds, which is
    small for near-dup graphs (tight clusters).

    Loop state (operators/loop.py): the symmetrized edge set is a
    data-sized invariant laid out on the propagation join key, so no round
    re-derives the caller's upstream pair pipeline or re-shuffles |E|.
    The label table is checkpointed per round: a lineage-keeping persist
    was measured 1.15-1.22× slower here, because each round reads the
    labels twice and the kept lineage embeds the upstream plan 2^r times
    (OPTIMIZATION_r13, CC adjudication).
    """
    with RoundState() as rs:
        sym = rs.invariant(
            edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
            .distinct()
            .repartition("b")
            .sortWithinPartitions("b", "a"),
            DATA_SIZED,
        )
        labels = sym.select(F.col("a").alias("v")).distinct().withColumn(
            "label", F.col("v")
        )
        while True:
            # label(v) <- min(label(v), min over neighbors u of label(u))
            neighbor_min = (
                sym.join(labels, sym.b == labels.v)
                .groupBy(F.col("a").alias("v2"))
                .agg(F.min("label").alias("nbr_label"))
            )
            updated = rs.advance(
                labels.join(neighbor_min, labels.v == F.col("v2"), "left").select(
                    "v",
                    F.least(
                        F.col("label"), F.coalesce("nbr_label", F.col("label"))
                    ).alias("label"),
                    (F.col("nbr_label") < F.col("label")).alias("changed"),
                )
            )
            n_changed = updated.filter(F.col("changed")).count()
            labels = updated.select("v", "label")
            if n_changed == 0:
                return labels.select("v", F.col("label").alias("component"))


def connected_components_star(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_rounds: int = 50
) -> DataFrame:
    """(v, component): connected components via alternating large-star /
    small-star rounds (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14 — public algorithm).

    Round-count is O(log² n) on ANY graph topology, vs O(diameter) for
    min-label propagation (`connected_components`) — the difference between
    ~20 and ~10⁶ shuffles on a 100 TB path-shaped graph. Each round is two
    groupBy-min passes over the edge set; lineage is truncated per round.

    large-star: every node points its LARGER neighbors at its smallest
    neighbor (or itself); small-star: every node points its smaller-or-equal
    neighbors at the minimum. At fixpoint the edge set is a star forest
    (v → component-min), read off directly as the label assignment.
    Deterministic: component id = min vertex id, same contract as
    `connected_components` (equality asserted in tests/test_iterative.py).
    """

    def _mins(sym: DataFrame) -> DataFrame:
        return (
            sym.groupBy("a")
            .agg(F.min("b").alias("__mn"))
            .select("a", F.least(F.col("a"), F.col("__mn")).alias("m"))
        )

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        joined = sym.join(_mins(sym), "a")
        return (
            joined.filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        oriented = e.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        mins = _mins(oriented)
        moved = oriented.join(mins, "a").select(
            F.col("b").alias("a"), F.col("m").alias("b")
        )
        self_edges = mins.select(F.col("a"), F.col("m").alias("b"))
        return (
            moved.unionAll(self_edges)
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    prev_fp = None
    with RoundState() as rs:
        for _ in range(max_rounds):
            e = rs.advance(small_star(large_star(e)))
            fp = e.agg(
                F.count(F.lit(1)).alias("n"),
                # decimal(38,0) sum: exact, no ANSI long-overflow on hash sums
                F.coalesce(
                    F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")), F.lit(0)
                ).alias("h"),
            ).collect()[0]
            if (fp.n, fp.h) == prev_fp:
                break
            prev_fp = (fp.n, fp.h)
        else:
            raise RuntimeError(f"star CC did not converge in {max_rounds} rounds")
    roots = e.select(F.col("b").alias("v")).distinct()
    members = e.select(F.col("a").alias("v"), F.col("b").alias("component"))
    return members.unionByName(
        roots.select("v", F.col("v").alias("component"))
    )


def covariance_matrix(
    emb: DataFrame, col: str = "embedding"
) -> tuple[np.ndarray, int]:
    """Exact d×d covariance of an array column via the tall-skinny shape:
    each partition reduces its rows to ONE flattened d·d partial Gram
    (numpy X'X over Arrow batches) plus the d-vector sum and count —
    mapInPandas emits a single summary row per partition, a positionwise
    array sum merges them, and the driver assembles Σxxᵀ/n − μμᵀ from
    bytes, never data. One scan, exact (up to float summation order).
    Returns (covariance, n_rows)."""
    probe = emb.select(F.col(col).alias("e")).first()
    if probe is None:  # empty corpus: callers emit a typed empty result
        return None, 0
    d_probe = len(probe["e"])

    def partial_gram(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        g = np.zeros((d_probe, d_probe))
        s_vec = np.zeros(d_probe)
        n = 0
        for pdf in batches:
            x = np.array(pdf["e"].tolist(), dtype=np.float64)
            if len(x):
                g += x.T @ x
                s_vec += x.sum(axis=0)
                n += len(x)
        yield pd.DataFrame(
            {"g": [g.flatten().tolist()], "s": [s_vec.tolist()], "n": [n]}
        )

    parts = emb.select(F.col(col).cast("array<double>").alias("e")).mapInPandas(
        partial_gram, "g array<double>, s array<double>, n bigint"
    )
    merged = parts.agg(
        F.aggregate(
            F.collect_list("g"),
            F.array_repeat(F.lit(0.0), d_probe * d_probe),
            lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
        ).alias("g"),
        F.aggregate(
            F.collect_list("s"),
            F.array_repeat(F.lit(0.0), d_probe),
            lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
        ).alias("s"),
        F.sum("n").alias("n"),
    ).first()
    n = int(merged["n"])
    g = np.array(merged["g"]).reshape(d_probe, d_probe)
    mu = np.array(merged["s"]) / n
    return g / n - np.outer(mu, mu), n


def pca_top_component(
    emb: DataFrame, col: str = "embedding"
) -> tuple[np.ndarray, float, int]:
    """Top principal component: distributed covariance (covariance_matrix)
    + driver eigensolve — the correct distributed PCA when d² fits one
    machine and n does not. Pure power iteration was measured UNUSABLE on
    this data (λ₂/λ₁ = 0.987 ⇒ ~700 rounds for 4-digit agreement); the
    Gram pass is exact in one scan. Sign fixed so the largest-|loading|
    entry is positive (eigenvectors are sign-ambiguous). Returns
    (unit component, eigenvalue, n_rows)."""
    cov, n = covariance_matrix(emb, col)
    if cov is None:  # empty corpus
        return None, 0.0, 0
    w, vecs = np.linalg.eigh(cov)
    v, lam = vecs[:, -1], float(w[-1])
    if v[int(np.argmax(np.abs(v)))] < 0:
        v = -v
    return v, lam, n
