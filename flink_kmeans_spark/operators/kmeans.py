"""Lloyd's K-Means as a Spark dataflow — the reference's entire pipeline.

Reference parity map (all anchors ``KMeans.java`` [EXPECTED — the
checkout at /root/reference was empty; see SURVEY.md §0], canonical
Flink batch clustering example):

- ``SelectNearestCenter`` (RichMapFunction + broadcast set)  → :func:`assign`
- ``CountAppender`` + ``CentroidAccumulator`` (groupBy/reduce) → :func:`recompute_centroids`
- ``CentroidAverager`` (map)                                  → folded into the same agg
- ``IterativeDataSet.iterate(n).closeWith(...)``              → :func:`fit` driver loop
- final assignment → ``(clusterId, point)``                   → :func:`predict`

Scale design (SURVEY.md §4.3): the centroid set is k×d doubles, so it
travels with the task (a one-row broadcast in :func:`assign`, a closure
constant in :func:`_partial_sums_df`) rather than as a join side — the
assign step is a pure narrow map over the points (no shuffle). Each
iteration's partial sums move k×(d+1) doubles per Arrow batch regardless
of data size, and the driver finishes the reduce. This is the same
execution shape MLlib's own KMeans uses, and it is the shape that
survives 100 TB: per-iteration network traffic is O(partitions × k × d),
independent of row count.

Empty-cluster policy: a cluster that attracts no points keeps its
previous centroid (the canonical Flink example silently drops such ids
from the new centroid set [EXPECTED]; keeping the centroid is the
deterministic superset — with k real data points as seeds it never
triggers on the test blobs). The NumPy oracle in tests mirrors this.

Tie-break: nearest centroid with the LOWEST id wins, implemented by
taking ``array_min`` over ``struct(dist, cid)`` (struct ordering
compares dist first, then cid) — same first-seen/lowest-id semantics as
the reference's ``<`` comparison loop.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import sqdist

Centroids = list[tuple[int, list[float]]]


def init_centroids(points: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding") -> Centroids:
    """Deterministic init: the first k points ordered by id (FIXTURES.md
    contract — makes engine, MLlib-bypass NumPy oracle, and DuckDB SQL
    agree exactly). Centroid ids are 0..k-1 in that order."""
    rows = (
        points.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    return [(i, list(r["v"])) for i, r in enumerate(rows)]


def _make_nearest():
    import numpy as np

    def nearest(P, C):
        """Nearest centroid of every row of ``P`` (n×d) among the rows of
        ``C`` (k×d): (row positions in ``C``, squared distances). The
        direct (p−c)² fold and ``argmin``'s first-minimum rule give the
        NumPy oracle's bits and its lowest-id tie-break."""
        d2 = ((P[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        pos = d2.argmin(axis=1)
        return pos, d2[np.arange(len(pos)), pos]

    return nearest


# A closure (qualname ``_make_nearest.<locals>.nearest``), so the mapInPandas
# functions that call it ship it to workers by value, not by reference.
_nearest = _make_nearest()


def assign(points: DataFrame, cents: Centroids, vec_col: str = "embedding") -> DataFrame:
    """SelectNearestCenter: label every point with its nearest centroid id.

    The k×d centroid block rides in as a ONE-ROW broadcast DataFrame
    (flattened array<double>), cross-joined onto the points — physically
    a BroadcastNestedLoopJoin with a single build row, i.e. a pure map
    with zero shuffle. Crucially the plan does not embed the centroid
    VALUES, so across fit iterations the generated code is byte-identical
    and Spark's codegen cache hits (inline literals recompiled every
    step). As a Lloyd's step with :func:`recompute_centroids` it takes
    0.85–1.2 s/iter at sf0.1 on local[4]; the loop uses
    :func:`_partial_sums_df` instead.

    Adds ``cid`` (int) and ``dist`` (double, squared distance).
    """
    spark = points.sparkSession
    k = len(cents)
    d = len(cents[0][1])
    ids = [int(cid) for cid, _ in cents]
    flat = [float(v) for _, vec in cents for v in vec]
    cdf = spark.createDataFrame([(flat,)], "cflat: array<double>")
    vec = F.col(vec_col).cast("array<double>")

    def dist_at(j: Column) -> Column:
        return sqdist(vec, F.slice(F.col("cflat"), j * d + 1, d))

    best = F.array_min(
        F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda j: F.struct(dist_at(j).alias("dist"), j.cast("int").alias("pos")),
        )
    )
    return (
        points.crossJoin(F.broadcast(cdf))
        .withColumn("__best", best)
        .withColumn(
            "cid", F.element_at(F.lit(ids), F.col("__best.pos") + 1).cast("int")
        )
        .withColumn("dist", F.col("__best.dist"))
        .drop("__best", "cflat")
    )


def recompute_centroids(assigned: DataFrame, dim: int, vec_col: str = "embedding") -> list:
    """CentroidAccumulator + CentroidAverager: one partial-agg shuffle.

    ``groupBy(cid).agg(sum(v[0])..sum(v[d-1]), count)`` — Catalyst runs
    map-side partial HashAggregate (Flink's combiner), shuffles k rows
    per partition, finalizes, and we collect k×(d+1) numbers.
    """
    vec = F.col(vec_col).cast("array<double>")
    sums = [F.sum(vec[i]).alias(f"s{i}") for i in range(dim)]
    return (
        assigned.groupBy("cid")
        .agg(*sums, F.count(F.lit(1)).alias("n"))
        .collect()
    )


def assign_arrow(
    points: DataFrame,
    cents: Centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bulk-scoring assign: Arrow-batched numpy argmin.

    Same semantics as :func:`assign` (the shared ``_nearest`` kernel:
    the NumPy oracle's (p−c)² fold and lowest-id tie-break) but 13×
    faster on wide scans (measured 0.69 s vs 9.3 s for 2M×16-d rows at
    local[32]): the JVM higher-order-function expression allocates a
    zipped array per (row × centroid), while numpy does one vectorized
    pass per Arrow batch. Use this for labeling whole tables; use
    :func:`assign` when the result feeds further Catalyst expressions in
    the same projection."""
    import numpy as np
    import pandas as pd

    C = np.array([v for _, v in cents], dtype=np.float64)
    ids = np.array([cid for cid, _ in cents], dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            P = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            a, dist = _nearest(P, C)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "cid": ids[a].astype("int32"), "dist": dist}
            )

    return points.select(id_col, vec_col).mapInPandas(
        gen, f"{id_col} long, cid int, dist double"
    )


def _partial_sums_df(points: DataFrame, centroids, vec_col: str = "embedding"):
    """One Lloyd's step as Arrow-batched per-partition partial aggregation.

    ``mapInPandas`` emits ≤k rows of (cid, n, Σvec) per Arrow batch —
    the map-side combine — and the driver finishes the tiny reduce. This
    is MLlib's own treeAggregate shape: per-iteration traffic is
    O(batches × k × d) regardless of row count, there is NO shuffle
    stage, and the plan contains no iteration-dependent literals, so
    nothing recompiles between steps. Measured at sf0.1 on local[4]:
    0.15–0.18 s/iter under ``get_spark``'s worker daemon (0.29–0.45 s
    under the stock one, which re-reads Spark's archives every task) vs
    0.85–1.2 s/iter for :func:`assign` + :func:`recompute_centroids`.

    The expression-based :func:`assign` remains the one-shot/predict
    path; this is the hot loop only.
    """
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)
    k, d = C.shape

    def part(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            P = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            a, _ = _nearest(P, C)
            rows = []
            for c in range(k):
                m = a == c
                if m.any():
                    rows.append([c, int(m.sum())] + P[m].sum(axis=0).tolist())
            yield pd.DataFrame(
                rows, columns=["cid", "n"] + [f"s{i}" for i in range(d)]
            )

    schema = "cid int, n long, " + ", ".join(f"s{i} double" for i in range(d))
    return points.select(vec_col).mapInPandas(part, schema)


@dataclass
class KMeansModel:
    centroids: Centroids
    dim: int
    vec_col: str = "embedding"

    def predict(self, points: DataFrame) -> DataFrame:
        return assign(points, self.centroids, self.vec_col)

    def centroids_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            [(cid, vec) for cid, vec in self.centroids],
            schema="cid int, cvec array<double>",
        )


def fit(
    points: DataFrame,
    k: int = 10,
    n_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: Centroids | None = None,
    tol: float | None = None,
) -> KMeansModel:
    """Bulk iteration (SURVEY §2A A8): driver-side loop over assign +
    recompute. Points are cached ONCE; each iteration's plan is
    cache-scan → map → partial agg, so lineage never grows (the
    centroids enter as fresh literals each step — no localCheckpoint
    needed, unlike a join-based formulation).

    ``tol``: optional convergence extension beyond the reference's
    fixed-iteration contract — stop early once the max squared centroid
    shift drops below tol. None (default) preserves exact
    fixed-iteration reference semantics; all oracles use None.

    The dimension comes from the init centroids, so no job probes it.
    Empty points raise ``ValueError("empty points input")``: from the
    empty init collect, or, with an explicit ``init``, from the first
    iteration's empty partials (every point yields one, so no extra
    job runs). With an explicit ``init`` and ``n_iter=0`` no job runs
    and ``init`` is returned unchecked."""
    pts = points.select(id_col, vec_col)
    pts.persist()
    try:
        cents = init if init is not None else init_centroids(pts, k, id_col, vec_col)
        if not cents:
            raise ValueError("empty points input")
        dim = len(cents[0][1])
        ids = [cid for cid, _ in cents]
        for _ in range(n_iter):
            partials = _partial_sums_df(pts, [v for _, v in cents], vec_col).collect()
            if not partials:
                raise ValueError("empty points input")
            sums: dict[int, list] = {}
            for r in partials:
                acc = sums.setdefault(r["cid"], [0] + [0.0] * dim)
                acc[0] += r["n"]
                for i in range(dim):
                    acc[i + 1] += r[f"s{i}"]
            # empty clusters keep their previous centroid (see module doc)
            new_cents = [
                (
                    ids[pos],
                    [s / sums[pos][0] for s in sums[pos][1:]]
                    if pos in sums
                    else old,
                )
                for pos, (_, old) in enumerate(cents)
            ]
            if tol is not None:
                shift = max(
                    sum((a - b) * (a - b) for a, b in zip(nv, ov))
                    for (_, nv), (_, ov) in zip(new_cents, cents)
                )
                cents = new_cents
                if shift < tol:
                    break
            else:
                cents = new_cents
    finally:
        pts.unpersist()
    return KMeansModel(centroids=cents, dim=dim, vec_col=vec_col)


def wcss(assigned: DataFrame) -> float:
    """Within-cluster sum of squares — the Lloyd's objective; must be
    monotonically non-increasing across iterations (property test)."""
    row = assigned.agg(F.sum("dist").alias("cost")).first()
    return float(row["cost"])


def datagen(
    spark: SparkSession,
    n_points: int = 10_000,
    k: int = 10,
    dim: int = 2,
    stddev: float = 0.08,
    value_range: float = 100.0,
    seed: int = 42,
    partitions: int = 32,
) -> DataFrame:
    """KMeansDataGenerator parity (SURVEY §2A A11): seeded Gaussian blobs
    around k uniform-random centers (stddev 0.08, range 100 [EXPECTED]).

    Fully distributed: ``spark.range`` partitions the id space, centers
    are a tiny literal, and ``randn(seed)`` is deterministic per row —
    no driver-side data generation, so it scales to any n_points.
    """
    import random

    rng = random.Random(seed)
    centers = [
        [rng.uniform(-value_range / 2, value_range / 2) for _ in range(dim)]
        for _ in range(k)
    ]
    centers_col = F.array(
        *[F.array(*[F.lit(c) for c in center]) for center in centers]
    )
    base = spark.range(0, n_points, 1, partitions).withColumn(
        "label", (F.col("id") % k).cast("int")
    )
    noise = F.array(*[F.randn(seed + i) * stddev for i in range(dim)])
    point = F.zip_with(
        F.element_at(centers_col, F.col("label") + 1), noise, lambda c, e: c + e
    )
    return base.select(
        F.col("id").alias("vec_id"), point.alias("embedding"), "label"
    )
