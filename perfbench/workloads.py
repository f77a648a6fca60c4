"""The benchmark's workloads: which public calls each op makes, and the
reference each op's output is checked against.

Every op is one closed-loop call by a single client: registry ops call
the query callable (the ``plans`` layer builds the DataFrame) and then
``toPandas()`` as the sink; the ``lloyd`` blob ops call
``operators.kmeans`` directly.
"""

from __future__ import annotations

import importlib.util
import os
from dataclasses import dataclass

import numpy as np

BLOBS_N, BLOBS_K, BLOBS_DIM, BLOBS_ITERS = 20_000, 16, 32, 10
CENTROID_TOL = 1e-6


@dataclass(frozen=True)
class Op:
    name: str
    kind: str  # "fit", "assign" or "fixture_fit" (lloyd); "read" or "write" (llm_ingest)


@dataclass(frozen=True)
class Workload:
    ops: list[Op]
    # Fixed per workload so every run measures the same work. One warm-up
    # pass takes the first-call costs; the JVM keeps compiling driver-side
    # code for several passes after it (llm_ingest passes measured 12.6,
    # 9.9, 10.5, 9.4, 8.5, 8.3 s), which is the same curve in every run.
    # Three timed passes let the median pass ignore one pass slowed by
    # the host (seconds of CPU steal on a shared machine). Why each
    # workload exists is recorded in BENCHMARK.json.
    warmup_passes: int
    timed_passes: int


WORKLOADS: dict[str, Workload] = {
    "lloyd": Workload(
        [Op("blobs_fit", "fit"), Op("blobs_assign", "assign"), Op("kmeans_fit", "fixture_fit")],
        warmup_passes=1,
        timed_passes=3,
    ),
    "llm_ingest": Workload(
        [
            *(
                Op(k, "read")
                for k in ("dedup_minhash", "sim_cosine_topk", "text_ngram_freq")
            ),
            *(Op(k, "write") for k in ("dedup_minhash_incremental", "streaming_cdc_apply")),
        ],
        warmup_passes=1,
        timed_passes=3,
    ),
}


def _check_oracles_module(root: str):
    """``tools/check_oracles.py``, whose compare rule the registry ops use."""
    path = os.path.join(root, "tools", "check_oracles.py")
    spec = importlib.util.spec_from_file_location("check_oracles", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def numpy_lloyd(points: np.ndarray, k: int, n_iter: int) -> np.ndarray:
    """Reference Lloyd's: first ``k`` points as the initial centroids,
    nearest centroid with the lowest index on ties, and an empty
    cluster keeps its centroid (``operators.kmeans`` module doc)."""
    cents = points[:k].copy()
    for _ in range(n_iter):
        labels = _nearest(points, cents)[0]
        for c in range(k):
            members = points[labels == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def _nearest(points: np.ndarray, cents: np.ndarray, chunk: int = 4096):
    """Nearest centroid and its squared distance, by the same direct
    (p - c)^2 sum as ``assign_arrow``, in chunks to bound memory."""
    labels, dist = [], []
    for lo in range(0, len(points), chunk):
        d2 = ((points[lo:lo + chunk, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        labels.append(a)
        dist.append(d2[np.arange(len(a)), a])
    return np.concatenate(labels), np.concatenate(dist)


class Runner:
    """Runs and checks the ops of one workload against one input set."""

    def __init__(self, spark, root: str, sf_dir: str, blobs_path: str,
                 blobs: np.ndarray, centers: np.ndarray, tracer):
        from flink_kmeans_spark.operators import kmeans
        from flink_kmeans_spark.plans.registry import specs

        self.spark, self.sf_dir, self.blobs_path = spark, sf_dir, blobs_path
        self.blobs, self.centers = blobs, centers
        self.tracer, self.kmeans = tracer, kmeans
        self.specs = specs()
        self.co = _check_oracles_module(root)
        self.expected: dict[str, object] = {}

    def run(self, op: Op):
        """The timed call; returns the op's output."""
        if op.name == "blobs_fit":
            pts = self.spark.read.parquet(self.blobs_path)
            model = self.kmeans.fit(pts, k=BLOBS_K, n_iter=BLOBS_ITERS)
            return np.array([v for _, v in model.centroids])
        if op.name == "blobs_assign":
            pts = self.spark.read.parquet(self.blobs_path)
            # the generating centers, so the op does not depend on a fit
            cents = list(enumerate(self.centers.tolist()))
            return self.kmeans.assign_arrow(pts, cents).toPandas()
        with self.tracer.span("plans.build"):
            df = self.specs[op.name].fn(self.spark, self.sf_dir)
        with self.tracer.span("sink"):
            return df.toPandas()

    def prepare_expected(self, ops: list[Op]) -> None:
        """Reference outputs, computed once outside the timed region."""
        con = self.co.duckdb_conn(self.sf_dir)
        for op in ops:
            if op.name == "blobs_fit":
                self.expected[op.name] = numpy_lloyd(self.blobs, BLOBS_K, BLOBS_ITERS)
            elif op.name == "blobs_assign":
                self.expected[op.name] = _nearest(self.blobs, self.centers)
            else:
                self.expected[op.name] = con.execute(self.specs[op.name].oracle).df()
        con.close()

    def check(self, op: Op, out) -> list[str]:
        """Problems with ``out``; empty when it matches the reference."""
        want = self.expected[op.name]
        if op.name == "blobs_fit":
            err = float(np.abs(out - want).max())
            return [] if err <= CENTROID_TOL else [f"centroids off by {err:.3g}"]
        if op.name == "blobs_assign":
            got = out.sort_values("vec_id")
            labels, dist = want
            problems = []
            if len(got) != len(labels):
                return [f"rowcount {len(got)} != {len(labels)}"]
            if not np.array_equal(got["cid"].to_numpy(), labels):
                problems.append("labels differ from numpy argmin")
            if not np.allclose(got["dist"].to_numpy(), dist, rtol=0, atol=CENTROID_TOL):
                problems.append("distances differ from numpy")
            return problems
        return self.co.compare(op.name, out, want)
