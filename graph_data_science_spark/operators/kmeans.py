"""KMeans over node property vectors (gds.kmeans.*).

Reference: algo/src/main/java/org/neo4j/gds/kmeans/Kmeans.java — Lloyd's
iterations over a node array property: assign each node to the nearest
centroid (Euclidean), recompute centroids as cluster means, stop when no
assignment changes or maxIterations.

Spark decomposition: centroids are tiny (k rows) -> broadcast; assignment is
a broadcast-joined argmin over k distance expressions (JVM higher-order
functions, no Python); centroid recompute is one groupBy over exploded
(cluster, dim, value) triples — a single shuffle bounded by k*dim groups.
Deterministic init: the k nodes with smallest ids seed the centroids
(the reference samples with a seeded RNG; any deterministic seed set
satisfies the contract — tests assert convergence + cluster quality, not a
specific seed sequence).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.plans.checkpoint import SuperstepCheckpointer


@dataclass
class KmeansConfig:
    k: int = 10
    max_iterations: int = 10
    checkpoint_path: Optional[str] = None


@dataclass
class KmeansResult:
    assignments: DataFrame  # id, cluster
    centroids: list  # list of k vectors
    ran_iterations: int
    did_converge: bool
    metrics: list = field(default_factory=list)


def kmeans(
    df: DataFrame,
    cfg: Optional[KmeansConfig] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> KmeansResult:
    cfg = cfg or KmeansConfig()
    spark = df.sparkSession
    ckpt = SuperstepCheckpointer(spark, cfg.checkpoint_path)

    base = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).cache()

    # deterministic init: k smallest ids; fewer rows than k -> clamp k_eff
    init_rows = base.orderBy("id").limit(cfg.k).collect()
    centroids = [list(r["v"]) for r in init_rows]
    k_eff = len(centroids)

    def assign_step(cents: list[list[float]]) -> DataFrame:
        """Nearest-centroid assignment with O(1) generated code in k.

        Inlining one literal-array expression per centroid blows Janino
        codegen up O(k*dim) per iteration (measured 30x at k=16, impossible
        at a realistic IVF n_lists=4096 — see ann.py's coarse quantizer).
        Instead the centroids travel as DATA: a broadcast 1-row table holding
        array<struct<cluster,c>>, crossJoined in (stays in the base row's
        partition — no shuffle), argmin via array_min over a transform
        (lexicographic struct order = min d2, ties -> lower cluster, the same
        rule as the reference's sequential scan Kmeans.java:findNearest).
        """
        cent_df = spark.createDataFrame(
            [(j, [float(x) for x in c]) for j, c in enumerate(cents)],
            "cluster int, c array<double>",
        ).agg(F.collect_list(F.struct("cluster", "c")).alias("_cents"))
        scored = base.crossJoin(F.broadcast(cent_df))
        ds = F.transform(
            "_cents",
            lambda cen: F.struct(
                F.aggregate(
                    F.zip_with("v", cen["c"], lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d2"),
                cen["cluster"].alias("cluster"),
            ),
        )
        best = F.array_min(ds)
        return scored.select(
            "id", "v", best["cluster"].alias("cluster"), best["d2"].alias("d2")
        )

    assign = None
    ran, converged = cfg.max_iterations, False
    t0 = time.time()
    for t in range(1, cfg.max_iterations + 1):
        new_assign = assign_step(centroids)
        # change-count rides the checkpoint write (observe) — one extra join
        # against the previous assignment, zero extra jobs
        counters = {"sse": F.sum("d2")}
        if assign is not None:
            new_assign = new_assign.join(
                assign.select("id", F.col("cluster").alias("_old")), "id"
            )
            counters["chg"] = F.sum((F.col("cluster") != F.col("_old")).cast("long"))
        new_assign, row = ckpt.commit(new_assign, t, drop=("_old",), log=False, **counters)
        changed = int(row.get("chg", -1))
        assign = new_assign
        ckpt.log(
            t, algorithm="kmeans", changed=changed,
            sse=float(row["sse"]), wall_s=time.time() - t0,
        )
        if changed == 0:
            ran, converged = t, True
            break
        if t == cfg.max_iterations:
            break  # keep `centroids` == the ones this assignment is argmin of

        # recompute centroids: explode to (cluster, dim, x), mean per cell
        exploded = assign.select(
            "cluster", F.posexplode("v").alias("dim", "x")
        )
        means = (
            exploded.groupBy("cluster", "dim")
            .agg(F.avg("x").alias("mu"))
            .groupBy("cluster")
            .agg(F.sort_array(F.collect_list(F.struct("dim", "mu"))).alias("cells"))
            .select("cluster", F.col("cells.mu").alias("centroid"))
            .collect()
        )
        by_cluster = {r["cluster"]: list(r["centroid"]) for r in means}
        centroids = [by_cluster.get(j, centroids[j]) for j in range(k_eff)]

    base.unpersist()
    return KmeansResult(
        assign.select("id", "cluster"), centroids, ran, converged, ckpt.metrics
    )
