"""Influence maximization (gds.alpha.influenceMaximization.{celf,greedy}).

Reference: alpha/alpha-algo/src/main/java/org/neo4j/gds/impl/
influenceMaximization/CELF.java — greedy seed selection under the
independent-cascade model, with CELF lazy marginal-gain evaluation over
per-node Monte-Carlo simulations.  CELF's lazy priority queue is inherently
driver-sequential; the scalable formulation of the SAME objective is
Reverse-Influence-Sampling (RIS / Borgs et al., the basis of TIM/IMM):

1. sample R random reverse-reachable (RR) sets — reverse BFS from a random
   root over edges kept with probability p (seeded md5 arithmetic per
   (sample, edge), partition-stable);
2. greedy max-coverage over the RR sets: k rounds of "pick the node covering
   the most uncovered sets" (one groupBy + top-1 per round);
3. spread estimate of the seed set = n * covered_fraction — an unbiased
   estimator of the expected independent-cascade spread.

All heavy steps are joins/aggregations; the only driver loop is k rounds of
one aggregate each (k is small by definition of the problem).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.plans.checkpoint import SuperstepCheckpointer
from graph_data_science_spark.session import no_aqe


@dataclass
class InfluenceResult:
    seeds: list  # [(node, marginal_sets_covered)]
    spread_estimate: float  # expected IC spread of the seed set
    n_rr_sets: int
    metrics: list = field(default_factory=list)


def _u01(*cols):
    key = F.concat_ws(":", *[c.cast("string") for c in cols])
    return F.conv(F.substring(F.md5(key), 1, 6), 16, 10).cast("double") / float(16**6)


def influence_maximization(
    graph: LinkGraph,
    k: int = 5,
    propagation_probability: float = 0.1,
    n_rr_sets: int = 200,
    seed: int = 42,
    max_depth: int = 30,
    checkpoint_path: Optional[str] = None,
) -> InfluenceResult:
    spark = graph.nodes.sparkSession
    ckpt = SuperstepCheckpointer(spark, checkpoint_path)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    p = float(propagation_probability)

    # reverse edges (RR sets walk AGAINST influence flow)
    rev = (
        graph.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        .distinct()
        .repartition(n_part, "src")
        .cache()
    )
    n = graph.node_count()

    # random roots: sample_id -> node picked by seeded index into the sorted
    # node list (distributed zipWithIndex, no global window)
    from pyspark.sql import types as T

    rdd = graph.nodes.select("id").orderBy("id").rdd.map(lambda r: r["id"]).zipWithIndex()
    idx = spark.createDataFrame(
        rdd, T.StructType([T.StructField("node", T.LongType(), False),
                           T.StructField("idx", T.LongType(), False)])
    )
    samples = spark.range(n_rr_sets).select(F.col("id").alias("set_id"))
    roots = samples.select(
        "set_id",
        (_u01(F.col("set_id"), F.lit("root"), F.lit(seed)) * n).cast("long").alias("idx"),
    ).join(idx, "idx").select("set_id", F.col("node").alias("id"))

    member = roots
    member = ckpt.checkpoint(member, 0, name="rr")
    frontier = member
    with no_aqe(spark):
        for depth in range(1, max_depth + 1):
            # edge (u -> v) live in sample s iff u01(s, u, v) < p; note the
            # predicate keys the ORIGINAL edge direction (dst, src of rev)
            nxt = (
                frontier.join(rev, frontier["id"] == rev["src"])
                .where(
                    _u01(F.col("set_id"), F.col("dst"), F.col("src"), F.lit(seed)) < p
                )
                .select("set_id", F.col("dst").alias("id"))
                .distinct()
                .join(member, ["set_id", "id"], "left_anti")
            )
            nxt, row = ckpt.commit(
                nxt, depth, name="rr_frontier", log=False, c=F.count(F.lit(1))
            )
            if row["c"] == 0:
                break
            member = ckpt.checkpoint(member.unionByName(nxt), depth, name="rr")
            frontier = nxt

    # greedy max coverage: k rounds of top-1 by covered-set count
    seeds: list = []
    covered_total = 0
    remaining = member
    for _ in range(k):
        top = (
            remaining.groupBy("id")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("id"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        node, cnt = int(top[0]["id"]), int(top[0]["cnt"])
        seeds.append((node, cnt))
        covered_total += cnt
        covered_sets = remaining.where(F.col("id") == node).select("set_id")
        remaining = remaining.join(covered_sets, "set_id", "left_anti")
        remaining = ckpt.checkpoint(remaining, len(seeds), name="rr_remaining")
        ckpt.log(len(seeds), algorithm="influence_ris", seed_node=node, covered=cnt)

    rev.unpersist()
    spread = n * covered_total / max(n_rr_sets, 1)
    return InfluenceResult(seeds, float(spread), n_rr_sets, ckpt.metrics)
