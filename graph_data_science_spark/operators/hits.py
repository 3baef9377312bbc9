"""HITS hubs & authorities (gds.alpha.hits).

Reference: alpha/alpha-proc/src/main/java/org/neo4j/gds/pregel/Hits.java —
phased Pregel: auth(v) = Σ hub(u) over in-edges, then global L2 normalization
via masterCompute; hub(u) = Σ auth(v) over out-edges, normalized likewise.

Spark decomposition: two join+sum aggregations per iteration — and exactly
TWO actions per iteration (one checkpoint write per phase).  The global L2
norm of each phase rides that phase's checkpoint write as an `observe()`
metric, so normalization costs no extra job and nothing is recomputed: the
normalized column is derived lazily from the materialized raw column and
the observed scalar (the masterCompute analog).  The convergence delta
likewise rides the hub-phase write.  (The naive shape is 3 collects + 3
checkpoints per iteration; a broadcast-scalar-subplan variant gets to one
action but re-executes the phase joins inside the norm subplans, which
costs more than the barrier it saves.)
"""

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.plans.checkpoint import SuperstepCheckpointer
from graph_data_science_spark.session import cache_copartitioned


@dataclass
class HitsConfig:
    hits_iterations: int = 20
    tolerance: float = 1e-8  # L2 delta of auth vector between iterations
    checkpoint_path: Optional[str] = None


@dataclass
class HitsResult:
    scores: DataFrame  # id, auth, hub
    ran_iterations: int
    did_converge: bool
    metrics: list = field(default_factory=list)


def hits(graph: LinkGraph, cfg: Optional[HitsConfig] = None) -> HitsResult:
    cfg = cfg or HitsConfig()
    spark = graph.nodes.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    ran, converged = cfg.hits_iterations, False
    with SuperstepCheckpointer.for_algorithm(
        "hits", graph, cfg.hits_iterations, cfg.checkpoint_path, state_cols=3
    ) as loop:
        edges = loop.hold(cache_copartitioned(
            graph.edges.select("src", "dst").distinct(), n_part, "src"
        ))
        state = loop.initial(lambda: graph.nodes.select(
            "id", F.lit(1.0).alias("auth"), F.lit(1.0).alias("hub")
        ))
        for t in loop.supersteps():
            # auth phase: auth(v) = Σ hub(u) for u->v; the L2 norm rides the
            # phase checkpoint via observe (no extra job, no recompute)
            hubs = state.select(F.col("id").alias("src"), "hub")
            auth_raw = (
                edges.join(hubs, "src").groupBy("dst").agg(F.sum("hub").alias("auth_raw"))
            )
            s1 = state.join(auth_raw, state["id"] == auth_raw["dst"], "left").select(
                state["id"],
                F.coalesce("auth_raw", F.lit(0.0)).alias("auth_new"),
                F.col("auth").alias("auth_prev"),
                "hub",
            )
            s1, c = loop.commit(
                s1, t, name="auth_phase", log=False, ss=F.sum(F.col("auth_new") ** 2)
            )
            na = float(c["ss"]) ** 0.5 or 1.0

            # hub phase: hub(u) = Σ auth(v) for u->v; normalized auth derived
            # lazily from the materialized raw column + the observed scalar
            auth_n = F.col("auth_new") / F.lit(na)
            auths = s1.select(F.col("id").alias("dst"), auth_n.alias("auth_n"))
            hub_raw = (
                edges.join(auths, "dst").groupBy("src").agg(F.sum("auth_n").alias("hub_raw"))
            )
            s2 = s1.join(hub_raw, s1["id"] == hub_raw["src"], "left").select(
                s1["id"],
                auth_n.alias("auth"),
                F.col("auth_prev"),
                F.coalesce("hub_raw", F.lit(0.0)).alias("hub_new"),
            )
            s2, c = loop.commit(
                s2, t, name="hub_phase",
                ss=F.sum(F.col("hub_new") ** 2),
                l2_delta=F.sqrt(F.sum((F.col("auth") - F.col("auth_prev")) ** 2)),
            )
            nh = float(c["ss"]) ** 0.5 or 1.0
            state = s2.select(
                "id", "auth", (F.col("hub_new") / F.lit(nh)).alias("hub")
            )
            if float(c["l2_delta"]) <= cfg.tolerance:
                ran, converged = t, True
                break

    return HitsResult(state.select("id", "auth", "hub"), ran, converged, loop.metrics)
