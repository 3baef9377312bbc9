"""Louvain community detection (gds.louvain.*) via iterative modularity
optimization + graph coarsening.

Reference: algo/src/main/java/org/neo4j/gds/louvain/Louvain.java:52,90-140 —
up to maxLevels levels; each level runs ModularityOptimization (parallel
local-moving, algo/.../beta/modularity/ModularityOptimization.java) then
contracts communities into a coarser graph and repeats; final communities are
the composition of per-level assignments.

Spark decomposition:
- local moving (sync rounds): for each node, the modularity gain of moving to
  a neighboring community C is  dq(v→C) = w(v,C)/m − γ·deg(v)·vol(C)/(2m²)
  (standard undirected Louvain gain, resolution γ=1).  One round =
  join(edges, comm) → groupBy(node, cand_comm).sum(w) → join volumes →
  window top-1 gain (ties → smaller community id) → apply moves for nodes
  whose gain > 0.  To avoid oscillation with synchronous updates, a round
  only moves nodes where (id + round) % 2 == 0 — the deterministic analog of
  the reference's color-batched conflict-free scheduling (K1 coloring there).
- coarsening: `groupBy(comp(src), comp(dst)).sum(weight)` builds the
  next-level edge DF (self-loops = internal weight, kept — they count in the
  volume term).
- composition: a `node → community` mapping joined through each level.

Undirected semantics: the input edge set is canonicalized and each edge
counted once; volumes use weighted degrees with self-loops counted twice,
matching standard modularity bookkeeping.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.plans.checkpoint import SuperstepCheckpointer


@dataclass
class LouvainConfig:
    max_levels: int = 10  # LouvainBaseConfig maxLevels default 10
    max_inner_iterations: int = 10
    tolerance: float = 1e-4  # min modularity improvement to start a new level
    checkpoint_path: Optional[str] = None
    # retain the per-level dendrogram (Louvain.java:90-140 keeps a
    # HugeLongArray per level; includeIntermediateCommunities in the proc
    # config).  The per-level assignments are already checkpointed as
    # `louvain_assign` — this only keeps their handles and joins them at
    # the end, so the extra cost is one k-way join of (id, long) frames.
    include_intermediate: bool = False


@dataclass
class LouvainResult:
    communities: DataFrame  # id, community
    modularity: float
    modularities: list  # per level
    ran_levels: int
    metrics: list = field(default_factory=list)
    # id, intermediate_communities array<long> (one entry per ran level;
    # last element == final community) when include_intermediate
    intermediate_communities: Optional[DataFrame] = None


def _canonical_weighted(graph: LinkGraph) -> DataFrame:
    """Undirected weighted edges (a <= b, parallel-summed; self-loops kept)."""
    return (
        graph.edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.col("weight"),
        )
        .groupBy("a", "b")
        .agg(F.sum("weight").alias("w"))
    )


def _modularity(edges: DataFrame, comm: DataFrame, m: float) -> float:
    """Undirected modularity of assignment `comm(id, community)` on canonical
    edges (a<=b, weight w): Q = Σ_C [ int_C/m − (vol_C/(2m))² ]."""
    ca = comm.select(F.col("id").alias("a"), F.col("community").alias("c_a"))
    cb = comm.select(F.col("id").alias("b"), F.col("community").alias("c_b"))
    e = edges.join(ca, "a").join(cb, "b")
    internal = (
        e.where(F.col("c_a") == F.col("c_b"))
        .groupBy(F.col("c_a").alias("c"))
        .agg(F.sum("w").alias("int_w"))
    )
    # volume: each endpoint contributes w; self-loop contributes 2w to its node
    vol = (
        e.select(F.col("c_a").alias("c"), F.col("w"))
        .unionByName(e.select(F.col("c_b").alias("c"), F.col("w")))
        .groupBy("c")
        .agg(F.sum("w").alias("vol"))
    )
    j = vol.join(internal, "c", "left").select(
        "c",
        F.coalesce("int_w", F.lit(0.0)).alias("int_w"),
        "vol",
    )
    row = j.agg(
        F.sum(F.col("int_w") / F.lit(m) - (F.col("vol") / F.lit(2 * m)) ** 2)
    ).collect()[0][0]
    return float(row or 0.0)


def _local_moving(
    edges: DataFrame,
    nodes: DataFrame,
    m: float,
    cfg: LouvainConfig,
    ckpt: SuperstepCheckpointer,
    level: int,
) -> DataFrame:
    """One level of modularity optimization; returns id -> community."""
    sym = edges.where(F.col("a") != F.col("b")).select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "w"
    ).unionByName(
        edges.where(F.col("a") != F.col("b")).select(
            F.col("b").alias("src"), F.col("a").alias("dst"), "w"
        )
    )
    # weighted degree (self-loops count twice)
    deg = (
        edges.select(F.col("a").alias("id"), F.when(F.col("a") == F.col("b"), 2 * F.col("w")).otherwise(F.col("w")).alias("w"))
        .unionByName(
            edges.where(F.col("a") != F.col("b")).select(F.col("b").alias("id"), "w")
        )
        .groupBy("id")
        .agg(F.sum("w").alias("deg"))
    )
    nodes_deg = nodes.join(deg, "id", "left").select(
        "id", F.coalesce("deg", F.lit(0.0)).alias("deg")
    ).cache()

    comm = nodes_deg.select("id", F.col("id").alias("community"), "deg")
    comm = ckpt.checkpoint(comm, 0, name=f"louvain_l{level}")
    sym = sym.cache()

    for it in range(1, cfg.max_inner_iterations + 1):
        vols = comm.groupBy("community").agg(F.sum("deg").alias("vol"))
        cd = comm.select(F.col("id").alias("dst"), F.col("community").alias("cand"))
        # weight from each node to each neighboring community
        w_to = (
            sym.join(cd, "dst")
            .groupBy("src", "cand")
            .agg(F.sum("w").alias("w_vc"))
        )
        cur = comm.select(
            F.col("id").alias("src"), F.col("community").alias("cur"), F.col("deg")
        )
        cand = (
            w_to.join(cur, "src")
            .join(vols.withColumnRenamed("community", "cand"), "cand")
            # gain of joining cand (vol excludes v if v ∈ cand — adjust)
            .select(
                "src",
                "cand",
                "cur",
                (
                    F.col("w_vc") / F.lit(m)
                    - F.col("deg")
                    * (F.col("vol") - F.when(F.col("cand") == F.col("cur"), F.col("deg")).otherwise(0.0))
                    / F.lit(2 * m * m)
                ).alias("gain"),
            )
        )
        w = Window.partitionBy("src").orderBy(F.desc("gain"), F.asc("cand"))
        best = (
            cand.withColumn("rn", F.row_number().over(w))
            .where("rn = 1")
            .where(F.col("gain") > 0)
            .where(F.col("cand") != F.col("cur"))
            .select(F.col("src").alias("id"), F.col("cand").alias("new_comm"))
        )
        # conflict-free batching: only half the nodes APPLY their move per
        # round (deterministic analog of the reference's color-batched
        # scheduling).  Convergence tests the UNFILTERED candidate count —
        # a round whose movers all sit in the skipped parity class must not
        # terminate the loop.  Both counts ride the checkpoint write
        # (observe) — one action per inner iteration.
        apply_gate = (F.col("id") + it) % 2 == 0
        merged = comm.join(best, "id", "left").select(
            "id",
            F.when(F.col("new_comm").isNotNull() & apply_gate, F.col("new_comm"))
            .otherwise(F.col("community"))
            .alias("community"),
            "deg",
            F.col("new_comm").isNotNull().alias("_cand"),
            (F.col("new_comm").isNotNull() & apply_gate).alias("_moved"),
        )
        comm, row = ckpt.commit(
            merged, it, name=f"louvain_l{level}", drop=("_cand", "_moved"), log=False,
            cand_moves=F.sum(F.col("_cand").cast("long")),
            moved=F.sum(F.col("_moved").cast("long")),
        )
        ckpt.log(it, algorithm="louvain_move", level=level, **row)
        if row["cand_moves"] == 0:
            break

    nodes_deg.unpersist()
    sym.unpersist()
    return comm.select("id", "community")


def louvain(graph: LinkGraph, cfg: Optional[LouvainConfig] = None) -> LouvainResult:
    cfg = cfg or LouvainConfig()
    spark = graph.nodes.sparkSession
    ckpt = SuperstepCheckpointer(spark, cfg.checkpoint_path)

    edges = _canonical_weighted(graph).cache()
    m = edges.agg(F.sum("w")).collect()[0][0] or 1.0
    nodes = graph.nodes.select("id")

    # node -> community composed across levels
    assignment = nodes.select("id", F.col("id").alias("community"))
    modularities: list[float] = []
    level_assignments: list[DataFrame] = []  # composed per-level (dendrogram)
    ran_levels = 0
    t0 = time.time()

    lvl_edges, lvl_nodes = edges, nodes
    for level in range(1, cfg.max_levels + 1):
        comm = _local_moving(lvl_edges, lvl_nodes, m, cfg, ckpt, level)
        q = _modularity(lvl_edges, comm, m)
        ckpt.log(level, algorithm="louvain_level", modularity=q, wall_s=time.time() - t0)
        # compose: nodes' current community -> new community of that community-node
        mapping = comm.select(
            F.col("id").alias("community_key"), F.col("community").alias("new_comm")
        )
        assignment = (
            assignment.join(mapping, assignment["community"] == mapping["community_key"])
            .select("id", F.col("new_comm").alias("community"))
        )
        assignment = ckpt.checkpoint(assignment, level, name="louvain_assign")
        if cfg.include_intermediate:
            level_assignments.append(assignment)
        ran_levels = level
        if modularities and q - modularities[-1] < cfg.tolerance:
            modularities.append(q)
            break
        modularities.append(q)
        # coarsen: communities become nodes; aggregate edge weights
        ca = comm.select(F.col("id").alias("a"), F.col("community").alias("c_a"))
        cb = comm.select(F.col("id").alias("b"), F.col("community").alias("c_b"))
        nxt = (
            lvl_edges.join(ca, "a")
            .join(cb, "b")
            .select(
                F.least("c_a", "c_b").alias("a"),
                F.greatest("c_a", "c_b").alias("b"),
                "w",
            )
            .groupBy("a", "b")
            .agg(F.sum("w").alias("w"))
        )
        nxt = ckpt.checkpoint(nxt, level, name="louvain_edges")
        n_next = comm.select("community").distinct().count()
        n_cur = lvl_nodes.count()
        if n_next == n_cur:  # no contraction -> converged
            break
        lvl_edges = nxt
        lvl_nodes = comm.select(F.col("community").alias("id")).distinct()

    edges.unpersist()
    final_q = modularities[-1] if modularities else 0.0
    intermediate = None
    if cfg.include_intermediate and level_assignments:
        # dendrogram join: each element is already COMPOSED down to original
        # node ids (Louvain.java:90-140 parity — its dendrogram stores the
        # per-level community of every original node, not the coarse node),
        # so level k is a refinement history: equal at level i => equal at
        # every later level.  k <= max_levels (10) joins of (id, long) rows.
        intermediate = nodes
        for i, a in enumerate(level_assignments):
            intermediate = intermediate.join(
                a.select("id", F.col("community").alias(f"_c{i}")), "id"
            )
        intermediate = intermediate.select(
            "id",
            F.array(*[F.col(f"_c{i}") for i in range(len(level_assignments))]
                    ).alias("intermediate_communities"),
        )
    return LouvainResult(
        assignment, final_q, modularities, ran_levels, ckpt.metrics,
        intermediate_communities=intermediate,
    )
