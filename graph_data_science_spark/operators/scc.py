"""Strongly connected components (gds.alpha.scc.*).

Reference semantics: alpha/alpha-algo/src/main/java/org/neo4j/gds/impl/scc/
SccAlgorithm.java — every node is assigned the id of its strongly connected
component; the reference uses a sequential iterative Tarjan variant, which
has no scalable Spark analog.  This implementation uses the standard
distributed decomposition (coloring / forward-backward, cf. Orzan 2004 and
the FW-BW-Trim literature cited in PAPERS.md):

repeat until no active nodes:
  1. TRIM: iteratively peel nodes with in-degree 0 or out-degree 0 within the
     active subgraph — each is a singleton SCC (kills the long tails of web
     graphs cheaply).
  2. COLOR: propagate max node id forward to a fixpoint;
     color(v) = max id that reaches v.  Each color class c contains the
     complete SCC of node c (and maybe more).
  3. BACKWARD: BFS from each color root c along REVERSED edges restricted to
     same-color nodes; the reached set IS the SCC of c (mutual reachability:
     forward via color, backward via the BFS).  All roots run batched in one
     (root, id) pair frontier.
  4. Remove found SCCs from the active set; repeat.

Plus the Multistep finish (Slota, Rajamanickam, Madduri, IPDPS 2014 "BFS and
Coloring-Based Parallel Algorithms for Strongly Connected Components"): once
trim + the first FW-BW pass have removed the giant SCC and the singleton
tails, the active residue of a web-like graph is a long tail of tiny SCCs
whose remaining distributed rounds are all scheduling overhead.  The active
set is SCC-closed (FW-BW only ever removes COMPLETE SCCs), so when it fits
under `local_finish_nodes` — and its induced edge set under
`local_finish_edges` — the residue is collected and finished with one
iterative Tarjan pass on the driver, exactly as the Multistep paper switches
to its serial phase.  Both guards are explicit; an over-large residue simply
continues distributed.  The reference itself is a sequential Tarjan variant
(SccAlgorithm.java), so the local phase is also semantics-identical to it.

Every phase is joins + groupBy aggregations with parquet-checkpointed state;
convergence counts ride the checkpoint writes (observe) — no extra jobs.
Output component id = MIN member id (matching WCC's union-by-min convention
and the SQL oracle's mutual-reachability definition).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.plans.checkpoint import SuperstepCheckpointer
from graph_data_science_spark.session import no_aqe


@dataclass
class SccResult:
    components: DataFrame  # id, comp (min member id of the SCC)
    outer_rounds: int
    metrics: list = field(default_factory=list)


def _tarjan_local(node_ids: list, edges: list) -> dict:
    """Iterative Tarjan over an adjacency dict; comp = min member id.

    Serial phase of the Multistep finish — bounded by the caller's
    local_finish_nodes/edges guards, never run on unbounded input.
    """
    adj: dict = {u: [] for u in node_ids}
    for s, d in edges:
        if s in adj and d in adj:
            adj[s].append(d)
    index: dict = {}
    low: dict = {}
    on_stack: set = set()
    stack: list = []
    comp_of: dict = {}
    ctr = 0
    for root in node_ids:
        if root in index:
            continue
        index[root] = low[root] = ctr
        ctr += 1
        stack.append(root)
        on_stack.add(root)
        work = [(root, iter(adj[root]))]
        while work:
            v, it = work[-1]
            pushed = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = ctr
                    ctr += 1
                    stack.append(w)
                    on_stack.add(w)
                    work.append((w, iter(adj[w])))
                    pushed = True
                    break
                if w in on_stack and index[w] < low[v]:
                    low[v] = index[w]
            if pushed:
                continue
            work.pop()
            if work:
                u = work[-1][0]
                if low[v] < low[u]:
                    low[u] = low[v]
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    members.append(w)
                    if w == v:
                        break
                m = min(members)
                for w in members:
                    comp_of[w] = m
    return comp_of


def scc(
    graph: LinkGraph,
    max_outer_rounds: int = 50,
    checkpoint_path: Optional[str] = None,
    window: int = 4,
    local_finish_nodes: int = 10_000,
    local_finish_edges: int = 1_000_000,
) -> SccResult:
    spark = graph.nodes.sparkSession
    ckpt = SuperstepCheckpointer(spark, checkpoint_path)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    all_edges = (
        graph.edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(n_part, "src")
        .cache()
    )
    # unique checkpoint names per outer round: trimmed-singleton parts keep
    # lazy references to start-of-window actives until the final union, so
    # none of these may be evicted by the per-name history window
    active = graph.nodes.select("id")
    active = ckpt.checkpoint(active, 0, name="active_0")
    assigned_parts: list = []  # per-phase (id, comp) frames, unioned lazily

    t0 = time.time()
    outer = 0
    with no_aqe(spark):
        while outer < max_outer_rounds:
            outer += 1

            # -- 1. trim singleton SCCs (no in- or no out-edge in the active
            # subgraph), iterated to a fixpoint.  `window` peel rounds are
            # composed LAZILY and materialized with ONE action per window
            # (web graphs have long peel tails; a checkpoint per round made
            # trim the dominant cost of the whole decomposition).  The last
            # in-window round's trim count rides the write via observe: 0
            # means the fixpoint was reached inside the window (later rounds
            # of a converged peel are no-ops).  Trimmed nodes are recovered
            # per window as start-of-window minus end-of-window actives, both
            # checkpointed frames with unique names so the lazy singleton
            # parts survive until the final union.
            trim_round = 0
            trim_w = 0
            n_active = None
            while True:
                trim_w += 1
                win_start = active
                cur = active
                for _ in range(window):
                    trim_round += 1
                    e = (
                        all_edges.join(cur.withColumnRenamed("id", "src"), "src", "left_semi")
                        .join(cur.withColumnRenamed("id", "dst"), "dst", "left_semi")
                    )
                    srcs = e.select(F.col("src").alias("id")).distinct().withColumn("_s", F.lit(1))
                    dsts = e.select(F.col("dst").alias("id")).distinct().withColumn("_d", F.lit(1))
                    marked = (
                        cur.join(srcs, "id", "left")
                        .join(dsts, "id", "left")
                        .select(
                            "id",
                            (F.col("_s").isNotNull() & F.col("_d").isNotNull()).alias("_keep"),
                        )
                    )
                    cur = marked.where(F.col("_keep")).select("id")
                obs = Observation()
                marked = marked.observe(
                    obs,
                    F.sum((~F.col("_keep")).cast("long")).alias("trimmed"),
                    F.sum(F.col("_keep").cast("long")).alias("kept"),
                )
                cur = marked.where(F.col("_keep")).select("id")
                cur = ckpt.checkpoint(cur, outer * 100 + trim_w, name=f"trim_{outer}_{trim_w}")
                row = obs.get
                n_trim_last, n_active = int(row["trimmed"] or 0), int(row["kept"] or 0)
                assigned_parts.append(
                    win_start.join(cur, "id", "left_anti").select(
                        "id", F.col("id").alias("comp")
                    )
                )
                active = cur
                if n_trim_last == 0:
                    break
            ckpt.log(outer, algorithm="scc_trim", rounds=trim_round, wall_s=time.time() - t0)

            if n_active == 0:
                break

            # -- Multistep local finish: the active set is SCC-closed, so a
            # small residue can be finished serially on the driver (guarded
            # on BOTH node and induced-edge counts; an over-large residue
            # falls through and stays distributed).
            if 0 < local_finish_nodes and n_active <= local_finish_nodes:
                induced = all_edges.join(
                    active.withColumnRenamed("id", "src"), "src", "left_semi"
                ).join(active.withColumnRenamed("id", "dst"), "dst", "left_semi")
                e_rows = induced.limit(local_finish_edges + 1).collect()
                if len(e_rows) <= local_finish_edges:
                    ids = [r["id"] for r in active.collect()]
                    comp_of = _tarjan_local(ids, [(r["src"], r["dst"]) for r in e_rows])
                    schema = graph.nodes.select(
                        "id", F.col("id").alias("comp")
                    ).schema
                    assigned_parts.append(
                        spark.createDataFrame(
                            [(i, comp_of[i]) for i in ids], schema
                        )
                    )
                    ckpt.log(
                        outer,
                        algorithm="scc_local_finish",
                        rounds=1,
                        wall_s=time.time() - t0,
                        nodes=n_active,
                        edges=len(e_rows),
                    )
                    break

            edges = (
                all_edges.join(active.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(active.withColumnRenamed("id", "dst"), "dst", "left_semi")
            )
            # src-partitioned cache: the color loop joins edges on src every
            # round; a cached hash partitioning makes that side exchange-free
            # across all rounds/windows of this outer round
            edges = (
                ckpt.checkpoint(edges, outer, name="edges")
                .repartition(n_part, "src")
                .cache()
            )

            # -- 2. color: forward max-id propagation to fixpoint -----------
            # `window` propagation rounds per checkpoint; the LAST round's
            # change count rides the write — 0 changes in the final round
            # implies the fixpoint landed inside the window (max-propagation
            # is monotone, so a quiescent round stays quiescent).
            color = active.select("id", F.col("id").alias("color"))
            color = ckpt.checkpoint(color, outer * 100, name="color")
            it = 0
            while True:
                merged = None
                for _ in range(window):
                    it += 1
                    cand = (
                        edges.join(color.withColumnRenamed("id", "src"), "src")
                        .groupBy("dst")
                        .agg(F.max("color").alias("nbr_max"))
                        .withColumnRenamed("dst", "id")
                    )
                    merged = color.join(cand, "id", "left").select(
                        "id",
                        F.greatest(
                            F.col("color"), F.coalesce("nbr_max", F.col("color"))
                        ).alias("color"),
                        (F.coalesce("nbr_max", F.col("color")) > F.col("color")).alias("_chg"),
                    )
                    color = merged.select("id", "color")
                color, row = ckpt.commit(
                    merged, outer * 100 + it, name="color", drop=("_chg",), log=False,
                    c=F.sum(F.col("_chg").cast("long")),
                )
                if row["c"] == 0:
                    break
            ckpt.log(outer, algorithm="scc_color", rounds=it, wall_s=time.time() - t0)

            # -- 3. backward BFS from color roots inside each color class ---
            # (root, id) pair frontier over reversed same-color edges
            rev = (
                edges.join(
                    color.select(F.col("id").alias("src"), F.col("color").alias("c_src")), "src"
                )
                .join(
                    color.select(F.col("id").alias("dst"), F.col("color").alias("c_dst")), "dst"
                )
                .where(F.col("c_src") == F.col("c_dst"))
                .select(F.col("dst").alias("rsrc"), F.col("src").alias("rdst"))
            )
            rev = (
                ckpt.checkpoint(rev, outer, name="rev")
                .repartition(n_part, "rsrc")
                .cache()
            )
            # `window` expansion rounds per checkpoint; member and the live
            # frontier ride ONE write via a `_new` flag column (frontier =
            # rows added in the window's last round).  rev is already
            # restricted to same-color edges, so every node reached backward
            # from root r has color r by induction — no extra color
            # membership join is needed.  An empty last round implies the
            # whole fixpoint landed inside the window (an empty frontier
            # stays empty), so member is complete.
            member = (
                color.where(F.col("id") == F.col("color"))
                .select(F.col("color").alias("root"), F.col("id"))
                .withColumn("_new", F.lit(True))
            )
            member = ckpt.checkpoint(member, outer * 100, name="member")
            it = 0
            while True:
                for _ in range(window):
                    it += 1
                    frontier = member.where(F.col("_new")).select("root", "id")
                    nxt = (
                        frontier.withColumnRenamed("id", "rsrc")
                        .join(rev, "rsrc")
                        .select("root", F.col("rdst").alias("id"))
                        .distinct()
                        .join(member.select("root", "id"), ["root", "id"], "left_anti")
                    )
                    member = member.select(
                        "root", "id", F.lit(False).alias("_new")
                    ).unionByName(nxt.withColumn("_new", F.lit(True)))
                member, row = ckpt.commit(
                    member, outer * 100 + it, name="member", log=False,
                    c=F.sum(F.col("_new").cast("long")),
                )
                if row["c"] == 0:
                    break
            ckpt.log(outer, algorithm="scc_backward", rounds=it, wall_s=time.time() - t0)
            member = member.select("root", "id")

            # -- 4. extract SCCs, emit comp = min member id -----------------
            comp_min = member.groupBy("root").agg(F.min("id").alias("comp"))
            found = member.join(comp_min, "root").select("id", "comp")
            found = ckpt.checkpoint(found, outer, name=f"found_{outer}")
            assigned_parts.append(found)
            active = active.join(found.select("id"), "id", "left_anti")
            active = ckpt.checkpoint(active, outer * 100 + 99, name=f"active_{outer}")
            edges.unpersist()
            rev.unpersist()

    all_edges.unpersist()
    if not assigned_parts:
        return SccResult(
            graph.nodes.select("id", F.col("id").alias("comp")), outer, ckpt.metrics
        )
    comps = assigned_parts[0]
    for part in assigned_parts[1:]:
        comps = comps.unionByName(part)
    return SccResult(comps, outer, ckpt.metrics)
