"""Label Propagation community detection.

Reference: algo/src/main/java/org/neo4j/gds/labelpropagation/ —
- init (InitStep.java:58-79): label = seed property if present, else
  maxSeedLabel + nodeId + 1 for seed-less nodes in a seeded run, else nodeId;
- per node: gather labels of out-neighbors (forEachRelationship, NATURAL),
  vote weight = relationshipWeight * neighbor nodeWeight
  (ComputeStepConsumer.java:49-58), adopt the max-total-weight label,
  ties -> smaller label id (tallyVotes :64-77).

The reference's update order is **asynchronous in-place** (ComputeStep.java:
35,87-90) and only deterministic at concurrency 1.  The repo itself also
ships a synchronous Pregel LP (examples/pregel-example/.../lp/
LabelPropagationPregel.java:57-105) — that is the scalable semantics
implemented here (`label_propagation`); the async concurrency-1 ordering is
reproduced exactly by `label_propagation_async_oracle` (pure-pandas, for
golden fixtures and small-graph parity).

Spark decomposition per iteration: join(edges, labels on dst) ->
groupBy(id, label).sum(vote) -> window top-1 (max weight, ties min label) ->
compare+swap.  Converged when no label changed (LabelPropagation.java:131-135).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graph_data_science_spark.operators.graph import LinkGraph, Orientation
from graph_data_science_spark.plans.checkpoint import SuperstepCheckpointer
from graph_data_science_spark.session import cache_copartitioned


@dataclass
class LabelPropagationConfig:
    max_iterations: int = 10  # LabelPropagationBaseConfig.java:39-44
    weighted: bool = False  # use edge weight as vote weight
    seed_property: str | None = None  # column on graph.nodes
    node_weight_property: str | None = None  # column on graph.nodes
    orientation: Orientation = Orientation.NATURAL
    checkpoint_path: str | None = None


@dataclass
class LabelPropagationResult:
    labels: DataFrame  # id, label
    ran_iterations: int
    did_converge: bool
    metrics: list = field(default_factory=list)


def _init_labels(graph: LinkGraph, cfg: LabelPropagationConfig) -> DataFrame:
    nodes = graph.nodes
    if cfg.seed_property and cfg.seed_property in nodes.columns:
        max_seed = nodes.agg(F.max(cfg.seed_property)).collect()[0][0]
        max_seed = -1 if max_seed is None else int(max_seed)
        # missing-seed rule: maxSeedLabel + nodeId + 1 (InitStep.java:73-75)
        label = F.coalesce(
            F.col(cfg.seed_property).cast("long"),
            F.col("id") + F.lit(max_seed + 1),
        )
    else:
        label = F.col("id")
    return nodes.select("id", label.alias("label"))


def label_propagation(
    graph: LinkGraph, cfg: LabelPropagationConfig | None = None
) -> LabelPropagationResult:
    cfg = cfg or LabelPropagationConfig()
    spark = graph.nodes.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # gather direction matches the reference's forEachRelationship: a node
    # adopts labels from its out-neighbors under the given orientation
    edges = graph.oriented_edges(cfg.orientation).select("src", "dst", "weight")
    if cfg.node_weight_property and cfg.node_weight_property in graph.nodes.columns:
        nw = graph.nodes.select(
            F.col("id").alias("dst"),
            F.col(cfg.node_weight_property).cast("double").alias("node_w"),
        )
        edges = edges.join(nw, "dst", "left").withColumn(
            "node_w", F.coalesce("node_w", F.lit(1.0))
        )
    else:
        edges = edges.withColumn("node_w", F.lit(1.0))
    vote_w = (F.col("weight") if cfg.weighted else F.lit(1.0)) * F.col("node_w")

    # resume: the sync update is a deterministic function of the previous
    # label state, so continuing from the latest committed superstep replays
    # exactly the trajectory an uninterrupted run would have taken.
    ran, converged = cfg.max_iterations, False
    with SuperstepCheckpointer.for_algorithm(
        "labelprop", graph, cfg.max_iterations, cfg.checkpoint_path,
        resume=dict(
            weighted=cfg.weighted,
            seed_property=cfg.seed_property,
            node_weight_property=cfg.node_weight_property,
            orientation=str(cfg.orientation),
        ),
    ) as loop:
        edges = loop.hold(cache_copartitioned(
            edges.select("src", "dst", vote_w.alias("vote")), n_part, "dst"
        ))
        state = loop.initial(lambda: _init_labels(graph, cfg))
        for t in loop.supersteps():
            nbr_labels = state.select(F.col("id").alias("dst"), F.col("label").alias("nbr_label"))
            votes = (
                edges.join(nbr_labels, "dst")
                .groupBy("src", "nbr_label")
                .agg(F.sum("vote").alias("w"))
            )
            top = votes.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("src").orderBy(F.desc("w"), F.asc("nbr_label"))
                ),
            ).where("rn = 1").select(F.col("src").alias("id"), F.col("nbr_label").alias("new_label"))
            merged = state.join(top, "id", "left").select(
                "id",
                F.coalesce("new_label", "label").alias("label"),
                (F.coalesce("new_label", "label") != F.col("label")).alias("changed"),
            )
            state, c = loop.commit(
                merged, t, drop=("changed",), changed=F.sum(F.col("changed").cast("long"))
            )
            if c["changed"] == 0:
                ran, converged = t, True
                break

    return LabelPropagationResult(state.select("id", "label"), ran, converged, loop.metrics)


def label_propagation_async_oracle(
    edges: list[tuple],
    n: int,
    max_iterations: int = 10,
    seeds: list[int] | None = None,
    weights: list[float] | None = None,
    node_weights: list[float] | None = None,
) -> list[int]:
    """Sequential concurrency-1 reference semantics (async in-place updates in
    ascending node-id order) — mirrors ComputeStep.java:82-92 at concurrency 1.
    Pure Python; used as the golden oracle for the reference's async fixtures.
    """
    out: dict[int, list[tuple[int, float]]] = {i: [] for i in range(n)}
    for k, (s, d) in enumerate([(e[0], e[1]) for e in edges]):
        w = weights[k] if weights else 1.0
        out[s].append((d, w))

    if seeds is not None:
        max_seed = max((s for s in seeds if s is not None), default=-1)
        labels = [
            seeds[i] if seeds[i] is not None else max_seed + i + 1 for i in range(n)
        ]
    else:
        labels = list(range(n))

    for _ in range(max_iterations):
        any_changed = False
        for v in range(n):  # ascending id order == concurrency-1 schedule
            if not out[v]:
                continue
            tally: dict[int, float] = {}
            for (nbr, w) in out[v]:
                vote = w * (node_weights[nbr] if node_weights else 1.0)
                tally[labels[nbr]] = tally.get(labels[nbr], 0.0) + vote
            best = min(tally, key=lambda l: (-tally[l], l))  # max weight, ties -> min
            if best != labels[v]:
                labels[v] = best
                any_changed = True
        if not any_changed:
            break
    return labels
