"""K-1 Coloring (gds.beta.k1coloring.*).

Reference: algo/src/main/java/org/neo4j/gds/beta/k1coloring/K1Coloring.java —
greedy parallel coloring: every node picks the smallest color not used by its
neighbors, then conflicting nodes (same color as a neighbor) recolor in the
next round, until no conflicts or maxIterations.  The output contract is a
*valid* coloring (no monochromatic edge) using a small (not necessarily
minimal) palette; the exact palette depends on scheduling, so tests assert
validity + determinism, not specific colors.

Spark decomposition (deterministic sync variant): per round, conflicted nodes
gather neighbor colors (`collect_set` after a join), pick the min free color
via a vectorized search over the sorted set (JVM-side `aggregate` over
`sort_array`), with id-based tie-breaking between two conflicting endpoints
(only the higher id of a conflicting edge recolors — guarantees progress and
determinism).  Each round = one join + one groupBy; state parquet-checkpointed.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.plans.checkpoint import SuperstepCheckpointer
from graph_data_science_spark.session import cache_copartitioned


@dataclass
class K1ColoringConfig:
    max_iterations: int = 20
    checkpoint_path: Optional[str] = None


@dataclass
class K1ColoringResult:
    colors: DataFrame  # id, color (long)
    ran_iterations: int
    did_converge: bool  # no conflicts remain
    metrics: list = field(default_factory=list)


def _min_free_color(colors_set):
    """Smallest non-negative long not in the (distinct) neighbor color set.

    JVM-side: sort the set, then fold left — the answer is the first gap.
    """
    sorted_cols = F.sort_array(colors_set)
    return F.aggregate(
        sorted_cols,
        F.lit(0).cast("long"),
        lambda acc, c: F.when(c == acc, acc + 1).otherwise(acc),
    )


def k1coloring(graph: LinkGraph, cfg: Optional[K1ColoringConfig] = None) -> K1ColoringResult:
    cfg = cfg or K1ColoringConfig()
    spark = graph.nodes.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # coloring is over the undirected conflict graph
    e = graph.edges
    sym = (
        e.select("src", "dst")
        .unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )

    ran, converged = cfg.max_iterations, False
    with SuperstepCheckpointer.for_algorithm(
        "k1coloring", graph, cfg.max_iterations, cfg.checkpoint_path
    ) as loop:
        sym = loop.hold(cache_copartitioned(sym, n_part, "src"))
        state = loop.initial(
            lambda: graph.nodes.select("id", F.lit(0).cast("long").alias("color"))
        )
        for t in loop.supersteps():
            c_src = state.select(F.col("id").alias("src"), F.col("color").alias("c_src"))
            c_dst = state.select(F.col("id").alias("dst"), F.col("color").alias("c_dst"))
            colored_edges = sym.join(c_src, "src").join(c_dst, "dst")
            # conflict rule: on a monochromatic edge only the HIGHER id recolors
            conflicted = (
                colored_edges.where(
                    (F.col("c_src") == F.col("c_dst")) & (F.col("src") > F.col("dst"))
                )
                .select(F.col("src").alias("id"))
                .distinct()
            )
            n_conf = conflicted.count()
            loop.record(t, conflicts=n_conf)
            if n_conf == 0:
                ran, converged = t, True
                break
            # conflicted nodes gather ALL neighbor colors and take the min free one
            nbr_colors = (
                sym.join(conflicted, sym["src"] == conflicted["id"], "left_semi")
                .join(c_dst, "dst")
                .groupBy("src")
                .agg(F.collect_set("c_dst").alias("ncolors"))
                .select(F.col("src").alias("id"), _min_free_color(F.col("ncolors")).alias("new_color"))
            )
            state = (
                state.join(nbr_colors, "id", "left")
                .select("id", F.coalesce("new_color", "color").alias("color"))
            )
            state = loop.checkpoint(state, t)

    return K1ColoringResult(state.select("id", "color"), ran, converged, loop.metrics)


def validate_coloring(graph: LinkGraph, colors: DataFrame) -> int:
    """Number of monochromatic edges (0 = valid coloring)."""
    c_src = colors.select(F.col("id").alias("src"), F.col("color").alias("c_src"))
    c_dst = colors.select(F.col("id").alias("dst"), F.col("color").alias("c_dst"))
    return (
        graph.edges.where(F.col("src") != F.col("dst"))
        .join(c_src, "src")
        .join(c_dst, "dst")
        .where(F.col("c_src") == F.col("c_dst"))
        .count()
    )
