"""Workloads of the link-graph benchmark: seeded inputs, the timed steps
and the checks on every step's output.

A workload reads one generated input, a POWER_LAW edge list
(``generate_graph``) or a synthetic HTML crawl (``synth_web_pages``), ingests
it into a ``LinkGraph`` and runs its steps on that graph.  ``rank_large``
runs PageRank, WCC and triangles on the edge list; ``crawl_pipeline`` runs
the crawl front end (Arrow-UDF link extraction, id map, salted hub join),
the catalog, durable PageRank and dedup.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field, replace

from pyspark.sql import functions as F

from graph_data_science_spark.operators import dedup as dedup_ops
from graph_data_science_spark.operators import pagerank as pr_ops
from graph_data_science_spark.operators import triangles as tri_ops
from graph_data_science_spark.operators import wcc as wcc_ops
from graph_data_science_spark.operators.graph import Aggregation, LinkGraph
from graph_data_science_spark.sources import edges as edges_mod
from graph_data_science_spark.sources.catalog import GraphCatalog
from graph_data_science_spark.sources.corpus import CorpusConfig, synth_web_pages
from graph_data_science_spark.sources.generator import generate_graph
from spans import dir_bytes

TOLERANCE = 1e-6
RESIDUAL_FACTOR = 20  # certified fixpoint: residual <= 20 * tolerance
CHECKPOINT_EVERY = 4  # PageRank supersteps per checkpoint window
EXTRAPOLATE_EVERY = 16  # PageRank Aitken extrapolation stride: ~20 supersteps
DEGREE = 8  # mean out-degree of a generated node, mean anchors of a page
DUP_PCT = 10  # crawl pages copied as near-duplicate documents, in %
# every step, in the order a workload runs the ones it lists
OPS = ("ingest", "persist", "pagerank", "wcc", "triangles", "dedup")


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    source: str  # "generated": POWER_LAW edge list; "crawl": synthetic pages
    size: int  # generated nodes, or crawl pages
    steps: tuple[str, ...]
    durable: bool = False  # PageRank checkpoint_path set: manifest + lineage


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="rank_large",
            why=(
                "iterative kernels on a POWER_LAW edge list: PageRank and WCC "
                "supersteps with their checkpoints, triangle joins"
            ),
            source="generated",
            size=10_000,
            steps=("ingest", "pagerank", "wcc", "triangles"),
        ),
        Workload(
            name="crawl_pipeline",
            why=(
                "HTML crawl: UDF link extraction, hub-salted joins, catalog "
                "writes, durable PageRank checkpoints on a small graph, n-gram dedup"
            ),
            source="crawl",
            size=500,
            steps=("ingest", "persist", "pagerank", "dedup"),
            durable=True,
        ),
    )
}


def toy(wl: Workload) -> Workload:
    """The same workload at a size that runs in seconds (tests)."""
    return replace(wl, size=min(wl.size, 300 if wl.source == "generated" else 60))


# -- inputs ---------------------------------------------------------------------
@dataclass(frozen=True)
class Inputs:
    graph: str  # parquet: edges (src, dst), or web_pages(url, warc_ts, html, text, lang)
    docs: str | None  # parquet (doc_id, text): page texts plus near-duplicates


def generate_inputs(spark, wl: Workload, seed: int, root: str) -> Inputs:
    """Write the workload's inputs for ``seed`` under ``root``; the timed
    steps read only these files."""
    graph = os.path.join(root, wl.source)
    if wl.source == "generated":
        edges = generate_graph(spark, wl.size, DEGREE, "POWER_LAW", seed=seed)
        edges.write.mode("overwrite").parquet(graph)
        return Inputs(graph, None)
    cfg = CorpusConfig(
        n_pages=wl.size,
        avg_degree=DEGREE,
        n_hosts=max(4, wl.size // 30),
        seed=seed,
        # a page has tens of anchors, not thousands: the cap also keeps the
        # edge count, and so edges_per_s, from swinging with the seed
        max_degree_cap=64,
    )
    synth_web_pages(spark, cfg).write.mode("overwrite").parquet(graph)
    pages = spark.read.parquet(graph)
    doc_id = F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long")
    docs = pages.select(doc_id.alias("doc_id"), "text")
    # near-duplicates: a seeded share of pages reappears without its first word
    dups = docs.where(
        F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(100)) < DUP_PCT
    ).select(
        (F.col("doc_id") + F.lit(wl.size)).alias("doc_id"),
        F.regexp_replace("text", r"^\S+\s*", "").alias("text"),
    )
    path = os.path.join(root, "docs")
    docs.unionByName(dups).write.mode("overwrite").parquet(path)
    return Inputs(graph, path)


def ingest(spark, wl: Workload, inp: Inputs) -> LinkGraph:
    """Input files -> cached LinkGraph (counts not yet forced)."""
    if wl.source == "crawl":
        return edges_mod.build_link_graph(spark.read.parquet(inp.graph)).cache()
    return LinkGraph.from_edges(
        spark, spark.read.parquet(inp.graph), aggregation=Aggregation.SINGLE
    ).cache()


def warm_up(spark, wl: Workload, inp: Inputs) -> None:
    """Untimed: ingest and one PageRank window, so that JIT compilation,
    Python worker start and first-use class loading of the ingest and
    superstep paths happen before timing."""
    g = ingest(spark, wl, inp)
    g.relationship_count()
    cfg = pr_ops.PageRankConfig(
        tolerance=TOLERANCE,
        max_iterations=CHECKPOINT_EVERY + 1,
        checkpoint_every=CHECKPOINT_EVERY,
    )
    pr_ops.page_rank(g, cfg).scores.agg(F.sum("score")).collect()


# -- the timed pipeline -----------------------------------------------------------
class CheckFailed(Exception):
    """An operator's output failed its correctness check."""


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


@dataclass
class RepState:
    """What one repetition's steps hand to each other and to the oracles."""

    graph: LinkGraph | None = None
    n_edges: int = 0
    n_nodes: int = 0
    values: dict = field(default_factory=dict)  # results compared with the oracles


def run_rep(spark, wl: Workload, inp: Inputs, work: str, rec) -> RepState:
    """One repetition of the workload's steps.  ``rec.op(name)`` times a step
    and counts it as attempted; a step that raises, or whose check fails,
    counts as failed, and the steps after a failed ingest as failed too."""
    st = RepState()
    rep_dir = os.path.join(work, f"rep{rec.rep}")
    shutil.rmtree(rep_dir, ignore_errors=True)

    with rec.op("ingest") as op:
        g = ingest(spark, wl, inp)
        st.n_edges, st.n_nodes = g.relationship_count(), g.node_count()
        op.untimed()
        check(st.n_edges > 0 and st.n_nodes > 0, "ingest: empty graph")
        st.values["n_edges"], st.values["n_nodes"] = st.n_edges, st.n_nodes
        st.graph = g
    if st.graph is None:
        rec.skip(wl.steps[1:])
        return st

    if "persist" in wl.steps:
        with rec.op("persist") as op:
            cat = GraphCatalog(spark, os.path.join(rep_dir, "catalog"))
            with rec.span("catalog.save"):
                manifest = cat.save("linkgraph", g)
            with rec.span("catalog.load"):
                loaded = cat.load("linkgraph")
                counts = (loaded.relationship_count(), loaded.node_count())
            op.untimed()
            want = (st.n_edges, st.n_nodes)
            check(counts == want, f"catalog load counts {counts} != {want}")
            check(
                (manifest["relationship_count"], manifest["node_count"]) == want,
                "catalog manifest counts",
            )
            saved = dir_bytes(os.path.join(rep_dir, "catalog"))
            rec.note("catalog.bytes_per_edge", saved / st.n_edges)

    if "pagerank" in wl.steps:
        with rec.op("pagerank") as op:
            cfg = pr_ops.PageRankConfig(
                tolerance=TOLERANCE,
                max_iterations=100,
                checkpoint_every=CHECKPOINT_EVERY,
                extrapolate_every=EXTRAPOLATE_EVERY,
                # a fresh path per repetition: a reused one with a matching
                # fingerprint resumes and skips the run
                checkpoint_path=os.path.join(rep_dir, "pagerank") if wl.durable else None,
            )
            res = pr_ops.page_rank(g, cfg)
            res.scores.agg(F.sum("score")).collect()
            op.untimed()
            check(res.did_converge, "pagerank did not converge")
            check(res.ran_iterations > 0, "pagerank ran no superstep")
            residual = pr_ops.pagerank_residual(g, res.scores)
            check(residual <= RESIDUAL_FACTOR * TOLERANCE, f"pagerank residual {residual}")
            rec.note("pagerank.supersteps", res.ran_iterations)
            rec.note("pagerank.extrapolations", sum(1 for m in res.metrics if m.get("extrapolated")))
            step = steady_superstep_s(res.metrics)
            if step is not None:
                rec.note("pagerank.superstep_s", step)
                rec.note("edges_per_s", st.n_edges / step)

    if "wcc" in wl.steps:
        with rec.op("wcc") as op:
            res = wcc_ops.wcc(g)
            n_comp = res.components.select("comp").distinct().count()
            op.untimed()
            check(res.did_converge, "wcc did not converge")
            st.values["components"] = n_comp
            rec.note("wcc.rounds", res.rounds)

    if "triangles" in wl.steps:
        with rec.op("triangles") as op:
            res = tri_ops.triangle_count(g)
            op.untimed()
            st.values["triangles"] = res.global_triangles

    if "dedup" in wl.steps:
        with rec.op("dedup") as op:
            docs = spark.read.parquet(inp.docs)
            with rec.span("dedup.lsh"):
                cands = dedup_ops.lsh_candidate_pairs(
                    docs, bands=3, rows_per_band=8, scheme="kmh"
                ).cache()
                n_cands = cands.count()
            with rec.span("dedup.verify"):
                verified = dedup_ops.ngram_jaccard_pairs(docs, candidate_pairs=cands).cache()
                n_verified = verified.count()
            op.untimed()
            stray = verified.join(cands, ["doc1", "doc2"], "left_anti").count()
            check(stray == 0, f"{stray} verified pairs are not candidates")
            bad = verified.where((F.col("jaccard") <= 0) | (F.col("jaccard") > 1)).count()
            check(bad == 0, f"{bad} jaccard values outside (0, 1]")
            check(n_verified > 0, "no near-duplicate verified")
            rec.note("dedup.candidates", n_cands)
            rec.note("dedup.verified", n_verified)
    return st


def steady_superstep_s(metrics: list) -> float | None:
    """Mean superstep wall after the first window, from
    ``CentralityResult.metrics``.  Records land at window boundaries with a
    wall_s cumulative since the loop started; the mean over the steady span
    is steadier than a median of its four or five window deltas."""
    walls = [(m["superstep"], m["wall_s"]) for m in metrics if "wall_s" in m]
    if len(walls) < 2:
        return None
    (s0, w0), (s1, w1) = walls[0], walls[-1]
    return (w1 - w0) / (s1 - s0)


# -- oracles ----------------------------------------------------------------------
def oracle_check(wl: Workload, inp: Inputs, states: list[RepState]) -> tuple[dict, list]:
    """Compare every repetition with values recomputed from the input file
    without Spark: for a crawl, the pure-Python link extractor over a
    url-ordered id map; networkx for components, DuckDB for triangles.
    Returns the oracle values and one message per mismatching step result."""
    import duckdb
    import networkx as nx
    import pandas as pd
    import pyarrow.parquet as pq

    from graph_data_science_spark.sources.extract import extract_links

    if wl.source == "crawl":
        pages = pq.read_table(inp.graph, columns=["url", "html"]).to_pandas()
        ids = {u: i for i, u in enumerate(sorted(set(pages["url"])))}
        links = [
            (ids[u], ids[h])
            for u, html in zip(pages["url"], pages["html"])
            for h in extract_links(html, u)
            if h in ids  # dangling hrefs drop out
        ]
        e = pd.DataFrame(links, columns=["src", "dst"], dtype="int64")
        nodes = list(ids.values())  # every page is a node, linked or not
    else:
        e = pq.read_table(inp.graph, columns=["src", "dst"]).to_pandas()
        nodes = []
    e = e.drop_duplicates(ignore_index=True)
    g = nx.Graph()
    g.add_nodes_from(nodes)
    g.add_edges_from(zip(e["src"].tolist(), e["dst"].tolist()))
    out = {"n_edges": len(e), "n_nodes": g.number_of_nodes()}
    if "wcc" in wl.steps:
        out["components"] = nx.number_connected_components(g)
    if "triangles" in wl.steps:
        con = duckdb.connect()
        try:
            con.register("e", e)
            out["triangles"] = con.execute(
                """
                WITH u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                           FROM e WHERE src <> dst)
                SELECT count(*) FROM u x JOIN u y ON x.b = y.a
                JOIN u z ON z.a = x.a AND z.b = y.b
                """
            ).fetchone()[0]
        finally:
            con.close()
    errors = [
        f"rep {i} {k}: got {v}, oracle {out[k]}"
        for i, st in enumerate(states)
        for k, v in st.values.items()
        if v != out[k]
    ]
    return out, errors
