"""The superstep harness (plans/checkpoint.py): cache release, no extra Spark
actions, and the best-effort lineage read in the durable commit."""

import json
import logging
import os

import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.operators.coloring import k1coloring
from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.operators.hits import HitsConfig, hits
from graph_data_science_spark.operators.labelprop import label_propagation
from graph_data_science_spark.operators.pagerank import (
    PageRankConfig,
    article_rank,
    eigenvector,
    page_rank,
)
from graph_data_science_spark.operators.pregel import PregelComputation, run_pregel
from graph_data_science_spark.operators.wcc import wcc
from graph_data_science_spark.plans.checkpoint import SuperstepCheckpointer

# a 13-node chain with a back edge plus a separate triangle: several rounds
# for WCC/LP, and PageRank does not converge inside 10 supersteps
EDGES = [(i, i + 1) for i in range(12)] + [(20, 21), (21, 22), (22, 20), (5, 2)]


@pytest.fixture(scope="module")
def graph(spark):
    g = LinkGraph.from_edges(spark, EDGES)
    g.nodes.count()
    g.edges.count()
    return g


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _bfs(fail_at=None):
    """Hop distance from node 0; ``update`` returns two columns for the one
    state column from superstep ``fail_at`` on."""
    calls = []

    def update(state, msg):
        calls.append(1)
        new = F.least(F.coalesce(F.col("d"), msg), msg)
        return [new, new] if fail_at is not None and len(calls) >= fail_at else [new]

    return PregelComputation(
        init=lambda n: n.select(
            "id", F.when(F.col("id") == 0, 0.0).cast("double").alias("d")
        ),
        message=lambda e: F.col("d") + 1.0,
        update=update,
        reducer="min",
    )


OPERATORS = {
    "wcc": lambda g: wcc(g),
    "label_propagation": lambda g: label_propagation(g),
    "run_pregel": lambda g: run_pregel(g, _bfs()),
    "page_rank": lambda g: page_rank(g, PageRankConfig(max_iterations=10)),
    "page_rank_window": lambda g: page_rank(
        g, PageRankConfig(max_iterations=10, checkpoint_every=4, extrapolate_every=4)
    ),
    "article_rank": lambda g: article_rank(g, PageRankConfig(max_iterations=10)),
    "eigenvector": lambda g: eigenvector(g, PageRankConfig(max_iterations=10)),
    "hits": lambda g: hits(g, HitsConfig(hits_iterations=4)),
    "k1coloring": lambda g: k1coloring(g),
}


# Spark jobs of one call on the fixture, pinned: the same counts as the
# hand-rolled loops the harness replaced (one checkpoint write per superstep
# plus each operator's own broadcast and init jobs) — the harness adds none.
PINNED_JOBS = {"wcc": 17, "label_propagation": 32}


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_operator_releases_caches_and_adds_no_job(spark, graph, name):
    before = _persisted(spark)
    jobs, res = _jobs(spark, f"harness-{name}", lambda: OPERATORS[name](graph))
    assert res.metrics[0]["superstep"] == 0 and "estimate" in res.metrics[0]
    assert _persisted(spark) == before
    if name in PINNED_JOBS:
        assert jobs == PINNED_JOBS[name]


def test_caches_released_and_aqe_restored_when_a_step_raises(spark, graph):
    before = _persisted(spark)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    with pytest.raises(AssertionError, match="one column per state col"):
        run_pregel(graph, _bfs(fail_at=3))
    assert _persisted(spark) == before
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe


def test_commit_observes_counters_during_the_write(spark, graph):
    with SuperstepCheckpointer.for_algorithm("probe", graph, 3) as loop:
        state = loop.initial(lambda: graph.nodes.select("id"))
        for t in loop.supersteps():
            state, c = loop.commit(
                state.withColumn("odd", F.col("id") % 2 == 1), t,
                drop=("odd",), odd=F.sum(F.col("odd").cast("long")),
                extra={"odd": -1, "note": "x"},
            )
    assert state.columns == ["id"]
    assert c == {"odd": 7}
    rec = loop.metrics[-1]
    assert (rec["superstep"], rec["algorithm"], rec["odd"], rec["note"]) == (3, "probe", 7, "x")
    assert [m["superstep"] for m in loop.metrics] == [0, 1, 2, 3]
    assert all(m["wall_s"] >= 0 for m in loop.metrics[1:])


def test_durable_commit_survives_unreadable_lineage(spark, tmp_path, monkeypatch, caplog):
    import pyarrow.parquet as pq

    def broken(*a, **kw):
        raise OSError("footer unreadable")

    monkeypatch.setattr(pq, "ParquetFile", broken)
    ck = SuperstepCheckpointer(spark, str(tmp_path / "ck"), fingerprint="fp")
    with caplog.at_level(logging.WARNING, logger="graph_data_science_spark.plans.checkpoint"):
        out = ck.checkpoint(spark.range(5), 1)
    assert out.count() == 5
    assert any("lineage unreadable" in r.getMessage() for r in caplog.records)
    manifest = os.path.join(str(tmp_path / "ck"), "state", "state_superstep=00001", "_COMMITTED")
    with open(manifest) as fh:
        m = json.load(fh)
    assert m["rows_per_part"] == {} and m["total_rows"] is None
    assert ck.latest_superstep() == 1
