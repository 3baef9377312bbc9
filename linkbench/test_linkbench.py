"""Tests of the benchmark itself, at toy sizes:

    python3 -m pytest linkbench -q
"""

import json
import os
import sys

import pytest

import run as R

sys.path.insert(0, R.ROOT)  # the program under test

import spans  # noqa: E402
import workloads as W  # noqa: E402
from graph_data_science_spark.operators.triangles import triangle_count  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from graph_data_science_spark.session import get_spark

    log_dir = tmp_path_factory.mktemp("eventlog")
    s = get_spark(
        "linkbench-tests",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    yield s
    s.stop()


def _toy_run(spark, name, seed, root, trace=False):
    wl = W.toy(W.WORKLOADS[name])
    inp = W.generate_inputs(spark, wl, seed, os.path.join(root, "inputs"))
    rec = spans.Recorder(spark, f"test-{name}", trace)
    uninstall = spans.install_layer_wrappers(rec) if trace else None
    try:
        rec.start_rep()
        st = W.run_rep(spark, wl, inp, os.path.join(root, "run"), rec)
    finally:
        if uninstall:
            uninstall()
        spark.catalog.clearCache()
    return wl, inp, rec, st


def test_same_seed_same_counts(spark, tmp_path):
    wl = W.toy(W.WORKLOADS["rank_large"])
    counts = []
    for i in range(2):
        inp = W.generate_inputs(spark, wl, 7, str(tmp_path / f"copy{i}"))
        g = W.ingest(spark, wl, inp)
        counts.append((g.relationship_count(), triangle_count(g).global_triangles))
        spark.catalog.clearCache()
    assert counts[0] == counts[1]
    assert counts[0][0] > 0


@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_toy_workload_runs_clean(spark, tmp_path, name):
    wl, inp, rec, st = _toy_run(spark, name, 3, str(tmp_path))
    assert rec.attempted == len(wl.steps)
    assert rec.failed == 0
    assert set(rec.reps[0]["ops"]) == set(wl.steps)
    want, errors = W.oracle_check(wl, inp, [st])
    assert errors == []
    assert st.values["n_edges"] == want["n_edges"]


def test_traced_toy_run_splits_layers(spark, tmp_path):
    wl, inp, rec, st = _toy_run(spark, "crawl_pipeline", 5, str(tmp_path), trace=True)
    assert rec.failed == 0
    log_dir = spark.conf.get("spark.eventLog.dir").removeprefix("file://")
    stages, jobs = spans.read_event_log(log_dir)
    m = spans.layer_metrics(rec, stages, jobs, W.OPS)
    for op in wl.steps:
        assert m[f"{op}.jobs"] > 0 and m[f"{op}.executor_s"] > 0, op
        assert 0 <= m[f"{op}.driver_gap_s"] <= m[f"{op}.wall_s"], op
    assert m["extract.links"] > m["extract.pages"] > 0
    assert 0 < m["edges.useful_ratio"] <= 1
    assert m["checkpoint.calls"] > 0 and m["checkpoint.bytes"] > 0
    assert m["triangles.jobs"] == 0  # not a crawl_pipeline step


def test_metric_names_match_benchmark_json():
    with open(os.path.join(R.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} == set(W.WORKLOADS)
    assert {(m["name"], m["unit"]) for m in bench["end_to_end"]} == set(R.END_TO_END.items())
    empty = type("Rec", (), {"workload": "x", "reps": [{"ops": {}, "spans": [], "notes": {}}]})
    names = spans.layer_metrics(empty, [], [], W.OPS)
    assert {(m["name"], m["unit"]) for m in bench["per_layer"]} == {
        (n, R.per_layer_unit(n)) for n in names
    }


def test_covered_merges_overlaps_and_clips():
    assert spans._covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert spans._covered([(0, 2), (1, 3)], 1.5, 2.5) == pytest.approx(1)
    assert spans._covered([], 0, 1) == 0
