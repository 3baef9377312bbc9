"""Spans, per-layer counters and the Spark event-log split of the benchmark.

Every step runs inside ``Recorder.op``; sub-steps inside ``Recorder.span``.
Spans and counters are kept in memory and turned into metrics when the run
ends.  With tracing on, each span also sets the Spark job group
``<workload>:r<rep>:<span path>``, so the event log (enabled by the session,
uncompressed, not rolling) attributes every stage to the span that caused
it; and ``install_layer_wrappers`` wraps public functions of the program's
modules from this file, so that their work is timed at the module boundary.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager


class _Op:
    def __init__(self, rec: "Recorder"):
        self.rec, self.end = rec, None

    def untimed(self) -> None:
        """End the timed part of the step; checks follow."""
        self.end = time.time()
        self.rec._set_group("check")


class Recorder:
    def __init__(self, spark, workload: str, trace: bool):
        self.spark, self.workload, self.trace = spark, workload, trace
        self.attempted = self.failed = 0
        self.reps: list[dict] = []
        self.rep = -1
        self._path: list[str] = []

    # -- repetitions, steps and spans ---------------------------------------------
    def start_rep(self) -> None:
        self.rep += 1
        self.reps.append({"ops": {}, "spans": [], "notes": {}})

    @property
    def _cur(self) -> dict:
        return self.reps[-1]

    def _set_group(self, path: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(
                f"{self.workload}:r{self.rep}:{path}", path
            )

    @contextmanager
    def op(self, name: str):
        """Time one step: attempted += 1; failed += 1 if it raises (checks
        raise ``CheckFailed``).  The exception is reported and swallowed so
        that the next repetition still runs."""
        self.attempted += 1
        handle = _Op(self)
        self._path = [name]
        self._set_group(name)
        t0 = time.time()
        try:
            yield handle
        except Exception:
            self.failed += 1
            print(f"[linkbench] step {name} failed:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
        else:
            end = handle.end if handle.end is not None else time.time()
            self._cur["ops"][name] = end - t0
            self._cur["spans"].append((name, t0, end))
            if self.trace:
                self.note(f"{name}.persisted_rdds", self.persisted_rdds())
        finally:
            self._path = []
            self._set_group("idle")

    def skip(self, names) -> None:
        """Steps that could not run because one they depend on failed."""
        self.attempted += len(names)
        self.failed += len(names)

    @contextmanager
    def span(self, name: str):
        outer = "/".join(self._path)
        self._path.append(name)
        path = "/".join(self._path)
        self._set_group(path)
        t0 = time.time()
        try:
            yield
        finally:
            self._cur["spans"].append((path, t0, time.time()))
            self._path.pop()
            self._set_group(outer)

    def note(self, key: str, value: float) -> None:
        self._cur["notes"][key] = value

    def add(self, key: str, value: float) -> None:
        notes = self._cur["notes"]
        notes[key] = notes.get(key, 0) + value

    def persisted_rdds(self) -> int:
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())

    # -- results ------------------------------------------------------------------
    def op_medians(self) -> dict[str, float]:
        """Per-step median seconds over the repetitions where it succeeded."""
        names = {n for r in self.reps for n in r["ops"]}
        return {
            n: statistics.median(r["ops"][n] for r in self.reps if n in r["ops"])
            for n in names
        }

    def wall_medians(self) -> float:
        return statistics.median(sum(r["ops"].values()) for r in self.reps)

    def note_median(self, key: str):
        vals = [r["notes"][key] for r in self.reps if key in r["notes"]]
        return statistics.median(vals) if vals else None


# -- layer wrappers ------------------------------------------------------------------
def install_layer_wrappers(rec: Recorder):
    """Wrap the public functions the traced layers run through; returns a
    function that puts the originals back.

    - ``SuperstepCheckpointer.checkpoint``: calls and seconds; inside a call,
      parquet writes (``checkpoint.write_s``, ``checkpoint.bytes``) and
      read-backs (``checkpoint.readback_s``) are timed apart.
    - ``sources.edges``: link extraction, the id map and the href join are
      each materialized (cached and counted) under a span of their own, so
      their stages and time separate from the graph build that follows.
    """
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from graph_data_science_spark.operators.graph import LinkGraph
    from graph_data_science_spark.plans.checkpoint import SuperstepCheckpointer
    from graph_data_science_spark.sources import edges as edges_mod

    inside = {"checkpoint": False}
    ckpt, write, read = (
        SuperstepCheckpointer.checkpoint,
        DataFrameWriter.parquet,
        DataFrameReader.parquet,
    )

    def checkpoint(self, df, superstep, name="state"):
        inside["checkpoint"] = True
        t0 = time.time()
        try:
            return ckpt(self, df, superstep, name)
        finally:
            inside["checkpoint"] = False
            rec.add("checkpoint.calls", 1)
            rec.add("checkpoint.total_s", time.time() - t0)

    def parquet_write(self, path, *a, **kw):
        if not inside["checkpoint"]:
            return write(self, path, *a, **kw)
        t0 = time.time()
        out = write(self, path, *a, **kw)
        rec.add("checkpoint.write_s", time.time() - t0)
        rec.add("checkpoint.bytes", dir_bytes(path))
        return out

    def parquet_read(self, *paths, **kw):
        if not inside["checkpoint"]:
            return read(self, *paths, **kw)
        t0 = time.time()
        out = read(self, *paths, **kw)
        rec.add("checkpoint.readback_s", time.time() - t0)
        return out

    extract, id_map, build = (
        edges_mod.extract_link_pairs,
        edges_mod.build_id_map,
        edges_mod.build_link_graph,
    )

    def extract_link_pairs(pages):
        pairs = extract(pages).cache()
        with rec.span("extract"):
            rec.note("extract.pages", pages.count())
            rec.note("extract.links", pairs.count())
        return pairs

    def build_id_map(pages):
        ids = id_map(pages).cache()
        with rec.span("edges.id_map"):
            ids.count()
        return ids

    def build_link_graph(pages, *a, **kw):
        g = build(pages, *a, **kw)
        edges = g.edges.cache()
        with rec.span("edges.join"):
            rec.note("edges.kept", edges.count())
        return LinkGraph(nodes=g.nodes, edges=edges)

    patched = [
        (SuperstepCheckpointer, "checkpoint", checkpoint),
        (DataFrameWriter, "parquet", parquet_write),
        (DataFrameReader, "parquet", parquet_read),
        (edges_mod, "extract_link_pairs", extract_link_pairs),
        (edges_mod, "build_id_map", build_id_map),
        (edges_mod, "build_link_graph", build_link_graph),
    ]
    originals = [(owner, name, getattr(owner, name)) for owner, name, _ in patched]
    for owner, name, fn in patched:
        setattr(owner, name, fn)

    def uninstall() -> None:
        for owner, name, fn in originals:
            setattr(owner, name, fn)

    return uninstall


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


# -- event log -------------------------------------------------------------------------
_ACC = {
    "internal.metrics.executorRunTime": "executor_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
}


def read_event_log(log_dir: str) -> tuple[list[dict], list[str]]:
    """Completed stages of the application's event log, each with its job
    group, [start, end] seconds and the task metrics summed over the stage;
    and the job group of every job."""
    stage_group: dict[int, str] = {}
    stages, jobs = [], []
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    jobs.append(group)
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Submission Time" not in info or "Completion Time" not in info:
                        continue
                    st = {
                        "stage": info["Stage ID"],
                        "start": info["Submission Time"] / 1000.0,
                        "end": info["Completion Time"] / 1000.0,
                        "executor_ms": 0, "gc_ms": 0, "spill_bytes": 0,
                        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                    }
                    for acc in info.get("Accumulables", []):
                        key = _ACC.get(acc.get("Name"))
                        if key is not None:
                            st[key] += int(float(acc.get("Value", 0)))
                    stages.append(st)
    for st in stages:
        st["group"] = stage_group.get(st["stage"], "")
    return stages, jobs


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_metrics(rec: Recorder, stages: list[dict], jobs: list[str], ops) -> dict[str, float]:
    """Per-layer metrics of every repetition, reduced to their medians."""
    per_rep = []
    for i, r in enumerate(rec.reps):
        prefix = f"{rec.workload}:r{i}:"
        mine = [s for s in stages if s["group"].startswith(prefix)]
        for s in mine:
            s["path"] = s["group"][len(prefix):]
        span_at = {p: (a, b) for p, a, b in r["spans"]}
        notes = r["notes"]
        m: dict[str, float] = {}

        def under(path, exact=False):
            return [
                s for s in mine
                if s["path"] == path or (not exact and s["path"].startswith(path + "/"))
            ]

        def wall(path):
            a, b = span_at.get(path, (0.0, 0.0))
            return b - a

        for op in ops:
            ss = under(op)
            a, b = span_at.get(op, (0.0, 0.0))
            m[f"{op}.wall_s"] = b - a
            m[f"{op}.executor_s"] = sum(s["executor_ms"] for s in ss) / 1000.0
            m[f"{op}.shuffle_read_bytes"] = sum(s["shuffle_read_bytes"] for s in ss)
            m[f"{op}.shuffle_write_bytes"] = sum(s["shuffle_write_bytes"] for s in ss)
            m[f"{op}.spill_bytes"] = sum(s["spill_bytes"] for s in ss)
            m[f"{op}.stages"] = len(ss)
            m[f"{op}.jobs"] = sum(
                1 for j in jobs if j == prefix + op or j.startswith(prefix + op + "/")
            )
            m[f"{op}.driver_gap_s"] = (b - a) - _covered(
                [(s["start"], s["end"]) for s in ss], a, b
            )
            m[f"{op}.persisted_rdds"] = notes.get(f"{op}.persisted_rdds", 0)

        ingest_children = ("ingest/extract", "ingest/edges.id_map", "ingest/edges.join")
        m["extract.pages"] = notes.get("extract.pages", 0)
        m["extract.links"] = notes.get("extract.links", 0)
        m["extract.udf_executor_s"] = (
            sum(s["executor_ms"] for s in under("ingest/extract")) / 1000.0
        )
        m["edges.id_map_s"] = wall("ingest/edges.id_map")
        m["edges.join_s"] = wall("ingest/edges.join")
        m["edges.useful_ratio"] = notes.get("edges.kept", 0) / max(
            notes.get("extract.links", 0), 1
        )
        m["graph.build_s"] = wall("ingest") - sum(wall(c) for c in ingest_children)
        m["graph.shuffle_bytes"] = sum(
            s["shuffle_write_bytes"] for s in under("ingest", exact=True)
        )
        m["catalog.save_s"] = wall("persist/catalog.save")
        m["catalog.load_s"] = wall("persist/catalog.load")
        m["catalog.bytes_per_edge"] = notes.get("catalog.bytes_per_edge", 0.0)
        m["checkpoint.calls"] = notes.get("checkpoint.calls", 0)
        m["checkpoint.total_s"] = notes.get("checkpoint.total_s", 0.0)
        m["checkpoint.write_s"] = notes.get("checkpoint.write_s", 0.0)
        m["checkpoint.readback_s"] = notes.get("checkpoint.readback_s", 0.0)
        m["checkpoint.bytes"] = notes.get("checkpoint.bytes", 0)
        steps = max(notes.get("pagerank.supersteps", 1), 1)
        m["pagerank.supersteps"] = notes.get("pagerank.supersteps", 0)
        m["pagerank.extrapolations"] = notes.get("pagerank.extrapolations", 0)
        m["pagerank.superstep_s"] = notes.get("pagerank.superstep_s", 0.0)
        m["pagerank.shuffle_bytes_per_superstep"] = (
            m["pagerank.shuffle_write_bytes"] / steps
        )
        rounds = max(notes.get("wcc.rounds", 1), 1)
        m["wcc.rounds"] = notes.get("wcc.rounds", 0)
        m["wcc.round_s"] = wall("wcc") / rounds
        m["dedup.candidates"] = notes.get("dedup.candidates", 0)
        m["dedup.verified"] = notes.get("dedup.verified", 0)
        m["dedup.verify_ratio"] = m["dedup.verified"] / max(m["dedup.candidates"], 1)
        m["dedup.verify_executor_s"] = (
            sum(s["executor_ms"] for s in under("dedup/dedup.verify")) / 1000.0
        )
        m["jvm.gc_s"] = sum(s["gc_ms"] for s in mine) / 1000.0
        m["spill_bytes"] = sum(s["spill_bytes"] for s in mine)
        m["trace.wall_s"] = sum(r["ops"].values())
        per_rep.append(m)
    return {k: statistics.median(m[k] for m in per_rep) for k in per_rep[0]}


# -- memory ---------------------------------------------------------------------------
class PeakRss:
    """Peak resident memory of this process and its descendants (the JVM and
    the Python workers), sampled from /proc by a daemon thread.  Each
    process counts its proportional set size, so pages shared between
    processes count once: a JVM that forks a helper does not count twice."""

    def __init__(self, interval: float = 0.5):
        self.interval, self.peak_kb = interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, tree_pss_kb(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def tree_pss_kb(root: int) -> int:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total += next(int(l.split()[1]) for l in fh if l.startswith("Pss:"))
        except (OSError, StopIteration):
            continue  # exited since the listing
    return total
