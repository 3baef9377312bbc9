"""The superstep harness: checkpointing, resume, metrics and cache release.

Every iterative operator runs its loop through ``SuperstepCheckpointer`` —
the analog of the reference's one generic Pregel executor
(pregel/src/main/java/org/neo4j/gds/beta/pregel/Pregel.java:154-190).  The
operator keeps only its init and step logic::

    with SuperstepCheckpointer.for_algorithm(
        "wcc", graph, cfg.max_rounds, cfg.checkpoint_path, resume={...}
    ) as loop:
        sym = loop.hold(cache_copartitioned(...))
        state = loop.initial(lambda: <superstep-0 state>)
        for t in loop.supersteps():
            state, c = loop.commit(<step(state)>, t, changed=F.sum(...))
            if c["changed"] == 0:
                break

Contract:

- **Metrics records** (``metrics``; in durable mode also one JSON file per
  superstep under ``<path>/metrics``).  Every record has ``run_id``,
  ``superstep`` and ``ts``.  Superstep 0 carries ``estimate`` (the
  ``cost_report`` forecast).  A resume writes ``resumed_from``.  Each
  ``commit`` (unless ``log=False``) and each ``record`` writes
  ``algorithm``, the observed counters (``changed``, ``active``, ...), any
  extra fields (``extrapolated``, master-compute globals) and ``wall_s``,
  cumulative since the loop started.
- **Resume rule.**  With a durable path and a resume identity (the config
  dict folded into ``graph_fingerprint``), ``initial`` continues from the
  latest superstep whose ``_COMMITTED`` manifest carries the same
  fingerprint, if it lies strictly between 0 and the planned step count;
  otherwise it checkpoints the init state as superstep 0.  Without a
  resume identity a run never resumes.
- **Cache release.**  Every frame handed to ``hold`` is unpersisted when the
  ``with`` block exits, by return, ``break`` or exception.  ``release``
  drops some earlier (PageRank's per-window deltas).
- **One Spark action per commit.**  Counters ride the checkpoint write as an
  ``observe()`` metric; the harness adds no job of its own.  It never sets a
  job group either — callers own that.  The loop runs with AQE off
  (``no_aqe``); init and the code after the ``with`` block do not.

State is materialized by ``checkpoint``, the one write path.  Two modes, both
parquet write+read (never ``localCheckpoint``):
- ephemeral (default): state goes to a session temp dir; old supersteps are
  garbage-collected as iteration advances, the dir dies with the process.
- durable: state goes to ``<path>/state/<name>_superstep=N/`` with a
  ``_COMMITTED`` manifest (per-part row counts = the lineage record, plus
  the fingerprint), kept for resume.  On a cluster this is an Iceberg table
  and the snapshot commit is the analog of the reference's write-back tx
  (SURVEY.md §3.3).

Why not ``localCheckpoint(eager=True)``: it truncates the plan and the RDD
lineage, but the resulting LogicalRDD *preserves the upstream sizeInBytes
statistic*.  Catalyst's fallback join estimate is the PRODUCT of child sizes
(SizeInBytesOnlyStatsPlanVisitor.visitJoin -> default), so an iterative
join loop squares sizeInBytes every superstep — after ~17 supersteps the
BigInteger arithmetic inside stats estimation dominates the round (measured:
2-3x wall-time growth per superstep, sizeInBytes ~1e400).  A parquet
round-trip resets stats to the actual file size and keeps every superstep
O(1) planning cost (SURVEY.md §4 "iteration plan management").
"""

from __future__ import annotations

import atexit
import json
import logging
import os
import shutil
import tempfile
import time
from contextlib import ExitStack
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from graph_data_science_spark.plans.estimate import cost_report
from graph_data_science_spark.session import no_aqe


class SuperstepCheckpointer:
    # how many past supersteps to keep on disk PER STATE NAME in ephemeral
    # mode (the in-flight superstep may still lazily read its predecessor;
    # eviction is per-name because algorithms interleave several state
    # streams — e.g. Louvain's per-level state / assignment / coarse edges)
    EPHEMERAL_KEEP = 3

    def __init__(
        self,
        spark: SparkSession,
        path: str | None = None,
        run_id: str = "run",
        fingerprint: str | None = None,
    ):
        self.spark = spark
        self.path = path
        self.run_id = run_id
        # identity stamp of (graph, config) for durable resume: committed
        # manifests carry it, and latest_superstep() ignores supersteps whose
        # stamp differs — rerunning an algorithm on an UPDATED graph (the
        # seeded/incremental use case) with a reused checkpoint path must not
        # silently resume stale state that is missing the new nodes.
        self.fingerprint = fingerprint
        self._metrics: list[dict[str, Any]] = []
        self._ephemeral = path is None
        if self._ephemeral:
            self._tmp = tempfile.mkdtemp(prefix="gds-superstep-")
            self._history: dict[str, list[str]] = {}
            # NOT __del__: result DataFrames returned to callers lazily read
            # the final superstep's parquet, which must outlive this object.
            atexit.register(shutil.rmtree, self._tmp, ignore_errors=True)
        else:
            os.makedirs(os.path.join(path, "state"), exist_ok=True)
            os.makedirs(os.path.join(path, "metrics"), exist_ok=True)
        # harness state (see the module docstring); for_algorithm sets the rest
        self.algorithm: str | None = None
        self.steps = 0
        self.start_step = 0
        self._t0 = time.time()
        self._held: list[DataFrame] = []
        self._exit = ExitStack()

    # -- harness -------------------------------------------------------------
    @classmethod
    def for_algorithm(
        cls,
        algorithm: str,
        graph,
        steps: int,
        path: str | None = None,
        resume: dict | None = None,
        state_cols: int = 2,
    ) -> "SuperstepCheckpointer":
        """Harness for one run of ``algorithm`` on ``graph``, planning
        ``steps`` supersteps.  ``resume`` is the config identity folded into
        the durable-resume fingerprint; ``None`` never resumes."""
        fp = None
        if path is not None and resume is not None:
            fp = graph_fingerprint(graph.nodes, graph.edges, algorithm=algorithm, **resume)
        loop = cls(graph.nodes.sparkSession, path, fingerprint=fp)
        loop.algorithm, loop.steps = algorithm, steps
        loop.log(0, estimate=cost_report(
            algorithm, graph.nodes, graph.edges, steps, state_cols=state_cols
        ))
        return loop

    def __enter__(self) -> "SuperstepCheckpointer":
        return self

    def __exit__(self, *exc: Any) -> None:
        self._exit.close()
        self.release(*self._held)

    def hold(self, df: DataFrame) -> DataFrame:
        """Register a cached frame; it is unpersisted when the run exits."""
        self._held.append(df)
        return df

    def release(self, *dfs: DataFrame) -> None:
        """Unpersist held frames now rather than at exit."""
        for df in dfs:
            df.unpersist()
        self._held = [h for h in self._held if all(h is not df for df in dfs)]

    def initial(self, init: Callable[[], DataFrame]) -> DataFrame:
        """The resumed state, or ``init()`` checkpointed as superstep 0."""
        resumed = self.latest_superstep() if self.fingerprint is not None else None
        if resumed is not None and 0 < resumed < self.steps:
            self.start_step = resumed
            self.log(resumed, algorithm=self.algorithm, resumed_from=resumed)
            return self.spark.read.parquet(self._state_path(resumed))
        return self.checkpoint(init(), 0)

    def supersteps(self, last: int | None = None):
        """Supersteps after the start up to ``last`` (default: the planned
        count), run with AQE off; ``wall_s`` counts from the first one."""
        self._exit.enter_context(no_aqe(self.spark))
        self._t0 = time.time()
        yield from range(self.start_step + 1, (self.steps if last is None else last) + 1)

    def commit(
        self,
        df: DataFrame,
        superstep: int,
        *,
        name: str = "state",
        drop: tuple = (),
        log: bool = True,
        extra: dict | Callable[[DataFrame], dict] | None = None,
        **counters: Column,
    ) -> tuple[DataFrame, dict[str, Any]]:
        """Checkpoint ``df`` (minus ``drop``), evaluating each counter
        aggregate during the write, and log one metrics record.

        ``extra`` adds fields to the record; a callable gets the committed
        frame.  Counter values (null read as 0) take precedence over it.
        Returns the committed frame and the counter values.
        """
        obs = Observation() if counters else None
        if obs is not None:
            df = df.observe(obs, *[c.alias(k) for k, c in counters.items()])
        if drop:
            df = df.drop(*drop)
        df = self.checkpoint(df, superstep, name)
        values = {k: 0 if v is None else v for k, v in obs.get.items()} if obs else {}
        if log:
            fields = extra(df) if callable(extra) else extra or {}
            self.record(superstep, **{**fields, **values})
        return df, values

    def record(self, superstep: int, **fields: Any) -> None:
        """One per-superstep metrics record of this run."""
        self.log(superstep, algorithm=self.algorithm, **fields, wall_s=time.time() - self._t0)

    # -- state ---------------------------------------------------------------
    def checkpoint(self, df: DataFrame, superstep: int, name: str = "state") -> DataFrame:
        """Materialize superstep state, truncating lineage AND plan stats.

        The read-back passes the (already known) schema explicitly — schema
        inference otherwise runs a footer-listing Spark job per superstep,
        doubling the serial driver floor of every iteration loop.
        """
        schema = df.schema
        if self._ephemeral:
            p = os.path.join(self._tmp, f"{name}_superstep={superstep:05d}")
            df.write.mode("overwrite").parquet(p)
            hist = self._history.setdefault(name, [])
            hist.append(p)
            while len(hist) > self.EPHEMERAL_KEEP:
                shutil.rmtree(hist.pop(0), ignore_errors=True)
            return self.spark.read.schema(schema).parquet(p)
        p = self._state_path(superstep, name)
        df.write.mode("overwrite").parquet(p)
        # durable mode: _SUCCESS markers are disabled and the v2 committer
        # renames task-side, so a job dying mid-write can leave SOME part
        # files visible.  An explicit commit manifest (written only after the
        # parquet write returns) is the durability barrier resume trusts.
        # The manifest doubles as the per-partition lineage record (north
        # rule: "checkpoints per-partition lineage"): row count per part file
        # read from the parquet footers — no Spark job.
        parts = sorted(f for f in os.listdir(p) if f.startswith("part-"))
        lineage = {}
        try:
            import pyarrow.parquet as pq

            for part in parts:
                lineage[part] = pq.ParquetFile(os.path.join(p, part)).metadata.num_rows
        except Exception:  # lineage is best-effort; the commit barrier is not
            logging.getLogger(__name__).warning(
                "per-part lineage unreadable for %s; committing without it", p, exc_info=True
            )
            lineage = {}
        with open(os.path.join(p, "_COMMITTED"), "w") as fh:
            json.dump(
                {
                    "superstep": superstep,
                    "name": name,
                    "parts": parts,
                    "rows_per_part": lineage,
                    "total_rows": sum(lineage.values()) if lineage else None,
                    "fingerprint": self.fingerprint,
                },
                fh,
            )
        return self.spark.read.schema(schema).parquet(p)

    def _state_path(self, superstep: int, name: str = "state") -> str:
        return os.path.join(self.path, "state", f"{name}_superstep={superstep:05d}")

    def latest_superstep(self, name: str = "state") -> int | None:
        """Highest superstep with committed durable state (for resume)."""
        if self.path is None:
            return None
        base = os.path.join(self.path, "state")
        steps = []
        for d in os.listdir(base):
            if not d.startswith(f"{name}_superstep="):
                continue
            full = os.path.join(base, d)
            # a superstep is committed iff the _COMMITTED manifest exists —
            # part files alone are NOT trusted (_SUCCESS markers are disabled
            # in session.py, and the v2 committer renames task-side, so a
            # mid-write crash leaves partial part files visible)
            manifest = os.path.join(full, "_COMMITTED")
            if not os.path.exists(manifest):
                continue
            if self.fingerprint is not None:
                # (graph, config) identity check: ignore state committed by a
                # run with a different stamp (or by a pre-stamp run) — a
                # mismatched resume would drop new nodes / apply old config.
                try:
                    with open(manifest) as fh:
                        stamp = json.load(fh).get("fingerprint")
                except Exception:
                    continue
                if stamp != self.fingerprint:
                    continue
            steps.append(int(d.split("=")[1]))
        return max(steps) if steps else None

    # -- metrics ---------------------------------------------------------------
    def log(self, superstep: int, **kw: Any) -> None:
        rec = {"run_id": self.run_id, "superstep": superstep, "ts": time.time(), **kw}
        self._metrics.append(rec)
        if self.path:
            fp = os.path.join(self.path, "metrics", f"superstep_{superstep:05d}.json")
            with open(fp, "w") as f:
                json.dump(rec, f, default=str)

    @property
    def metrics(self) -> list[dict[str, Any]]:
        return list(self._metrics)


def graph_fingerprint(nodes: DataFrame, edges: DataFrame, **config: Any) -> str:
    """Identity stamp of (graph content, algorithm config) for durable resume.

    One aggregate job per table: row count + an order-independent content hash
    (bit_xor of per-row xxhash64 over the id/src/dst columns — xor never
    overflows under ANSI mode, unlike sum).  Catching "same counts, different
    edges" matters for the incremental/seeded use case; a full-column hash
    would be strictly stronger but costs a full-width scan — keys are the part
    that changes when a graph is updated.  Config kwargs are folded in
    verbatim so a tolerance/threshold change also invalidates resume.  Only
    called when a durable checkpoint_path is configured.
    """
    import hashlib

    n = nodes.agg(
        F.count(F.lit(1)).alias("c"), F.bit_xor(F.xxhash64("id")).alias("h")
    ).first()
    e = edges.agg(
        F.count(F.lit(1)).alias("c"), F.bit_xor(F.xxhash64("src", "dst")).alias("h")
    ).first()
    payload = json.dumps(
        {"n": [n["c"], n["h"]], "e": [e["c"], e["h"]], "cfg": config},
        sort_keys=True,
        default=str,
    )
    return hashlib.md5(payload.encode()).hexdigest()
