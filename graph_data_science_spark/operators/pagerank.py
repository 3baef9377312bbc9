"""PageRank family: PageRank, ArticleRank, Eigenvector centrality.

Reference semantics (must match fixtures to 1e-5, FIXTURES.md §B1-B4):
- PageRank: delta-push Pregel power iteration
  (algo/src/main/java/org/neo4j/gds/pagerank/PageRankComputation.java):
  init rank = delta = alpha = 1 - dampingFactor (personalized: only source
  nodes; others 0); each superstep delta = dampingFactor * sum(messages),
  rank += delta; send delta/degree to out-neighbors iff delta > tolerance
  (always send on the initial superstep); degree-0 nodes never send (dangling
  mass is NOT redistributed); messages are sum-combined (Reducer.Sum).
  Weighted: message *= weight and degree = sum of positive weights
  (DegreeCentrality.java:108-140).
- ArticleRank (ArticleRankComputation.java:94-101): send
  delta / (degree + averageDegree), averageDegree = mean *unweighted*
  out-degree over all nodes (PageRankAlgorithmFactory.averageDegree:50-58).
- Eigenvector (EigenvectorComputation.java): rank+I accumulation
  next = rank + sum(messages); send next / weightedDegree (or /1 unweighted);
  L2-normalize next into rank in masterCompute each superstep; converge when
  max |normalized_next - prev_rank| <= tolerance (never on superstep 0);
  init 1/|V| (personalized: 1/|sources|, others 0).

Spark decomposition: per superstep one join (active state ⋈ out-edge shares)
+ one hash aggregation (groupBy(dst).sum == the ReducingMessenger's combine,
map-side partial agg included) + one outer join back into state.  State is
checkpointed every superstep (plan truncation + resume, plans/checkpoint.py).
At scale the state⋈edges join is AQE skew-split; the message aggregation
needs no salting because partial (map-side) combine bounds reducer input by
the map-task count.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.graph import LinkGraph, Orientation
from graph_data_science_spark.plans.checkpoint import SuperstepCheckpointer
from graph_data_science_spark.session import cache_copartitioned


@dataclass
class PageRankConfig:
    damping_factor: float = 0.85
    tolerance: float = 1e-7
    max_iterations: int = 20
    source_nodes: list[int] | None = None  # personalized PageRank
    weighted: bool = False
    orientation: Orientation = Orientation.NATURAL
    checkpoint_path: str | None = None
    checkpoint_every: int = 1
    # post-scale final scores (RankConfig#scaler, algo/.../pagerank/
    # PageRankConfig.java): one of scaling.VARIANTS — one extra global
    # aggregate + projection, applied lazily on the converged result
    scaler: str = "NONE"
    # warm start for incremental recompute (the streaming-snapshot loop:
    # ingest new crawl edges -> re-rank seeded with the previous converged
    # scores).  A DataFrame (id, rank|score); nodes absent from it start at
    # the cold-start value.  The loop then iterates on the RESIDUAL
    # r_esidual = init + d*M^T r0 - r0, which converges to the same unique
    # fixpoint as a cold start — in far fewer supersteps when the graph
    # changed little.  Residuals can be negative, so seeded runs gate and
    # count convergence on |delta| (identical semantics when unseeded:
    # cold-start deltas are nonnegative).
    seed_ranks: DataFrame | None = None
    # Aitken Δ² (Kamvar et al., "Extrapolation Methods for Accelerating
    # PageRank Computations", WWW 2003) applied at the first checkpoint
    # boundary at least N supersteps after the previous application (no
    # divisibility coupling with checkpoint_every).  Delta-push makes this nearly
    # free: the window already carries the last two per-node deltas, so the
    # extrapolated vector  r* = rank + sign(δ_t)·min(δ_t²/(δ_{t-1}−δ_t),
    # d/(1−d)·|δ_t|)  costs one projection, and the loop restarts from r*
    # via the same one-Jacobi-step residual used by warm starts (seed_ranks)
    # — converging to the SAME unique fixpoint (I − dM^T)^{-1}·init, with the
    # same |residual| ≤ tolerance stopping criterion, in fewer supersteps
    # (each application cancels the dominant geometric error mode).  The
    # d/(1−d) cap bounds any per-node correction by the largest tail a
    # ratio-d geometric series could still contribute.  0 = off (default;
    # oracle replays iterate the plain recurrence).
    extrapolate_every: int = 0


@dataclass
class CentralityResult:
    scores: DataFrame  # columns: id, score
    ran_iterations: int
    did_converge: bool
    metrics: list = field(default_factory=list)


def _out_shares(graph: LinkGraph, cfg: PageRankConfig, denominator: str) -> DataFrame:
    """Edge rows with a precomputed per-edge message share.

    share(src,dst) such that message = delta(src) * share.  denominator:
      'degree'      -> share = w / deg(src)            (PageRank)
      'degree+avg'  -> share = w / (deg(src) + avgDeg) (ArticleRank)
      'one_or_wdeg' -> share = w / wdeg(src) weighted, w / 1 unweighted
                       (Eigenvector)
    where w = weight if cfg.weighted else 1, deg = weighted degree when
    cfg.weighted (sum of positive weights) else out-degree count.
    """
    edges = graph.oriented_edges(cfg.orientation)
    deg = graph.degrees(orientation=cfg.orientation, weighted=cfg.weighted)
    w = F.col("weight") if cfg.weighted else F.lit(1.0)

    if denominator == "degree+avg":
        plain = graph.degrees(orientation=cfg.orientation, weighted=False)
        avg_degree = plain.agg(F.avg("degree")).collect()[0][0] or 0.0
        denom = F.col("degree") + F.lit(avg_degree)
    elif denominator == "one_or_wdeg":
        denom = F.col("degree") if cfg.weighted else F.lit(1.0)
    else:
        denom = F.col("degree")

    shares = (
        edges.join(deg.withColumnRenamed("id", "src"), "src")
        .where(F.col("degree") > 0)
        .select("src", "dst", (w / denom).alias("share"))
    )
    sp = edges.sparkSession
    n_part = int(sp.conf.get("spark.sql.shuffle.partitions"))
    # cache_copartitioned pins a static (non-AQE) cached plan so the
    # HashPartitioning(src, n_part) stays visible to the superstep join —
    # an AQE-wrapped cache is opaque to EnsureRequirements, which re-shuffled
    # the ENTIRE edge-share table on src every superstep (measured on the
    # window chain).  With it, the only per-superstep exchange is the message
    # aggregation on dst — the one shuffle message passing requires.
    return cache_copartitioned(shares, n_part, "src")


def page_rank(graph: LinkGraph, cfg: PageRankConfig | None = None) -> CentralityResult:
    cfg = cfg or PageRankConfig()
    return _delta_push(graph, cfg, denominator="degree")


def article_rank(graph: LinkGraph, cfg: PageRankConfig | None = None) -> CentralityResult:
    cfg = cfg or PageRankConfig()
    return _delta_push(graph, cfg, denominator="degree+avg")


def _delta_push(graph: LinkGraph, cfg: PageRankConfig, denominator: str) -> CentralityResult:
    alpha = 1.0 - cfg.damping_factor
    d = cfg.damping_factor
    if cfg.source_nodes:
        srcs = set(int(s) for s in cfg.source_nodes)
        init = (
            F.when(F.col("id").isin(list(srcs)), F.lit(alpha)).otherwise(F.lit(0.0))
        )
    else:
        init = F.lit(alpha)

    def initial_state() -> DataFrame:
        if cfg.seed_ranks is None:
            return graph.nodes.select("id", init.alias("rank"), init.alias("delta"))
        # warm start: one Jacobi step from the seed, then iterate on the
        # residual.  rank_0 = init + d*M^T r0 (the seed pushed through one
        # superstep) and delta_0 = rank_0 - r0; the delta-push loop then adds
        # sum_{k>=1} (dM)^k delta_0, so rank converges to the unique fixpoint
        # (I - dM)^-1 init regardless of the seed's quality.
        rank_col = "score" if "score" in cfg.seed_ranks.columns else "rank"
        r0 = graph.nodes.join(
            cfg.seed_ranks.select("id", F.col(rank_col).alias("_seed")), "id", "left"
        ).select("id", F.coalesce("_seed", init).alias("r0"))
        msg = (
            r0.hint("shuffle_hash")
            .join(shares, r0["id"] == shares["src"])
            .groupBy("dst")
            .agg((F.lit(d) * F.sum(F.col("r0") * F.col("share"))).alias("m"))
            .select(F.col("dst").alias("id"), "m")
        )
        return r0.join(msg, "id", "left").select(
            "id",
            (init + F.coalesce("m", F.lit(0.0))).alias("rank"),
            (init + F.coalesce("m", F.lit(0.0)) - F.col("r0")).alias("delta"),
        )

    # resume: with a durable checkpoint path, continue from the latest
    # COMMITTED superstep (a partial write without the _COMMITTED manifest is
    # never trusted).  Seeded and unseeded runs must not resume each other's
    # checkpoints (distinct seeds should use distinct paths), and
    # extrapolated runs follow a different superstep trajectory.
    with SuperstepCheckpointer.for_algorithm(
        "pagerank" if denominator == "degree" else "articlerank",
        graph, cfg.max_iterations, cfg.checkpoint_path,
        resume=dict(
            damping=cfg.damping_factor,
            tolerance=cfg.tolerance,
            source_nodes=cfg.source_nodes,
            weighted=cfg.weighted,
            orientation=str(cfg.orientation),
            seeded=cfg.seed_ranks is not None,
            extrapolate_every=cfg.extrapolate_every,
        ),
    ) as loop:
        shares = loop.hold(_out_shares(graph, cfg, denominator))
        state = loop.initial(initial_state)
        # ranIterations mirrors Pregel.run (pregel/.../Pregel.java:154-190): on
        # convergence the 0-based index of the converged iteration is reported;
        # otherwise maxIterations.
        ran, converged = cfg.max_iterations, False
        if cfg.max_iterations <= 0:
            return CentralityResult(state.select("id", F.col("rank").alias("score")), 0, False)

        # Superstep window (checkpoint_every = K): K supersteps run as ONE job.
        # The message stream is a *delta-only* chain — each step references only
        # the previous step's (id, delta) rows, once — so the window's plan grows
        # linearly, and nodes that stop sending drop out of the stream entirely
        # (active-set pruning in data volume, not just a filter).  At the window
        # boundary rank is rebuilt by UNION of the carried rank rows with every
        # window delta + one hash aggregation (stats ADD under union, so no
        # sizeInBytes blowup), and rank+final-delta are materialized in a single
        # checkpoint write whose observe() metric doubles as the convergence
        # count — one action, one barrier, one serial driver round per K
        # supersteps.  With K=1 this reproduces GDS's per-iteration convergence
        # reporting exactly.
        #
        # Each in-window delta is persisted (MEMORY_AND_DISK, node-sized rows):
        # delta_i has TWO consumers — the next superstep's senders and the
        # boundary rank rebuild — and without the persist the rebuild re-executes
        # every reduce-side aggregation of the chain (measured: K=8 DOUBLED q1
        # wall at sf0.1 vs K=4, BENCH.md "checkpoint-window sensitivity").  The
        # cache is populated inside the one window job and dropped right after
        # the boundary write commits, so peak extra memory is K node-sized
        # frames; on block loss the lineage is intact and recompute is bounded by
        # the previous parquet checkpoint.  With it, widening K trades nothing
        # away — the serial barrier floor amortizes over K supersteps while the
        # boundary rebuild stays one union + one agg over already-materialized
        # rows.
        every = max(1, int(cfg.checkpoint_every))
        from pyspark import StorageLevel

        delta = None  # in-window chained (id, delta) stream; None = at boundary
        window: list = []
        last_x = loop.start_step  # superstep of the latest extrapolation (or start)
        for t in loop.supersteps(cfg.max_iterations - 1):
            # superstep t receives what superstep t-1 sent; on the initial
            # superstep every node sends regardless of tolerance
            # (PageRankComputation.java:90 `delta > tolerance || isInitialSuperstep`).
            gate = F.lit(0.0) if t == 1 else F.lit(cfg.tolerance)
            prev = state.select("id", "delta") if delta is None else delta
            # SHUFFLE_HASH: broadcasting per-superstep node state is a serial
            # driver bottleneck (and impossible at 10^12 nodes); sort-merge
            # would re-sort the edge stream every superstep.
            # |delta|: seeded warm starts iterate on a residual that can be
            # negative at nodes whose seed overshot; unseeded runs only ever
            # produce nonnegative deltas, so abs() changes nothing there.
            senders = prev.where(F.abs(F.col("delta")) > gate).hint("shuffle_hash")
            delta = (
                senders.join(shares, senders["id"] == shares["src"])
                .groupBy("dst")
                .agg((F.lit(d) * F.sum(F.col("delta") * F.col("share"))).alias("delta"))
                .select(F.col("dst").alias("id"), "delta")
            )
            delta = loop.hold(delta.persist(StorageLevel.MEMORY_AND_DISK))
            window.append(delta)
            if t % every != 0 and t != cfg.max_iterations - 1:
                continue

            # boundary: rank' = rank + sum of window deltas (union + one agg);
            # the final window delta rides along tagged so the next window's
            # senders read it from the same materialized state.
            do_x = (
                cfg.extrapolate_every > 0
                and t - last_x >= cfg.extrapolate_every
                and t < cfg.max_iterations - 1
            )
            if do_x:
                last_x = t
            if not do_x:
                rows = state.select(
                    "id", F.col("rank").alias("v"), F.lit(0).alias("last")
                )
                for i, w_df in enumerate(window):
                    tag = 1 if i == len(window) - 1 else 0
                    rows = rows.unionByName(
                        w_df.select(
                            "id", F.col("delta").alias("v"), F.lit(tag).alias("last")
                        )
                    )
                new_state = rows.groupBy("id").agg(
                    F.sum("v").alias("rank"),
                    F.coalesce(
                        F.sum(F.when(F.col("last") == 1, F.col("v"))), F.lit(0.0)
                    ).alias("delta"),
                )
            else:
                # Aitken Δ² boundary.  With a full window (≥4 deltas) the
                # extrapolation runs on the STRIDE-2 subsequence x_{t-2k}:
                # ΔX = δ_t + δ_{t-1} vs δ_{t-2} + δ_{t-3}, whose ratio is
                # exactly d·λ² for BOTH a pure geometric mode and a period-2
                # alternation (2-cycles make consecutive per-node ratios
                # oscillate, stalling plain Aitken — stride 2 squares the
                # oscillation away while reproducing δ·r/(1-r) exactly on
                # pure-geometric nodes).  Short windows fall back to 1-step
                # Aitken; for a length-1 window δ_{t-1} is the carried
                # state's delta column (already inside rank — excluded from
                # the rank sum via in_rank=0).
                rows = state.select(
                    "id", F.col("rank").alias("v"),
                    F.lit(0).alias("last"), F.lit(1).alias("in_rank"),
                )
                for i, w_df in enumerate(window):
                    back = len(window) - 1 - i  # 0 = δ_t, 1 = δ_{t-1}, ...
                    tag = back + 1 if back < 4 else 0
                    rows = rows.unionByName(
                        w_df.select(
                            "id", F.col("delta").alias("v"),
                            F.lit(tag).alias("last"), F.lit(1).alias("in_rank"),
                        )
                    )
                if len(window) == 1:
                    rows = rows.unionByName(
                        state.select(
                            "id", F.col("delta").alias("v"),
                            F.lit(2).alias("last"), F.lit(0).alias("in_rank"),
                        )
                    )
                stride2 = len(window) >= 4

                def _tagsum(tag: int):
                    return F.coalesce(
                        F.sum(F.when(F.col("last") == tag, F.col("v"))), F.lit(0.0)
                    )

                agg = rows.groupBy("id").agg(
                    F.sum(F.when(F.col("in_rank") == 1, F.col("v"))).alias("rank"),
                    *(
                        [
                            (_tagsum(1) + _tagsum(2)).alias("d1"),
                            (_tagsum(3) + _tagsum(4)).alias("d0"),
                        ]
                        if stride2
                        else [_tagsum(1).alias("d1"), _tagsum(2).alias("d0")]
                    ),
                )
                # max tail a ratio-d mode can still contribute, in d1 units
                cap = (d * d / (1.0 - d * d)) if stride2 else (d / (1.0 - d))
                denom = F.col("d0") - F.col("d1")
                # valid only while the per-node sequence is decaying with a
                # consistent sign (implies denom != 0); elsewhere no
                # correction — those nodes are converging on their own.
                valid = (F.col("d1") * F.col("d0") > 0) & (
                    F.abs(F.col("d1")) < F.abs(F.col("d0"))
                )
                corr = F.when(
                    valid,
                    F.signum(F.col("d1"))
                    * F.least(
                        F.abs(F.col("d1") * F.col("d1") / denom),
                        F.lit(cap) * F.abs(F.col("d1")),
                    ),
                ).otherwise(F.lit(0.0))
                # materialize r* once (it feeds both sides of the restart
                # join), then restart the recurrence with one Jacobi step —
                # identical to the seed_ranks warm-start path.
                rstar = loop.checkpoint(
                    agg.select("id", (F.col("rank") + corr).alias("r0")),
                    t, name="xtrap",
                )
                msg = (
                    rstar.hint("shuffle_hash")
                    .join(shares, rstar["id"] == shares["src"])
                    .groupBy("dst")
                    .agg((F.lit(d) * F.sum(F.col("r0") * F.col("share"))).alias("m"))
                    .select(F.col("dst").alias("id"), "m")
                )
                new_state = rstar.join(msg, "id", "left").select(
                    "id",
                    (init + F.coalesce("m", F.lit(0.0))).alias("rank"),
                    (init + F.coalesce("m", F.lit(0.0)) - F.col("r0")).alias("delta"),
                )
            counters = {}
            if cfg.tolerance > 0.0:
                counters["active"] = F.sum(
                    (F.abs(F.col("delta")) > cfg.tolerance).cast("long")
                )
            # an extrapolated boundary spends one extra M^T·r product on the
            # restart — counted for honest edges/sec accounting
            state, c = loop.commit(
                new_state, t, extra=dict(active=-1, extrapolated=bool(do_x)), **counters
            )
            loop.release(*window)
            delta, window = None, []
            active = c.get("active", -1)
            if active == 0:
                ran, converged = t, True
                break

    scores = state.select("id", F.col("rank").alias("score"))
    if cfg.scaler and cfg.scaler.upper() != "NONE":
        from graph_data_science_spark.operators.scaling import scale_property

        scores = scale_property(scores, "score", cfg.scaler)
    return CentralityResult(scores, ran, converged, loop.metrics)


def pagerank_residual(
    graph: LinkGraph, scores: DataFrame, cfg: PageRankConfig | None = None
) -> float:
    """Max-norm PageRank residual ‖init + d·Mᵀr − r‖∞ of a score vector.

    One matvec (join + agg).  Certifies a claimed fixpoint independently of
    the trajectory that produced it — the extrapolated path's convergence
    proof, and the same quantity the plain delta-push loop gates on (its
    superstep delta IS this residual, see the rank_t/delta_t identity in the
    loop comment).
    """
    cfg = cfg or PageRankConfig()
    alpha = 1.0 - cfg.damping_factor
    shares = _out_shares(graph, cfg, "degree")
    if cfg.source_nodes:
        srcs = [int(s) for s in cfg.source_nodes]
        init = F.when(F.col("id").isin(srcs), F.lit(alpha)).otherwise(F.lit(0.0))
    else:
        init = F.lit(alpha)
    r = scores.select("id", F.col("score").alias("r"))
    msg = (
        r.hint("shuffle_hash")
        .join(shares, r["id"] == shares["src"])
        .groupBy("dst")
        .agg(
            (F.lit(cfg.damping_factor) * F.sum(F.col("r") * F.col("share"))).alias("m")
        )
        .select(F.col("dst").alias("id"), "m")
    )
    out = (
        r.join(msg, "id", "left")
        .agg(
            F.max(
                F.abs(init + F.coalesce(F.col("m"), F.lit(0.0)) - F.col("r"))
            ).alias("res")
        )
        .collect()[0]["res"]
    )
    shares.unpersist()
    if out is None:
        raise ValueError("pagerank_residual: empty scores frame")
    return float(out)


def eigenvector(graph: LinkGraph, cfg: PageRankConfig | None = None) -> CentralityResult:
    """Eigenvector centrality (EigenvectorComputation.java; FIXTURES.md §B4)."""
    cfg = cfg or PageRankConfig()
    # ONE action per superstep and NOTHING recomputed: the pre-normalization
    # state is checkpointed with the L2 sum-of-squares riding the write as an
    # observe metric; the normalized rank column then derives LAZILY from the
    # materialized `next` column and the observed scalar (masterCompute
    # analog).  The convergence count (nodes with |rank - prev_rank| > tol)
    # also rides the write — it compares the two previous ranks carried in
    # the frame, so convergence detection lags one superstep and the scores
    # of the CONVERGED superstep are returned (GDS reports the iteration the
    # check passed on).
    def _normalized(df, ss):
        nrm = float(ss) ** 0.5 or 1.0
        return df.select(
            "id",
            (F.col("next") / F.lit(nrm)).alias("rank"),
            F.col("next").alias("sent_base"),
            "prev_rank",
        )

    ran, converged = cfg.max_iterations, False
    with SuperstepCheckpointer.for_algorithm(
        "eigenvector", graph, cfg.max_iterations, cfg.checkpoint_path
    ) as loop:
        shares = loop.hold(_out_shares(graph, cfg, denominator="one_or_wdeg"))
        if cfg.source_nodes:
            srcs = [int(s) for s in cfg.source_nodes]
            init = F.when(F.col("id").isin(srcs), F.lit(1.0 / len(srcs))).otherwise(F.lit(0.0))
        else:
            init = F.lit(1.0 / graph.node_count())
        pre = graph.nodes.select(
            "id", init.alias("next"), F.lit(None).cast("double").alias("prev_rank")
        )
        pre, c = loop.commit(pre, 0, log=False, ss=F.sum(F.col("next") ** 2))
        state = _normalized(pre, c["ss"])
        prev_scores = state
        for t in loop.supersteps(cfg.max_iterations - 1):
            msgs = (
                state.select("id", "sent_base")
                .join(shares, state["id"] == shares["src"])
                .groupBy("dst")
                .agg(F.sum(F.col("sent_base") * F.col("share")).alias("msg"))
            )
            nxt = (
                state.join(msgs, state["id"] == msgs["dst"], "left")
                .select(
                    state["id"],
                    F.col("rank").alias("prev_rank"),
                    F.col("prev_rank").alias("prev2"),
                    (F.col("rank") + F.coalesce(F.col("msg"), F.lit(0.0))).alias("next"),
                )
            )
            nxt, c = loop.commit(
                nxt, t, drop=("prev2",),
                ss=F.sum(F.col("next") ** 2),
                lag_active=F.sum(
                    (F.abs(F.col("prev_rank") - F.col("prev2")) > cfg.tolerance).cast("long")
                ),
            )
            prev_scores = state
            state = _normalized(nxt, c["ss"])
            # lag_active compares superstep t-1 vs t-2 (null on t=1): if the
            # t-1 update changed nothing beyond tolerance, t-1 converged —
            # return ITS scores (this superstep's work is discarded).
            if t > 1 and c["lag_active"] == 0:
                ran, converged = t - 1, True
                state = prev_scores
                break

    scores = state.select("id", F.col("rank").alias("score"))
    if cfg.scaler and cfg.scaler.upper() != "NONE":
        from graph_data_science_spark.operators.scaling import scale_property

        scores = scale_property(scores, "score", cfg.scaler)
    return CentralityResult(scores, ran, converged, loop.metrics)
