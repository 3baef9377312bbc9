"""Link-graph engine benchmark.

One workload, one seed, one JSON result on the last line of stdout:

    python3 linkbench/run.py --workload rank_large --seed 1 --seconds 40 --trace 0

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separately traced run.  Every workload, untraced then traced,
with a table of both and the tracing overhead:

    python3 linkbench/run.py --all --seed 1

Run from the root of a checkout; everything the run writes stays under
``.linkbench-work/`` there and is removed at exit.  See linkbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# reported on every workload, so only the steps every workload runs
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "ingest_s": "s",
    "pagerank_s": "s",
    "edges_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def per_layer_unit(name: str) -> str:
    if name.endswith("bytes_per_edge"):
        return "B/edge"
    if name.endswith("_bytes") or name.endswith(".bytes") or name.endswith("_per_superstep"):
        return "B"
    if name.endswith("_s"):
        return "s"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


# -- host and session ------------------------------------------------------------------
def host_facts() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal"))
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


def session_conf(host: dict, work: str, trace: bool) -> dict:
    """Resources from the host: an eighth of RAM for the driver heap (local
    mode runs the tasks in it), between 1 and 8 GiB, committed at start so
    that peak RSS does not depend on when the collector grows the heap;
    shuffle spill on disk inside the work dir, never tmpfs."""
    heap_mb = min(max(host["mem_total_mb"] // 8, 1024), 8192)
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Xms{heap_mb}m -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(host: dict, work: str, trace: bool):
    from graph_data_science_spark.session import get_spark

    n = host["nproc"]
    return get_spark(
        "linkbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf=session_conf(host, work, trace),
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit: the gateway JVM exits when
    its stdin closes, which otherwise happens only after this process ends."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


# -- one workload ------------------------------------------------------------------------
def run_workload(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    import spans
    import workloads as W

    wl = W.WORKLOADS[name]
    host = host_facts()
    t_setup = time.time()
    spark = start_session(host, work, trace)
    try:
        t_session = time.time()
        inp = W.generate_inputs(spark, wl, seed, os.path.join(work, "inputs"))
        t_inputs = time.time()
        W.warm_up(spark, wl, inp)
        spark.catalog.clearCache()
        setup_s = time.time() - t_setup
        print(f"[linkbench] setup {setup_s:.1f} s: session {t_session - t_setup:.1f}, "
              f"inputs {t_inputs - t_session:.1f}, warm-up {time.time() - t_inputs:.1f}",
              file=sys.stderr)

        rec = spans.Recorder(spark, name, trace)
        if trace:
            spans.install_layer_wrappers(rec)
        states = []
        with spans.PeakRss() as rss:
            t0 = time.time()
            while True:
                t_rep = time.time()
                rec.start_rep()
                states.append(W.run_rep(spark, wl, inp, os.path.join(work, "run"), rec))
                # the benchmark's own caches (and any an operator left behind)
                spark.catalog.clearCache()
                rep_s = time.time() - t_rep
                ops = " ".join(f"{k}={v:.2f}" for k, v in rec.reps[-1]["ops"].items())
                print(f"[linkbench] rep {rec.rep}: {rep_s:.1f} s; {ops}", file=sys.stderr)
                if time.time() - t0 + rep_s > seconds:
                    break
        conf = dict(spark.sparkContext.getConf().getAll())
    finally:
        stop_session(spark)

    want, errors = W.oracle_check(wl, inp, states)
    rec.failed += len(errors)
    for msg in errors:
        print(f"[linkbench] oracle mismatch: {msg}", file=sys.stderr)

    print("host: " + json.dumps({
        **host,
        "workload": name,
        "seed": seed,
        "repetitions": len(rec.reps),
        "oracle": want,
        "spark_conf": {k: conf[k] for k in sorted(conf) if not k.endswith(".id")},
    }))
    if trace:
        stages, jobs = spans.read_event_log(os.path.join(work, "eventlog"))
        layers = spans.layer_metrics(rec, stages, jobs, W.OPS)
        metrics = {k: {"value": v, "unit": per_layer_unit(k)} for k, v in layers.items()}
    else:
        ops = rec.op_medians()
        values_s = {
            "setup_s": setup_s,
            "wall_s": rec.wall_medians(),
            **{f"{op}_s": ops.get(op, 0.0) for op in ("ingest", "pagerank")},
            "edges_per_s": rec.note_median("edges_per_s") or 0.0,
            "peak_rss_mb": rss.peak_mb,
        }
        metrics = {k: {"value": values_s[k], "unit": u} for k, u in END_TO_END.items()}
    return {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": metrics,
    }


# -- every workload, untraced and traced --------------------------------------------------
def run_all(seed: int, seconds: float | None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = seconds or bench["run_seconds"]
    ok = True
    for wl in bench["workloads"]:
        res = {}
        for trace in (0, 1):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", wl["name"],
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True,
            )
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                sys.stderr.write(out.stderr)
                return 1
            res[trace] = json.loads(lines[-1])
            ok = ok and res[trace]["correct"]
        print(f"\n== {wl['name']}: {wl['why']}")
        for trace, title in ((0, "end to end"), (1, "per layer (traced run)")):
            r = res[trace]
            print(f"-- {title}: attempted={r['attempted']} failed={r['failed']} "
                  f"ops_failed_ratio={r['failed'] / r['attempted']:.3f}")
            for k, m in r["metrics"].items():
                print(f"   {k:42s} {m['value']:>16.4f} {m['unit']}")
        overhead = (res[1]["metrics"]["trace.wall_s"]["value"]
                    - res[0]["metrics"]["wall_s"]["value"])
        print(f"-- tracing overhead: traced wall_s - untraced wall_s = {overhead:.3f} s")
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true", help="every workload, untraced and traced")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import graph_data_science_spark  # noqa: F401  the program under test
        import workloads
    except ImportError as exc:
        print(f"[linkbench] cannot import the program: {exc}", file=sys.stderr)
        return 2
    if args.all:
        return run_all(args.seed, args.seconds)
    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")

    work = os.path.join(ROOT, ".linkbench-work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    try:
        result = run_workload(
            args.workload, args.seed, args.seconds or 30.0, bool(args.trace), work
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
