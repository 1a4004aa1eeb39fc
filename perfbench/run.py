"""utopia-spark benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload {replay,store-pipeline,catalog} \
        --seed N --seconds S --trace {0,1}

Launch it from the repository root, as ``bench.py`` and the test suite
are launched: Spark's Python workers import the package through the
working directory, and the benchmark does not work around that.

A run stages the workload's inputs from ``--seed``, sets up
(``setup_s`` = median of several session builds + one warm-up), then
runs round(--seconds / the workload's nominal pass time) passes, at
least one, over the workload's whole fixed input, checks every output
and prints, as the last stdout line, ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics, each
layer's self time and the tracing overhead. Everything the run writes
stays under ``.perfbench_run/`` in the working directory; the full
record of the run (environment, CPU pressure before and after, per
pass and per operation figures, spans) is written to
``.perfbench_run/artifacts/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

from probe import SparkProbe, proc_tree_hwm_mb

SESSION_BUILDS = 3

SELF_SPANS = ("pass", "topology", "run_stream", "drain", "sink", "stop",
              "pair", "dim_call", "fact_call", "replay_call", "listing", "query",
              "construct", "exec", "probe")
SPARK_LAYERS = {  # per-layer name -> (SparkProbe counter summed over a pass, unit)
    "spark.jobs": ("jobs", "count"), "spark.stages": ("stages", "count"),
    "spark.tasks": ("tasks", "count"), "spark.failed_tasks": ("failed_tasks", "count"),
    "spark.shuffle_read_bytes": ("shuffle_read_bytes", "bytes"),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", "bytes"),
    "sources.input_bytes": ("input_bytes", "bytes"),
}
PASS_LAYERS = {  # filled by the workload on traced passes; 0 where a layer is not exercised
    "sources.input_rows": "count", "sources.get_batch_ms": "ms", "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms", "stream.planning_ms": "ms", "stream.wal_commit_ms": "ms",
    "state.rows_total": "count", "state.rows_updated": "count", "state.memory_bytes": "bytes",
    "state.commit_ms": "ms", "store.dim_call_s": "s", "store.fact_call_s": "s",
    "store.replay_call_s": "s", "store.files_written": "count", "store.bytes_written": "bytes",
    "store.bytes_per_input_byte": "ratio", "store.files_live": "count",
    "store.jobs_per_pair": "count", "advisor.broadcast": "count", "advisor.shuffle_hash": "count",
    "advisor.salted_shuffle_hash": "count", "plans.construct_s": "s",
    "plans.construct_jobs": "count", "exec.s": "s", "exec.jobs": "count",
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("replay", "store-pipeline", "catalog"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _git_head(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


class Session:
    """Builds, rebuilds and finally shuts down the one Spark driver JVM
    this run uses, waiting until it and its Python workers have ended."""

    def __init__(self, work: str) -> None:
        self.work, self.spark, self.jvm_pid, self.hwm = work, None, None, {}

    def build(self, master: str | None = None):
        from umn_eda_kafka_stream_processing_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        # the program's own driver-memory setting, so mem.peak_rss_mb is
        # the memory the program uses as it is configured
        self.spark = get_spark(app_name="perfbench", master=master, extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
            "spark.ui.showConsoleProgress": "false",
            "spark.sparkgraft.cacheDir": f"{self.work}/session-cache",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.jvm_pid is None:
            self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle
                               .current().pid())
        return self.spark

    def sample_memory(self) -> None:
        for pid, mb in proc_tree_hwm_mb(self.jvm_pid).items():
            self.hwm[pid] = max(self.hwm.get(pid, 0.0), mb)

    def shutdown(self) -> None:
        from pyspark import SparkContext

        if self.spark is None:
            return
        procs = list(proc_tree_hwm_mb(self.jvm_pid))
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        deadline = time.monotonic() + 60
        while any(os.path.exists(f"/proc/{p}") for p in procs) and time.monotonic() < deadline:
            time.sleep(0.05)
        self.spark = None


def run(args, root: str, work: str) -> dict:
    import pyspark

    import workloads
    from bench import _box_load as box_load
    from umn_eda_kafka_stream_processing_spark.caching import drain_build_events

    env = {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "git_head": _git_head(root),
        "cwd": root,
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY"),
    }
    load_before = box_load()
    wl = workloads.make(args.workload, work, args.seed,
                        os.path.join(root, ".perfbench_run", "oracle-cache"))
    t0 = time.perf_counter()
    wl.stage()
    stage_s = time.perf_counter() - t0

    sess = Session(work)
    try:
        # set-up = session build + warm-up. The session is built several
        # times (the first launches the JVM; later ones stop and rebuild
        # it) and its median build time taken; the warm-up runs once,
        # after the last build, because a second full warm-up costs a
        # measured pass's worth of time per run.
        builds = []
        for _ in range(SESSION_BUILDS):
            t0 = time.perf_counter()
            spark = sess.build()
            builds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warmup(spark)
        setup = {"builds_s": builds, "build_s": _median(builds),
                 "warmup_s": time.perf_counter() - t0}
        env["master"] = spark.sparkContext.master
        env["driver_memory"] = spark.sparkContext.getConf().get("spark.driver.memory")
        env["cores"] = spark.sparkContext.defaultParallelism
        builds_warmup = len(drain_build_events())
        prepared = wl.prepare(spark, SparkProbe(spark))
        drain_build_events()

        # a fixed number of passes per workload, so every run of it
        # measures the same thing; traced runs alternate untraced/traced
        n_passes = max(1, round(args.seconds / wl.pass_s))
        if args.trace:
            n_passes = max(3, n_passes)
        passes, spans = [], []
        for i in range(n_passes):
            traced = bool(args.trace) and i % 2 == 1
            ctx = workloads.Ctx(spark, traced)
            with ctx.tracer.span("pass"):
                res = wl.run_pass(spark, ctx, f"p{i}")
            res["traced"] = traced
            if traced:
                res["spark"] = ctx.spark_totals
                res["spark_ops"] = ctx.spark_ops
                res["self_s"] = ctx.tracer.self_times()
                spans.append(ctx.tracer.spans)
            passes.append(res)
            sess.sample_memory()
        builds_measured = len(drain_build_events())
        wl.check(spark, passes)
        sess.sample_memory()

        single_thread = None
        if args.trace and args.workload == "replay":
            # the single-thread baseline of the same job, recorded only here;
            # it runs in the JVM the passes above warmed, without a warm-up
            spark = sess.build(master="local[1]")
            res = wl.run_pass(spark, workloads.Ctx(spark, False), "local1")
            wl.check(spark, [res])
            single_thread = {"master": "local[1]", "wall_s": res["wall"],
                             "op_p50_s": _median(res["ops"]), "failed_ops": res["failed_ops"]}
    finally:
        sess.shutdown()
    load_after = box_load()

    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    ops = [o for p in untraced for o in p["ops"]]
    attempted = sum(len(p["ops"]) for p in passes)
    failed = sum(p["failed_ops"] for p in passes)
    wall = _median([p["wall"] for p in untraced])
    end_to_end = {
        "setup_s": (setup["build_s"] + setup["warmup_s"], "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (untraced[0]["rows"] / wall, "1/s"),
        "op_p50_s": (_median(ops), "s"),
        "op_tail_s": (workloads.tail(ops), "s"),
        "ok_share": (1.0 - failed / attempted, "share"),
    }
    peak_rss_mb = sum(sess.hwm.values())

    per_layer = {}
    if traced:
        cores = env["cores"]

        def layer(fn):
            return _median([fn(p) for p in traced])

        per_layer["session.build_s"] = (setup["build_s"], "s")
        per_layer["mem.peak_rss_mb"] = (peak_rss_mb, "MB")
        per_layer["session.warmup_s"] = (setup["warmup_s"], "s")
        for p in traced:  # rows the scans read, where no stream progress counts them
            p["layers"].setdefault("sources.input_rows", p["spark"].get("input_records", 0))
        for name, unit in PASS_LAYERS.items():
            per_layer[name] = (layer(lambda p: p["layers"].get(name, 0)), unit)
        for name, (key, unit) in SPARK_LAYERS.items():
            per_layer[name] = (layer(lambda p: p["spark"].get(key, 0)), unit)
        per_layer["spark.executor_run_s"] = (
            layer(lambda p: p["spark"].get("executor_run_ms", 0) / 1000.0), "s")
        per_layer["spark.sched_share"] = (layer(
            lambda p: 1.0 - p["spark"].get("executor_run_ms", 0) / 1000.0
            / (p["wall"] * cores)), "share")
        per_layer["caching.builds_warmup"] = (builds_warmup, "count")
        per_layer["caching.builds_measured"] = (builds_measured, "count")
        for name in SELF_SPANS:
            per_layer[f"self.{name}_s"] = (layer(lambda p: p["self_s"].get(name, 0.0)), "s")
        # against the untraced passes that follow a traced one: the first
        # pass after set-up runs slower than later passes
        per_layer["trace.overhead_s"] = (_median([p["wall"] for p in traced])
                                         - _median([p["wall"] for p in untraced[1:]]), "s")
        per_layer["trace.spans"] = (_median([len(s) for s in spans]), "count")

    metrics = per_layer if args.trace else end_to_end
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env, "load_before": load_before, "load_after": load_after,
        "stage_s": stage_s, "setup": setup, "prepare": prepared,
        "end_to_end": {k: v[0] for k, v in end_to_end.items()},
        "op_samples": len(ops),
        "peak_rss_mb": peak_rss_mb,
        "fail_share": failed / attempted,
        "per_layer": {k: v[0] for k, v in per_layer.items()},
        "passes": passes,
        "rss_mb_by_pid": sess.hwm, "single_thread": single_thread, "spans": spans,
    }
    return {"artifact": artifact, "correct": failed == 0, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()}}


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)  # the package is imported from the launch directory
    import umn_eda_kafka_stream_processing_spark  # noqa: F401  (fails outside a checkout)

    base = os.path.join(root, ".perfbench_run")
    work = os.path.join(base, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    try:
        out = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    art_dir = os.path.join(base, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(art_dir, name), "w") as f:
        json.dump(out.pop("artifact"), f, indent=1, default=str)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
