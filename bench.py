"""Benchmark harness (driver contract).

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Execution is forced with the noop sink (full pipeline runs, nothing
serialized back to Python) — measures the engine, not driver-side
collect. One warm-up run of a trivial query first so JVM/codegen
startup isn't attributed to the first query.

Each query runs up to $SPARK_GRAFT_BENCH_RUNS times (default 3): run
0 is a recorded WARMUP (JIT/codegen, file listings, train-once
session-cache builds) excluded from the reported value, run 1 is the
measurement, and a third run is taken only when the first two
disagree by >30% (cache build or noise hit) on a non-work-dominated
query; the reported per-query value is the median of the
post-warmup runs. "value" is their sum. Raw walls (warmup included)
ship in the sidecar.

The stdout line is deliberately TINY (< ~1.2 KB): the driver's
capture keeps only the LAST 2000 CHARACTERS of stdout (every
BENCH_r{N}.json tail is exactly 2000 chars; r01's 1.9 KB line parsed,
every longer line since has not — including r09's 4.6 KB "compact"
line). 163 queries x ~28 chars can never fit, so stdout now carries
only: metric, total, sf, noisy flag, per-FAMILY subtotals (9 catalog
modules), and the 10 slowest per-query medians. Everything else —
all per-query medians, raw walls per run, repeat counts, budget
degradations, box-load telemetry — goes to the BENCH_DETAIL.json
sidecar next to this script. Spark console logging is forced to
ERROR so warning spam can't push the JSON line out of the window.

Warmup-only values: when the wall-clock budget truncates a query to
a single run, its only wall is the WARMUP run (cold, including any
train-once cache build) — mixing those into the headline would blend
cold and post-warmup semantics (round-9 advice). Such queries are
excluded from "value" and reported separately as cold_only
{n, sec}; grand total = value + cold_only.sec.
"""

from __future__ import annotations

import gc
import json
import os
import re
import statistics
import sys
import time
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from umn_eda_kafka_stream_processing_spark.caching import drain_build_events
from umn_eda_kafka_stream_processing_spark.plans import REGISTRY
from umn_eda_kafka_stream_processing_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    spark = get_spark(app_name="umn_eda_kafka_stream_processing_spark-bench")
    # keep stdout/stderr near-silent: the driver's capture window is
    # bounded, and WindowExec/parquet warnings have historically pushed
    # the result line out of it
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: JVM, parquet footer reads, codegen
    noop_run(spark, "user_event_count", sf_dir)

    runs = max(int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")), 1)
    # wall-clock budget: if the full catalog at n runs would blow the
    # harness timeout, degrade remaining queries to a single run
    # rather than get killed with no output at all
    # 360, not 420 (r13): the soft budget caps MEASUREMENT time, but
    # at 212 queries even the all-singles tail after it can overrun —
    # 360 leaves the tail ~160 s of headroom under the 520 s HARD cap
    # below, which outright skips whatever still doesn't fit so the
    # stdout line always prints before any harness timeout.
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "360"))
    # HARD wall: at 212 queries even the all-singles tail after the
    # soft budget can push the process past the harness timeout (r13:
    # a 590 s cap killed the pass with NO stdout). Past hard_cap_s the
    # remaining queries are SKIPPED outright and listed in the detail
    # sidecar — a partial-but-parseable line always beats a dead run;
    # the committed BENCH_DETAIL (sharded, full warm coverage) is the
    # complete artifact either way.
    hard_cap_s = float(os.environ.get("SPARK_GRAFT_BENCH_HARD_CAP_S", "520"))
    heavy_s = float(os.environ.get("SPARK_GRAFT_BENCH_HEAVY_S", "4.0"))
    # sample box load BEFORE the run too: the post-run avg300 includes
    # the benchmark's own CPU pressure (r06's artifact self-flagged
    # noisy on its own load), and for runs longer than 5 min it misses
    # external noise that hit the early queries. The noisy flag keys
    # off the PRE-run sample; both samples ship in the artifact.
    box_pre = _box_load()
    bench_start = time.time()
    degraded = 0
    heavy_singles = 0
    stable_stopped = 0
    timings: dict[str, float] = {}
    all_walls: dict[str, list[float]] = {}
    # cache attribution (round-13 verdict task 5): which query's runs
    # BUILT a session-cache substrate this pass. A build landing in a
    # measured (post-warmup) run makes that query's median
    # incomparable with a pass where a different query paid the build
    # — bench_diff labels such shifts instead of reporting a phantom
    # regression. Keys are split by warmup (run 0, excluded from the
    # value) vs measured runs.
    substrate_cold: dict[str, dict[str, list[str]]] = {}
    # SPARK_GRAFT_BENCH_SHARD="i/n" runs every n-th query starting at
    # i (stable registry order). The catalog outgrew what one budget
    # window can measure WARM (r11: 69/200 medians escrowed to
    # cold-only); two shard passes in quiet windows, merged via
    # tools/bench_merge.py, give the committed BENCH_DETAIL full warm
    # coverage while the driver's own single-pass run keeps its
    # budget-degradation behavior unchanged.
    shard = os.environ.get("SPARK_GRAFT_BENCH_SHARD")
    if shard:
        si, sn = (int(x) for x in shard.split("/"))
        bench_names = [n for i, n in enumerate(REGISTRY) if i % sn == si]
    else:
        bench_names = list(REGISTRY)
    # measure COSTLIEST-first (by the committed detail's last-known
    # medians; never-benched queries first of all): at 215 queries the
    # driver's single budgeted pass cannot measure everything (r14:
    # 79 skipped, and the registry-order cut dropped 8 of the 10
    # slowest from the PERF comparison), so when the hard cap lands it
    # must land on the CHEAP tail — the slow queries are the signal
    # the stdout top-10 and the round-over-round diff read. Per-query
    # methodology is unchanged; shard passes also reorder, which only
    # permutes within a shard (the merge is order-free).
    bench_names = order_by_prior_cost(bench_names)
    skipped: list[str] = []
    for name in bench_names:
        if (time.time() - bench_start) >= hard_cap_s:
            skipped.append(name)
            continue
        # per-query sampling plan (the shape that fits 163 queries
        # inside the budget):
        #   run 0 — WARMUP, recorded in the sidecar but excluded from
        #     the reported value: it pays JIT/codegen, file-listing,
        #     and the train-once session-cache builds (ANN indexes,
        #     shingle arrays — r09), none of which are the steady-state
        #     cost the catalog number is meant to report;
        #   run 1 — the measurement;
        #   run 2 — taken ONLY when runs 0 and 1 disagree by >30%
        #     (a cache build or a noise hit made run 1 suspect) and
        #     the query is not work-dominated (> heavy_s on both
        #     walls — repeats of an 8s query buy nothing, round-5/7
        #     advice); reported value = median of runs 1..n.
        # A full cold pass (~240 s at sf0.1) + warm pass (~140 s) +
        # selective thirds fits the 480 s budget, where cold+3-runs
        # (~520 s) degraded the tail to cold singles every time.
        n_runs = runs if (time.time() - bench_start) < budget_s else 1
        walls = []
        heavy_break = False
        stable_break = False
        builds: dict[str, list[str]] = {}
        drain_build_events()  # anything a PREVIOUS query left behind
        for i in range(n_runs):
            # re-check INSIDE the loop too: one slow query can cross
            # the budget mid-repetition, and finishing its remaining
            # runs could overshoot by several multiples of its wall —
            # at least one run always executes so a value exists
            if i and (time.time() - bench_start) >= budget_s:
                break
            if i >= 2:
                if min(walls) > heavy_s:
                    heavy_break = True
                    break
                if abs(walls[1] - walls[0]) <= 0.30 * min(walls):
                    stable_break = True
                    break
            walls.append(noop_run(spark, name, sf_dir).wall)
            built = drain_build_events()
            if built:
                builds.setdefault("warmup" if i == 0 else "measured", []).extend(
                    built
                )
        if len(walls) < runs:
            # only the deliberate break sites count as caps; a
            # budget-shortened run whose single wall happens to
            # exceed heavy_s is still budget pressure (round-6 advice)
            if heavy_break:
                heavy_singles += 1
            elif stable_break:
                stable_stopped += 1
            else:
                degraded += 1
        measured = walls[1:] if len(walls) > 1 else walls
        timings[name] = round(statistics.median(measured), 3)
        all_walls[name] = [round(w, 3) for w in walls]
        if builds:
            substrate_cold[name] = builds

    # queries whose ONLY wall is the warmup run (budget truncation or
    # SPARK_GRAFT_BENCH_RUNS=1): their value is cold semantics — keep
    # them out of the post-warmup headline (round-9 advice)
    cold_only = sorted(n for n, w in all_walls.items() if len(w) == 1)

    box = _box_load()
    # integrity gate: an artifact measured under external CPU pressure
    # is not comparable round-over-round (BENCH_r05 shipped with PSI
    # avg300=2.13 and its tail read ~1.5x slower than the quiet-window
    # oracle artifact on identical plans). The JSON self-declares.
    # noisy keys off the PRE-run avg300 (external load only) plus the
    # post-run avg10 headroom check is deliberately absent: the bench
    # itself saturates avg10.
    psi_max = float(os.environ.get("SPARK_GRAFT_PSI_MAX", "0.5"))
    psi300 = box_pre.get("cpu_psi_some", {}).get("avg300")
    noisy = psi300 is not None and psi300 > psi_max
    if noisy:
        print(
            f"WARNING: cpu PSI avg300={psi300} > {psi_max} — walls are "
            "inflated by external load; re-run in a quiet window before "
            "committing this artifact",
            file=sys.stderr,
        )
    # full detail to a sidecar file (never stdout: the driver's capture
    # buffer truncates long lines and the official record goes null)
    warm_total = round(sum(v for n, v in timings.items() if n not in cold_only), 3)
    cold_total = round(sum(timings[n] for n in cold_only), 3)
    # per-family subtotals (family = catalog module that registered the
    # query): 9 families, small and stable — these plus the 10 slowest
    # query medians are the per-query signal the 2000-char stdout
    # budget can afford
    # cold_only queries are excluded so the families block reconciles
    # with "value" exactly (sum(families) == value; the cold escrow is
    # its own line) — round-10 advice
    families: dict[str, float] = {}
    cold_set = set(cold_only)
    for name, v in timings.items():
        if name in cold_set:
            continue
        fam = REGISTRY[name].spark.__module__.rsplit(".", 1)[-1]
        fam = fam.removeprefix("catalog_") if fam != "catalog" else "core"
        families[fam] = families.get(fam, 0.0) + v
    families = {k: round(v, 2) for k, v in sorted(families.items())}
    slowest = dict(
        sorted(
            ((k, round(v, 2)) for k, v in timings.items()),
            key=lambda kv: -kv[1],
        )[:10]
    )
    detail = {
        "metric": "catalog_queries_total_wall",
        "value": warm_total,
        "unit": "sec",
        "queries": timings,
        "runs": runs,
        "degraded_to_single_run": degraded,
        "heavy_capped": heavy_singles,
        "stable_stopped": stable_stopped,
        "cold_only": cold_only,
        "cold_only_sec": cold_total,
        "families": families,
        "walls": all_walls,
        "substrate_cold": substrate_cold,
        "sf": sf,
        "box_load_pre": box_pre,
        "box_load": box,
        "noisy": noisy,
        "skipped": skipped,
    }
    if shard:
        detail["shard"] = shard
    detail_path = resolve_detail_path(detail)
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    print(f"detail -> {detail_path}", file=sys.stderr)
    # stdout: ONE tiny line. The driver keeps only the LAST 2000 chars
    # of stdout; this line must fit whole or the official bench record
    # is null (it was, rounds 2-9). Shape: total + n + per-family
    # subtotals + 10 slowest medians + cold-only escrow. ~0.8 KB.
    line = json.dumps(
        {
            "metric": "catalog_queries_total_wall",
            "value": warm_total,
            "unit": "sec",
            "queries": slowest,
            "n_queries": len(timings),
            "families": families,
            "cold_only": {"n": len(cold_only), "sec": cold_total},
            "skipped": len(skipped),
            "sf": sf,
            "noisy": noisy,
        },
        separators=(",", ":"),
    )
    if len(line) > 1500:
        # belt and braces: never let the line creep past the capture
        # window again, whatever the catalog grows into
        print(
            f"WARNING: bench stdout line {len(line)}B > 1500B — "
            "dropping the slowest-queries block",
            file=sys.stderr,
        )
        obj = json.loads(line)
        obj["queries"] = {}
        line = json.dumps(obj, separators=(",", ":"))
    print(line)


class Run(NamedTuple):
    """One noop-sink run: its wall and the Spark jobs it started,
    split at the end of plan construction."""

    wall: float
    construct_jobs: int
    exec_jobs: int


def noop_run(spark, name: str, sf_dir: str) -> Run:
    """One run of catalog query ``name`` into the noop sink (the full
    pipeline runs, nothing is serialized back to Python). The timing
    loop of this harness and of tools/time_query.py.

    The job counts come from the DAG scheduler's next job id, read
    before construction, after ``REGISTRY[name].spark(...)`` returns
    and after the write: construction jobs are the eager ones (store
    writes, checkpoints, collects) run while the plan is built.

    Afterwards the checkpointed/cached RDDs the query materialized (the
    dedup pipelines localCheckpoint signatures) are released before the
    next run: explicit unpersist beats waiting on the async
    ContextCleaner, and keeps executor memory flat. The collection cost
    is paid only when something was actually persisted — a forced full
    JVM GC per run adds measurable wall across a catalog of mostly
    persist-free plans."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = int(dag.nextJobId())
    t0 = time.time()
    df = REGISTRY[name].spark(spark, sf_dir)
    j1 = int(dag.nextJobId())
    df.write.format("noop").mode("overwrite").save()
    wall = time.time() - t0
    j2 = int(dag.nextJobId())
    persisted = spark.sparkContext._jsc.getPersistentRDDs()
    if persisted:
        gc.collect()
        for jrdd in persisted.values():
            jrdd.unpersist()
        spark.sparkContext._jvm.System.gc()
    return Run(wall, j1 - j0, j2 - j1)


def order_by_prior_cost(
    names: list[str], prior: dict[str, float] | None = None
) -> list[str]:
    """Order queries costliest-first by last-known committed medians
    (BENCH_DETAIL.json next to this script); queries with no prior
    median (new this round) sort first of all so they are always
    measured. Falls back to the input order when no detail artifact
    exists. Deterministic: ties break on the input order."""
    if prior is None:
        try:
            with open(
                os.path.join(
                    os.path.dirname(os.path.abspath(__file__)),
                    "BENCH_DETAIL.json",
                )
            ) as f:
                prior = json.load(f).get("queries", {})
        except (OSError, ValueError):
            prior = {}
    if not prior:
        return list(names)
    pos = {n: i for i, n in enumerate(names)}
    return sorted(
        names, key=lambda n: (-prior.get(n, float("inf")), pos[n])
    )


def resolve_detail_path(detail: dict, environ: dict | None = None) -> str:
    """Where to write the detail sidecar — with a no-clobber rule.

    The committed BENCH_DETAIL.json is the repo's full-coverage warm
    artifact (every query measured post-warmup, quiet window). Twice
    now (r12 advice, repeated at r13 commit fd79063) a smoke / capped /
    noisy pass silently overwrote it. Rule: an INCOMPLETE run — any
    skipped or cold-only queries, the noisy self-flag, or a shard
    pass — is written to BENCH_DETAIL.partial.json instead, unless
    SPARK_GRAFT_BENCH_COMMIT=1 explicitly overrides. An explicit
    SPARK_GRAFT_BENCH_DETAIL path is always honored verbatim (the
    shard-merge workflow points each pass at its own /tmp file).
    """
    env = os.environ if environ is None else environ
    explicit = env.get("SPARK_GRAFT_BENCH_DETAIL")
    if explicit:
        return explicit
    here = os.path.dirname(os.path.abspath(__file__))
    complete = (
        not detail.get("skipped")
        and not detail.get("cold_only")
        and not detail.get("noisy")
        and "shard" not in detail
    )
    if complete or env.get("SPARK_GRAFT_BENCH_COMMIT") == "1":
        return os.path.join(here, "BENCH_DETAIL.json")
    return os.path.join(here, "BENCH_DETAIL.partial.json")


def _box_load() -> dict:
    """Competing-load telemetry: this box carries EXTERNAL load (load
    averages above 10 with zero local processes have been observed),
    and a wall-clock 'regression' measured inside a noisy window is
    usually phantom. Recording loadavg + PSI with the numbers makes
    any round-over-round delta machine-attributable to box noise."""
    out: dict = {}
    try:
        la1, la5, la15 = os.getloadavg()
        out["loadavg"] = [round(la1, 2), round(la5, 2), round(la15, 2)]
    except OSError:
        pass
    try:
        with open("/proc/pressure/cpu") as f:
            # "some avg10=12.34 avg60=8.90 avg300=5.67 total=..."
            line = f.readline()
        out["cpu_psi_some"] = {
            k: float(v)
            for k, v in (kv.split("=") for kv in line.split()[1:])
            if k.startswith("avg")
        }
    except (OSError, ValueError):
        pass
    return out


if __name__ == "__main__":
    main()
