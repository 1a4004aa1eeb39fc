"""Time individual catalog queries with the noop sink (guide §1.4).

    python tools/time_query.py [--runs N] [--sf DIR] <query> [query ...]

One shared session, one trivial warmup query first (JVM/codegen), then
per query: N noop-sink runs (run 0 is the recorded warmup, excluded
from the median — it pays train-once session-cache builds). Prints
walls per run plus the post-warmup median, and per run the Spark jobs
started while the plan was built (``construct_jobs``: checkpoints,
store writes, collects) and by the final write (``exec_jobs``).
Persisted RDDs are swept between runs by the same per-run function
bench.py uses (`bench.noop_run`), so session caches rebuilt per run
don't accumulate and medians stay comparable with BENCH_DETAIL.
"""

from __future__ import annotations

import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import noop_run
from umn_eda_kafka_stream_processing_spark.plans import REGISTRY
from umn_eda_kafka_stream_processing_spark.session import get_spark


USAGE = "usage: time_query.py [--runs N] [--sf DIR] query..."


def parse_args(args: list[str]) -> tuple[int, str, list[str]]:
    """(runs, sf_dir, query names); prints the usage line and exits 2
    on a flag without its value, a non-integer run count or an unknown
    query name."""
    runs = 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = []
    i = 0
    while i < len(args):
        if args[i] in ("--runs", "--sf"):
            if i + 1 == len(args):
                print(f"{USAGE}; {args[i]} needs a value")
                raise SystemExit(2)
            if args[i] == "--sf":
                sf_dir = args[i + 1]
            elif args[i + 1].isdigit():
                runs = int(args[i + 1])
            else:
                print(f"{USAGE}; --runs needs an integer, got {args[i + 1]!r}")
                raise SystemExit(2)
            i += 2
        else:
            names.append(args[i])
            i += 1
    unknown = [n for n in names if n not in REGISTRY]
    if unknown or not names:
        print(f"{USAGE}; unknown={unknown}")
        raise SystemExit(2)
    return runs, sf_dir, names


def main() -> None:
    runs, sf_dir, names = parse_args(sys.argv[1:])
    spark = get_spark(app_name="time-query")
    spark.sparkContext.setLogLevel("ERROR")
    noop_run(spark, "user_event_count", sf_dir)
    for name in names:
        done = []
        for r in range(runs):
            spark.sparkContext.setJobDescription(f"{name} run{r}")
            done.append(noop_run(spark, name, sf_dir))
        walls = [d.wall for d in done]
        med = statistics.median(walls[1:]) if len(walls) > 1 else walls[0]
        print(
            f"{name}: walls={[round(w, 2) for w in walls]} "
            f"construct_jobs={[d.construct_jobs for d in done]} "
            f"exec_jobs={[d.exec_jobs for d in done]} "
            f"median_post_warmup={med:.2f}s"
        )


if __name__ == "__main__":
    main()
