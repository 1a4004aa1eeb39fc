"""Session factory: Python workers import the package from any cwd."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    from umn_eda_kafka_stream_processing_spark.plans import REGISTRY
    from umn_eda_kafka_stream_processing_spark.session import get_spark

    spark = get_spark(shuffle_partitions=2)
    sf_dir = sys.argv[2]
    spark.createDataFrame(
        [(i, "doc %d" % i * (i % 4)) for i in range(40)],
        "doc_id long, text string",
    ).write.parquet(sf_dir + "/documents.parquet")
    rows = REGISTRY["multimodal_features"].spark(spark, sf_dir).collect()
    print("ROWS", len(rows), sum(r["byte_sum"] for r in rows))
    """
)


def test_multimodal_query_runs_from_a_foreign_cwd(tmp_path):
    """A catalog query whose mapInPandas UDF imports the package runs
    from a working directory that is not the repo root, with the
    package reachable only through the driver's sys.path (not
    installed, not on PYTHONPATH)."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, _ROOT, str(tmp_path / "sf")],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    texts = ["doc %d" % i * (i % 4) for i in range(40)]
    want = f"ROWS 40 {sum(sum(t.encode()) for t in texts)}"
    assert want in proc.stdout, proc.stderr[-3000:]
