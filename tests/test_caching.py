"""Unit tests for caching.py: the train-once session cache — the
conf-driven shared base dir (a cluster needs shared storage — the
driver-local tempdir fallback only works on local[n]) and path
injectivity in the cache key (the readable slug is lossy; two keys
must never alias one parquet path) — and `materialize`, the one place
a frame is checkpointed."""

from __future__ import annotations

import os

from umn_eda_kafka_stream_processing_spark import caching
from umn_eda_kafka_stream_processing_spark.caching import (
    CACHE_DIR_CONF,
    Why,
    _slug,
    materialize,
    materialized,
)


def test_slug_distinct_for_collapsing_keys():
    # '|' and '/' both collapse to '_' in the readable prefix — the
    # md5 suffix must keep the paths distinct
    a, b = _slug("model|sf0.01"), _slug("model/sf0.01")
    assert a != b
    # and long keys differing only past the 120-char truncation point
    base = "k" * 150
    assert _slug(base + "A") != _slug(base + "B")


def test_materialized_uses_conf_dir_and_is_write_once(spark, tmp_path):
    root = str(tmp_path / "shared_cache")
    old = spark.conf.get(CACHE_DIR_CONF, None)
    app = spark.sparkContext.applicationId
    # the per-app base dir memoizes on first use; clear so the conf
    # takes effect for this app inside the shared test session
    caching._DIRS.pop(app, None)
    spark.conf.set(CACHE_DIR_CONF, root)
    builds = []
    try:
        def build():
            builds.append(1)
            return spark.range(5).withColumnRenamed("id", "v")

        key = "test-conf-dir|corpus=x"
        got1 = materialized(spark, key, build)
        got2 = materialized(spark, key, build)
        assert len(builds) == 1  # train once
        assert sorted(r["v"] for r in got2.collect()) == [0, 1, 2, 3, 4]
        expected = os.path.join(root, app, _slug(key))
        assert os.path.isdir(expected)
        # the frame reads from the conf-rooted path, not a tempdir
        assert any(
            expected in f for f in got1.inputFiles()
        ), got1.inputFiles()
    finally:
        caching._FRAMES.pop((app, "test-conf-dir|corpus=x"), None)
        caching._DIRS.pop(app, None)
        if old is None:
            spark.conf.unset(CACHE_DIR_CONF)
        else:
            spark.conf.set(CACHE_DIR_CONF, old)


def _jobs_during(spark, fn):
    """(fn(), Spark jobs started while it ran), read from the DAG
    scheduler's next job id."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = int(dag.nextJobId())
    out = fn()
    return out, int(dag.nextJobId()) - first


def test_materialize_returns_its_own_result_without_a_job(spark):
    once = materialize(spark.range(50).withColumnRenamed("id", "v"), Why.SHARED)
    again, jobs = _jobs_during(spark, lambda: materialize(once, Why.SELF_JOIN))
    assert again is once
    assert jobs == 0


def test_materialize_returns_a_materialized_read_without_a_job(spark):
    app = spark.sparkContext.applicationId
    key = "test-materialize-of-cached|corpus=x"
    try:
        cached = materialized(spark, key, lambda: spark.range(7))
        again, jobs = _jobs_during(spark, lambda: materialize(cached, Why.SHARED))
        assert again is cached
        assert jobs == 0
    finally:
        caching._FRAMES.pop((app, key), None)


def test_materialize_checkpoints_a_fresh_scan(spark, tmp_path):
    path = str(tmp_path / "scan")
    spark.range(20).write.parquet(path)
    scan = spark.read.parquet(path)
    out, jobs = _jobs_during(spark, lambda: materialize(scan, Why.SHARED))
    assert out is not scan
    assert jobs >= 1
    assert sorted(r["id"] for r in out.collect()) == list(range(20))


def test_overwrite_checkpoints_even_a_materialized_frame(spark):
    once = materialize(spark.range(10), Why.SHARED)
    out, jobs = _jobs_during(spark, lambda: materialize(once, Why.OVERWRITE))
    assert out is not once
    assert jobs >= 1


def test_near_dup_clusters_reads_materialized_pairs_without_a_checkpoint(
    spark, monkeypatch
):
    from umn_eda_kafka_stream_processing_spark.operators.dedup import (
        near_dup_clusters,
    )

    pairs = materialize(
        spark.createDataFrame(
            [(1, 2, 0.9), (2, 3, 0.9), (7, 8, 0.9)],
            "doc_id_a long, doc_id_b long, jaccard double",
        ),
        Why.SHARED,
    )
    calls = []
    real = type(pairs).localCheckpoint

    def counting(self, *args, **kwargs):
        calls.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(type(pairs), "localCheckpoint", counting)
    got = sorted(tuple(r) for r in near_dup_clusters(pairs).collect())
    assert got == [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]
    assert calls == []


def test_only_caching_calls_local_checkpoint():
    pkg = os.path.dirname(caching.__file__)
    offenders = []
    for base, _, files in os.walk(pkg):
        for name in files:
            path = os.path.join(base, name)
            if not name.endswith(".py") or path == caching.__file__:
                continue
            with open(path, encoding="utf-8") as f:
                if "localCheckpoint(" in f.read():
                    offenders.append(os.path.relpath(path, pkg))
    assert offenders == []
