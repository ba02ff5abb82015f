"""The event-log fold on a log that a real Spark job writes inside the test.

    python -m pytest e2ebench/test_eventlog.py -q
"""

from __future__ import annotations

import glob
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402


@pytest.fixture(scope="module")
def job(tmp_path_factory):
    """A 4-partition Arrow UDF, a 3-partition shuffle and a parquet write,
    run once with an uncompressed event log."""
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    base = tmp_path_factory.mktemp("fold")
    events, out = base / "events", base / "out"
    events.mkdir()
    spark = (
        SparkSession.builder.master("local[2]").appName("eventlog-fold-test")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", str(events))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.local.dir", str(base / "local"))
        .getOrCreate()
    )
    try:
        def ident(batches):
            yield from batches

        t0 = time.time()
        df = spark.range(4000, numPartitions=4).mapInArrow(ident, "id long")
        df.groupBy((df.id % 3).alias("k")).count().write.parquet(str(out))
        t1 = time.time()
    finally:
        spark.stop()
    return eventlog.load(str(events)), out, (t0, t1)


def test_fold_counts_tasks_jobs_and_written_files(job):
    log, out, _ = job
    f = eventlog.fold(log)
    assert f["tasks"] == sum(e["Event"] == "SparkListenerTaskEnd" for e in log) == 4 + 3
    assert f["jobs"] == sum(e["Event"] == "SparkListenerJobStart" for e in log) >= 1
    files = glob.glob(str(out / "part-*"))
    assert f["files_written"] == len(files) > 0
    assert f["output_bytes"] == sum(os.path.getsize(p) for p in files)


def test_fold_python_transfer_and_shuffle(job):
    log, _, _ = job
    f = eventlog.fold(log)
    # 4000 longs cross into the Arrow worker and back
    assert f["to_python_bytes"] >= 4000 * 8 and f["from_python_bytes"] >= 4000 * 8
    assert f["shuffle_write_bytes"] > 0
    assert f["shuffle_read_bytes"] == f["shuffle_write_bytes"]
    assert 0 <= eventlog.share(f["python_ms"], f["task_ms"]) <= 1
    assert 0 <= eventlog.share(f["gc_ms"], f["task_ms"]) <= 1


def test_fold_attributes_by_window(job):
    log, _, (t0, t1) = job
    whole = eventlog.fold(log)
    assert eventlog.fold(log, [(t0, t1)]) == whole
    assert eventlog.fold(log, [(t1 + 60, t1 + 120)]) == dict.fromkeys(eventlog.KEYS, 0)
