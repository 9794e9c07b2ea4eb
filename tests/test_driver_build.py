"""The driver-build layer every plan-memo miss pays: the session turns off
PySpark's per-call call-site capture, and the table loaders memoize each
snapshot file's inferred parquet schema so a repeat read starts no
schema-inference job (sources/tables.py)."""

from __future__ import annotations

import os
import shutil
import sys
import threading
import uuid
from contextlib import contextmanager

import pyarrow.parquet as pq
from pyspark.sql.types import TimestampNTZType

from energy_data_pipeline_spark.sources import tables
from energy_data_pipeline_spark.sources.tables import load_events_window, load_table


@contextmanager
def _jobs_started(spark):
    """Collects the ids of the Spark jobs the block starts."""
    sc = spark.sparkContext
    group = f"driver-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "driver-build test")
    ids: list[int] = []
    try:
        yield ids
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_session_disables_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_repeat_table_read_starts_no_job(spark, sf_small):
    load_table(spark, sf_small, "events")
    with _jobs_started(spark) as jobs:
        load_table(spark, sf_small, "events")
        load_events_window(spark, sf_small, "2024-01-01", "2024-01-02")
    assert jobs == []


def test_schema_memo_hit_matches_inferred_read(spark, sf_small, tmp_path):
    snap = str(tmp_path)
    shutil.copy(f"{sf_small}/events.parquet", f"{snap}/events.parquet")
    with _jobs_started(spark) as first_jobs:
        first = load_table(spark, snap, "events")
    assert first_jobs, "a new path must infer its schema"
    with _jobs_started(spark) as second_jobs:
        second = load_table(spark, snap, "events")
    assert second_jobs == []
    assert second.schema == first.schema
    assert isinstance(second.schema["ts"].dataType, TimestampNTZType)
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_infers_again(spark, sf_small, tmp_path):
    snap = str(tmp_path)
    path = f"{snap}/events.parquet"
    shutil.copy(f"{sf_small}/events.parquet", path)
    n_before = load_table(spark, snap, "events").count()
    os.chmod(path, 0o644)
    pq.write_table(pq.read_table(path).slice(0, 10), path)
    with _jobs_started(spark) as jobs:
        df = load_table(spark, snap, "events")
    assert jobs, "a rewritten file must infer its schema again"
    assert n_before > 10
    assert df.count() == 10
    assert isinstance(df.schema["ts"].dataType, TimestampNTZType)


def test_schema_memo_concurrent_reads(spark, sf_small, tmp_path, monkeypatch):
    """More reader threads than cores over more paths than the memo
    holds: every read returns the right schema and the LRU bound holds."""
    monkeypatch.setattr(tables, "_MAX_SCHEMAS", 3)
    snaps = []
    for i in range(5):
        d = tmp_path / f"snap{i}"
        d.mkdir()
        shutil.copy(f"{sf_small}/nation.parquet", d / "nation.parquet")
        snaps.append(str(d))
    expected = load_table(spark, sf_small, "nation").schema
    errors: list[BaseException] = []

    def reader(k: int) -> None:
        try:
            for j in range(6):
                got = load_table(spark, snaps[(k + j) % len(snaps)], "nation").schema
                assert got == expected
        except BaseException as e:  # noqa: BLE001 - surfaced by the main thread
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(tables._SCHEMAS) <= 3
