"""Pins for the single log-replay core behind ``Scan``.

Every scan plans from the snapshot's cached Arrow live-file table
(sources/pyreplay.py, cached in sources/scan.py): file lists need no
Spark job, a second scan of a snapshot reads no log file, an incremental
refresh off the engine's own cached frame replays only the new commits,
and the cache holds a bounded number of bytes of Arrow tables.
"""

from __future__ import annotations

import contextlib
import uuid

from pyspark.sql import functions as F

from delta_kernel_rs_spark.sources import scan as scan_mod
from delta_kernel_rs_spark.sources.delete import delete_with_dvs
from delta_kernel_rs_spark.sources.snapshot import Snapshot
from delta_kernel_rs_spark.sources.table import DeltaTable
from tests.replay_oracle import assert_scan_matches_oracle


def _rows(spark, lo, hi):
    return spark.range(lo, hi, numPartitions=2).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("p")
    )


def _table(spark, tmp_path, partition_by=None):
    t = DeltaTable.create(spark, str(tmp_path / "t"), df=_rows(spark, 0, 50), partition_by=partition_by)
    t.append(_rows(spark, 50, 100))
    return t


@contextlib.contextmanager
def _job_ids(spark):
    """Yields a function listing the Spark jobs run inside the block."""
    sc = spark.sparkContext
    group = f"replay-core-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count pin")
    try:
        yield lambda: list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@contextlib.contextmanager
def _log_reads(snapshot):
    """Yields the list of files read through the snapshot's storage."""
    reads: list[str] = []
    read_text = snapshot.storage.read_text

    def spy(path):
        reads.append(path.rsplit("/", 1)[-1])
        return read_text(path)

    snapshot.storage.read_text = spy
    try:
        yield reads
    finally:
        del snapshot.storage.read_text


def test_files_and_to_df_plan_without_spark_jobs(spark, tmp_path):
    t = _table(spark, tmp_path, partition_by=["p"])
    snap = Snapshot.create(spark, t.path)
    with _job_ids(spark) as jobs:
        files = snap.scan().files()
        df = snap.scan().to_df()
        assert jobs() == [], "file listing or to_df planning ran a Spark job"
        assert {r.k for r in df.collect()} == set(range(100))
        assert jobs(), "the job group did not capture the action's jobs"
    assert {f.partition_values["p"] for f in files} == {"0", "1", "2"}


def test_second_scan_of_a_snapshot_reads_no_log(spark, tmp_path):
    snap = _table(spark, tmp_path).snapshot()
    first = snap.scan().files()
    with _log_reads(snap) as reads:
        again = snap.scan().files()
        snap.scan().to_df()
        snap.scan().scan_files_df()
    assert reads == []
    assert again == first


def test_refresh_off_cached_frame_replays_only_new_commits(spark, tmp_path):
    t = _table(spark, tmp_path)
    base = t.snapshot()
    prior = base.scan().scan_files_df()
    t.append(_rows(spark, 100, 120))
    delete_with_dvs(t, "k % 4 = 0")  # DV swap: remove + add per file

    latest = Snapshot.create_from(base)
    with _log_reads(latest) as reads:
        merged = latest.scan_files_df_from(base.version, prior)
    assert sorted(reads) == [f"{v:020d}.json" for v in range(base.version + 1, latest.version + 1)]
    # the refresh installed the target's live table: a fresh scan of the
    # target plans from it, and it equals the oracle fold of the target
    assert latest.scan().scan_files_df() is merged
    assert_scan_matches_oracle(latest)
    got = {r.k for r in latest.scan().with_files_df(merged).to_df().collect()}
    assert got == {k for k in range(120) if k % 4}


def test_filtered_prior_refresh_keeps_the_filter(spark, tmp_path):
    """A predicate-filtered prior is not the engine's cached frame: the
    refresh merges the diff into it in-plan, so files the filter dropped
    stay dropped while the new commits' files join."""
    t = _table(spark, tmp_path)
    base = t.snapshot()
    low = {f.path for f in t.snapshot(version=0).scan().files()}
    prior = base.scan(predicate="k >= 50").scan_files_df()
    high = {r.file_path for r in prior.collect()}
    assert high and not (high & low)

    t.append(_rows(spark, 100, 120))
    delete_with_dvs(t, "k = 60")
    latest = t.snapshot()
    merged = latest.scan_files_df_from(base.version, prior)
    assert scan_mod.live_entry_of(merged) is None
    rows = merged.collect()
    new = {f.path for f in latest.scan().files()} - low - high
    assert {r.file_path for r in rows} == high | new
    assert sum(r.deletion_vector is not None for r in rows) == 1


def test_live_cache_is_bounded_by_arrow_bytes(spark, tmp_path, monkeypatch):
    t = _table(spark, tmp_path)
    t.append(_rows(spark, 100, 150))
    snaps = [t.snapshot(version=v) for v in range(3)]
    tables = [scan_mod.live_files_arrow(s.storage, s.log_segment) for s in snaps]
    first = snaps[0].scan().scan_files_df()
    assert first.count() == tables[0].num_rows
    entry = scan_mod._LIVE_ADDS_CACHE[scan_mod.live_key(snaps[0])]
    assert entry.table is not None and entry.frame is first

    # a 1-byte bound keeps only the newest entry: evictees drop their
    # Arrow table and their frame
    monkeypatch.setattr(scan_mod, "_LIVE_ADDS_CACHE_MAX_BYTES", 1)
    assert len(snaps[1].scan().files()) == tables[1].num_rows
    assert entry.table is None and entry.frame is None
    assert list(scan_mod._LIVE_ADDS_CACHE) == [scan_mod.live_key(snaps[1])]

    # a bound that fits two tables keeps two; an evicted snapshot replays again
    bound = tables[1].nbytes + tables[2].nbytes
    monkeypatch.setattr(scan_mod, "_LIVE_ADDS_CACHE_MAX_BYTES", bound)
    assert len(snaps[2].scan().files()) == tables[2].num_rows
    assert len(scan_mod._LIVE_ADDS_CACHE) == 2
    assert len(snaps[0].scan().files()) == tables[0].num_rows
    assert list(scan_mod._LIVE_ADDS_CACHE) == [scan_mod.live_key(s) for s in (snaps[2], snaps[0])]
    assert sum(e.table.nbytes for e in scan_mod._LIVE_ADDS_CACHE.values()) <= bound


def test_stats_parsed_json_reads_back_as_the_struct(spark):
    """A writeStatsAsStruct checkpoint with JSON stats off gets its stats
    document re-derived in Python (pyreplay._stats_json); data skipping
    parses it with Spark's from_json, which must give back every value of
    the struct: NaN, a null field, a leap-day date, a millisecond
    timestamp, an 18-digit decimal, quotes and non-ASCII text."""
    from delta_kernel_rs_spark.sources.pyreplay import _stats_json

    schema = (
        "numRecords BIGINT, minValues STRUCT<i: INT, d: DOUBLE, dt: DATE, ts: TIMESTAMP,"
        " dec: DECIMAL(20,3), s: STRING>, nullCount STRUCT<i: BIGINT>"
    )
    st = spark.sql(
        """SELECT named_struct(
             'numRecords', 3L,
             'minValues', named_struct('i', -2, 'd', CAST('NaN' AS DOUBLE),
               'dt', DATE'2024-02-29', 'ts', TIMESTAMP'2024-01-01 12:34:56.789',
               'dec', CAST('12345678901234567.891' AS DECIMAL(20,3)), 's', 'a"b\\u00fc'),
             'nullCount', named_struct('i', CAST(NULL AS BIGINT))) AS st"""
    )
    doc = _stats_json(st.toArrow().column("st").to_pylist()[0])
    got = st.select(
        F.to_json(F.from_json(F.lit(doc), schema)).alias("back"), F.to_json("st").alias("want")
    ).first()
    assert got.back == got.want, doc
