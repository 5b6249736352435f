"""Incremental scan / scan_metadata_from tests (reference
kernel/src/incremental_scan/mod.rs, kernel/src/scan/mod.rs:880-1024)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from delta_kernel_rs_spark.sources.delete import delete_with_dvs
from delta_kernel_rs_spark.sources.table import DeltaTable


def _ints(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    t = DeltaTable.create(spark, path, df=_ints(spark, 0, 50))
    t.append(_ints(spark, 50, 80))  # v1
    return t


def test_incremental_reads_only_new_commits(spark, table):
    table.append(_ints(spark, 80, 100))  # v2
    snap = table.snapshot()
    read_text = snap.storage.read_text
    read = set()

    def spy(path):
        read.add(path.rsplit("/", 1)[-1])
        return read_text(path)

    snap.storage.read_text = spy
    try:
        diff = snap.incremental_actions(1)
    finally:
        del snap.storage.read_text
    assert read == {f"{2:020d}.json"}  # only the post-base commit
    rows = diff.collect()
    assert all(r.action == "add" and r.commit_version == 2 for r in rows)


def test_refresh_matches_full_scan_after_append_and_dv_delete(spark, table):
    base = table.snapshot()
    prior = base.scan().files()

    table.append(_ints(spark, 80, 100))  # v2
    delete_with_dvs(table, "k % 4 = 0")  # v3: DV swap remove+add

    latest = table.snapshot()
    refreshed = latest.scan_files_from(base.version, prior)
    assert refreshed is not None
    full = latest.scan().files()
    as_key = lambda f: (f.path, str(f.dv))  # noqa: E731
    assert sorted(map(as_key, refreshed)) == sorted(map(as_key, full))

    # And the refreshed file list reads back the right rows.
    scan = latest.scan()
    scan._files_cache = refreshed
    got = {r.k for r in scan.to_df().collect()}
    assert got == {k for k in range(100) if k % 4 != 0}


def test_refresh_noop_at_same_version(spark, table):
    snap = table.snapshot()
    files = snap.scan().files()
    assert snap.scan_files_from(snap.version, files) == files


def test_incremental_serves_past_checkpoint_and_unservable_when_cleaned(
    spark, table
):
    """A checkpoint anchors the snapshot's segment above the range, but the
    raw commit JSONs stay readable until log cleanup — the range must still
    be served by listing them (reference scan_metadata_from builds its
    range segment independently of the checkpoint). Only genuinely missing
    commits make it unservable."""
    import os

    base_version = table.snapshot().version
    table.append(_ints(spark, 80, 90))
    table.checkpoint()  # anchors the snapshot's commit list above v0
    table.append(_ints(spark, 90, 95))
    snap = table.snapshot()
    served = snap.incremental_actions(0)
    assert served is not None
    versions = {r["commit_version"] for r in served.collect()}
    assert versions and min(versions) >= 1 and max(versions) == snap.version
    # now genuinely remove a commit in the range -> unservable
    victim = f"{table.path}/_delta_log/{1:020d}.json"
    os.rename(victim, victim + ".bak")
    try:
        assert snap.incremental_actions(0) is None
        assert snap.scan_files_from(0, []) is None
    finally:
        os.rename(victim + ".bak", victim)


def test_incremental_base_not_behind_target(spark, table):
    snap = table.snapshot()
    with pytest.raises(ValueError):
        snap.incremental_actions(snap.version)


def test_refresh_df_unservable_and_noop(spark, table):
    """Frame-shaped scan_files_df_from edge contract: same version returns
    the prior frame unchanged; a range with a genuinely missing commit is
    unservable (None) exactly like the list API."""
    import os

    snap = table.snapshot()
    prior_df = snap.scan().scan_files_df()
    assert snap.scan_files_df_from(snap.version, prior_df) is prior_df

    table.append(_ints(spark, 80, 90))
    table.checkpoint()
    table.append(_ints(spark, 90, 95))
    latest = table.snapshot()
    victim = f"{table.path}/_delta_log/{1:020d}.json"
    os.rename(victim, victim + ".bak")
    try:
        assert latest.scan_files_df_from(0, prior_df) is None
    finally:
        os.rename(victim + ".bak", victim)


def test_refresh_merge_cached_by_stable_key(spark, tmp_path):
    """The merged (base, target] frame is immutable for a fixed prior
    PLAN, so repeated refreshes share one persisted frame (stable-key
    LRU, r9); a semantically different prior must never alias into it."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "tbl")
    t = DeltaTable.create(spark, path, df=_ints(spark, 0, 40))
    t.append(_ints(spark, 40, 80))
    base = t.snapshot(version=0)
    latest = t.snapshot()

    m1 = latest.scan_files_df_from(0, base.scan().scan_files_df())
    m1b = latest.scan_files_df_from(0, base.scan().scan_files_df())
    assert m1 is m1b  # identical prior plan -> the SAME persisted frame

    empty_prior = base.scan().scan_files_df().filter(F.lit(False))
    m2 = latest.scan_files_df_from(0, empty_prior)
    assert m2 is not m1
    assert m1.count() > m2.count()  # no aliasing across different priors
