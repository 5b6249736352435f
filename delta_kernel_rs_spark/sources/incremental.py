"""Incremental scan: the file-action diff over ``(base, target]``.

Mirrors the reference's incremental_scan module (kernel/src/
incremental_scan/mod.rs:1-60) and hint-based refresh
(``scan_metadata_from``, kernel/src/scan/mod.rs:880-1024): a repeated
reader (dashboard refresh, streaming source, cached scan state) replays
only the commits newer than its base version instead of the whole log.
The diff comes from the single-node replay (sources/pyreplay.py), the
same one every ``Scan`` plans from.

Semantics (reference contract):
- the diff covers commits in ``(base_version, target_version]``;
- newest-wins dedup per FileActionKey(path, dv_unique_id) *within the
  range*; removes are always reported (consumers must drop stale cache
  entries);
- if the range's commits are gone from the log, the caller falls back to
  a full scan — we return ``None`` exactly then.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from delta_kernel_rs_spark.sources.delta_paths import LogFileKind, parse_log_filename
from delta_kernel_rs_spark.sources.pyreplay import (
    _adds_from_pylist,
    _dv_uid_py,
    merge_tail,
    replay_commit_tail,
    tail_adds_arrow,
)
from delta_kernel_rs_spark.sources.scan import (
    LiveKey,
    ScanFile,
    absolute_paths,
    dv_unique_id,
    live_files_frame,
    scan_files_arrow,
    scan_files_list,
)

_REMOVE_FIELDS = ("path", "size", "partitionValues", "deletionVector")


def _range_commits(snapshot, base_version: int) -> list | None:
    """Plain commit files for ``(base, target]``, ascending; None when the
    range is not servable.

    The target's commit list serves it when its plain commits cover the
    range. A checkpoint or compacted file above part of the range leaves
    the raw commit JSONs readable on disk until log cleanup, so they are
    listed (the reference's scan_metadata_from builds its range segment
    independently of the target's checkpoint). Only a range with
    genuinely missing commits is unservable."""
    target = snapshot.version
    if base_version >= target:
        raise ValueError(f"base version {base_version} must be < target version {target}")
    want = list(range(base_version + 1, target + 1))
    by_version = {
        c.version: c
        for c in snapshot.log_segment.commit_files
        if c.version > base_version and c.end_version is None
    }
    if sorted(by_version) != want:
        for e in snapshot.storage.list_dir(f"{snapshot.table_path}/_delta_log"):
            p = parse_log_filename(e.path)
            if p is not None and p.kind == LogFileKind.COMMIT and base_version < p.version <= target:
                by_version.setdefault(p.version, p)
        if sorted(by_version) != want:
            return None
    return [by_version[v] for v in want]


def _range_tail(snapshot, base_version: int) -> dict | None:
    commits = _range_commits(snapshot, base_version)
    return None if commits is None else replay_commit_tail(snapshot.storage, commits)


def incremental_actions_df(snapshot, base_version: int) -> DataFrame | None:
    """Latest add/remove per file key across ``(base, target]`` commits,
    or None when the range is not servable. Columns: ``action``
    ('add'|'remove'), the ``scan_files_df`` columns, and ``key_dv`` (the
    DV half of the file key)."""
    tail = _range_tail(snapshot, base_version)
    if tail is None:
        return None
    # a remove reports no mtime, stats or row-tracking fields
    rows = [
        (v, a if is_add else {k: a.get(k) for k in _REMOVE_FIELDS}, is_add, uid)
        for (_, uid), (v, a, is_add) in tail.items()
    ]
    diff = scan_files_arrow(
        _adds_from_pylist([r[1] for r in rows], [r[0] for r in rows]), snapshot.table_path
    )
    diff = diff.add_column(
        0, "action", pa.array(["add" if r[2] else "remove" for r in rows], pa.string())
    ).append_column("key_dv", pa.array([r[3] for r in rows], pa.string()))
    return snapshot.spark.createDataFrame(diff)


def refresh_live_files(snapshot, base_version: int, base_key: LiveKey, base_table: pa.Table):
    """``scan_metadata_from`` over the engine's own cached live table for
    ``(table, base)``: the target's live table is the base's plus the
    replayed ``(base, target]`` commits, installed in the cache as the
    target snapshot's own (so its lifted frame is what a fresh scan of
    the target returns). None unless that equals a fresh replay of the
    target's segment: the same checkpoint, and plain commits only."""
    seg = snapshot.log_segment
    if seg.checkpoint_version != base_key.checkpoint_version or any(
        c.end_version is not None for c in seg.commit_files
    ):
        return None
    older = [c for c in seg.commit_files if c.version <= base_version]
    newer = [c for c in seg.commit_files if c.version > base_version]
    if len(older) != base_key.commit_files or [c.version for c in newer] != list(
        range(base_version + 1, snapshot.version + 1)
    ):
        return None
    tail = replay_commit_tail(snapshot.storage, newer)
    return live_files_frame(snapshot, merge_tail(base_table, tail))


def refresh_scan_files_df(snapshot, base_version: int, prior_df: DataFrame):
    """Frame-shaped ``scan_metadata_from`` for any prior scan-files frame
    (e.g. a predicate-filtered one): merge it with the ``(base, target]``
    diff in-plan, so the driver never materializes either file list.

    Merge rule (newest-wins): any key touched by the diff supersedes the
    prior entry — removes drop it, adds replace it. The diff is already
    newest-wins-deduped within the range and strictly newer than the base,
    so this is one anti-join + one union, no window or aggregate.

    Returns the refreshed frame, or None when the range cannot be served
    incrementally (caller falls back to a full scan).
    """
    if base_version == snapshot.version:
        return prior_df
    diff = incremental_actions_df(snapshot, base_version)
    if diff is None:
        return None
    diff_keys = diff.select(
        F.col("file_path").alias("__k_path"), F.col("key_dv").alias("__k_dv")
    )
    kept = prior_df.join(
        diff_keys,
        (prior_df["file_path"] == F.col("__k_path"))
        & (dv_unique_id(prior_df["deletion_vector"]) == F.col("__k_dv")),
        "left_anti",
    )
    adds = diff.filter(F.col("action") == "add").drop("action", "key_dv")
    return kept.unionByName(adds)


def refresh_scan_files(
    snapshot, base_version: int, prior_files: list[ScanFile]
) -> list[ScanFile] | None:
    """List-shaped ``scan_metadata_from`` for callers that hold a
    ``files()``-style list (the reference's public scan-metadata iterator):
    prior files whose key the range touched drop out, the range's live
    adds join. No Spark job."""
    if base_version == snapshot.version:
        return list(prior_files)
    tail = _range_tail(snapshot, base_version)
    if tail is None:
        return None
    items = list(tail.items())
    touched_paths = absolute_paths(
        pa.array([a["path"] for _, (_, a, _) in items], pa.string()), snapshot.table_path
    ).to_pylist()
    touched = {(p, uid) for p, ((_, uid), _) in zip(touched_paths, items)}
    kept = [f for f in prior_files if (f.path, _dv_uid_py(f.dv)) not in touched]
    return kept + scan_files_list(scan_files_arrow(tail_adds_arrow(tail), snapshot.table_path))
