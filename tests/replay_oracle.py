"""Reference oracle for log replay: the distributed Spark fold.

Scans plan from the single-node Arrow replay (sources/pyreplay.py). This
module keeps an independent replay to check it against, written the
other way: a Spark JSON read of the commit tail, newest action per
``(key_path, key_dv)`` by ``max_by(version)``, and the checkpoint's adds
anti-joined against every key the tail touched. File identity is Spark's
``canonical_log_path`` decoding, so an oracle match also pins the
Python ``_unq`` decoding the scan's constants / DV joins rely on.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from delta_kernel_rs_spark.sources.actions import SCAN_ACTIONS_SCHEMA
from delta_kernel_rs_spark.sources.scan import (
    canonical_log_path,
    dv_unique_id,
    resolve_add_path,
    resolved_checkpoint_df,
)


def oracle_files_df(snapshot):
    """Live files of ``snapshot`` as (file_path, size, partition_values,
    deletion_vector, base_row_id, default_row_commit_version,
    commit_version) rows."""
    spark = snapshot.spark
    seg = snapshot.log_segment
    commit_arm = checkpoint_arm = None
    if seg.commit_files:
        version_map = spark.createDataFrame(
            [(c.filename, c.end_version if c.end_version is not None else c.version) for c in seg.commit_files],
            "log_filename STRING, version LONG",
        )
        raw = spark.read.schema(SCAN_ACTIONS_SCHEMA).option("mode", "FAILFAST").json(
            [c.path for c in seg.commit_files]
        )
        commit_arm = (
            raw.withColumn("log_filename", F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1))
            .join(F.broadcast(version_map), "log_filename")
            .filter(F.col("add").isNotNull() | F.col("remove").isNotNull())
            .select(
                canonical_log_path(F.coalesce(F.col("add.path"), F.col("remove.path"))).alias("key_path"),
                F.when(F.col("add").isNotNull(), dv_unique_id(F.col("add.deletionVector")))
                .otherwise(dv_unique_id(F.col("remove.deletionVector")))
                .alias("key_dv"),
                "add",
                "version",
            )
        )
    if seg.checkpoint_parts:
        ckpt = resolved_checkpoint_df(spark, seg)
        checkpoint_arm = ckpt.filter(F.col("add").isNotNull()).select(
            canonical_log_path(F.col("add.path")).alias("key_path"),
            dv_unique_id(F.col("add.deletionVector")).alias("key_dv"),
            "add",
            F.lit(seg.checkpoint_version).cast("long").alias("version"),
        )
    live = checkpoint_arm
    if commit_arm is not None:
        live = (
            commit_arm.groupBy("key_path", "key_dv")
            .agg(F.max_by(F.struct("version", "add"), F.col("version")).alias("w"))
            .select("key_path", "key_dv", F.col("w.version").alias("version"), F.col("w.add").alias("add"))
            .filter(F.col("add").isNotNull())
        )
        if checkpoint_arm is not None:
            keys = commit_arm.select("key_path", "key_dv").distinct()
            live = live.unionByName(checkpoint_arm.join(F.broadcast(keys), ["key_path", "key_dv"], "left_anti"))
    return live.select(
        resolve_add_path(F.col("add.path"), snapshot.table_path).alias("file_path"),
        F.col("add.size").alias("size"),
        F.col("add.partitionValues").alias("partition_values"),
        F.col("add.deletionVector").alias("deletion_vector"),
        F.col("add.baseRowId").alias("base_row_id"),
        F.col("add.defaultRowCommitVersion").alias("default_row_commit_version"),
        F.col("version").alias("commit_version"),
    )


def _dv_tuple(dv) -> tuple | None:
    if not dv:
        return None
    get = dv.get if isinstance(dv, dict) else lambda k: getattr(dv, k, None)
    return tuple(get(k) for k in ("storageType", "pathOrInlineDv", "offset", "sizeInBytes", "cardinality"))


def _view(rows) -> dict:
    """{(path, dv): (size, sorted partition values, base_row_id,
    default_row_commit_version, commit_version)} over file rows."""
    out = {}
    for path, size, pv, dv, brid, drcv, cv in rows:
        key = (path, _dv_tuple(dv))
        assert key not in out, f"file key listed twice: {key}"
        out[key] = (size, tuple(sorted(dict(pv or {}).items())), brid, drcv, cv)
    return out


def assert_scan_matches_oracle(snapshot) -> None:
    """``Scan.files()`` and ``Scan.scan_files_df()`` of a fresh scan agree
    with the oracle fold, key for key, commit_version included."""
    cols = [
        "file_path",
        "size",
        "partition_values",
        "deletion_vector",
        "base_row_id",
        "default_row_commit_version",
        "commit_version",
    ]
    want = _view(tuple(r) for r in oracle_files_df(snapshot).select(*cols).collect())
    files = snapshot.scan().files()
    got_files = _view(
        (f.path, f.size, f.partition_values, f.dv, f.base_row_id, f.default_row_commit_version, f.commit_version)
        for f in files
    )
    assert got_files == want, "Scan.files() diverged from the oracle fold"
    got_frame = _view(tuple(r) for r in snapshot.scan().scan_files_df().select(*cols).collect())
    assert got_frame == want, "Scan.scan_files_df() diverged from the oracle fold"
