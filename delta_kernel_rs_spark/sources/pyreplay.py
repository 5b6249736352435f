"""Single-node log replay: the Delta log as an Arrow live-file table.

This is the engine's one log -> live-files replay. ``Scan``
(sources/scan.py) caches its table per snapshot, reads file lists
straight from it and lifts it into a DataFrame once for the consumers
that need one distributed (DML, CDF, the constants/DV joins of
``to_df``); the batch facade and the streaming sources run it in plain
Python workers with no SparkSession. It replays the way the reference
kernel does — single-node, newest action per (path, dv-uid) key wins,
memory O(seen file keys) (kernel/src/log_replay/mod.rs:28-66):

* the commit TAIL (everything after the checkpoint, bounded by the
  table's checkpoint cadence) is parsed as JSON into Python dicts;
* the CHECKPOINT — where the O(files) bulk lives — is read with pyarrow
  and stays columnar end-to-end: dedup against tail keys is an Arrow
  ``is_in`` anti-filter. No per-file Python objects are ever
  materialized for checkpoint files;
* an incremental refresh applies a newer commit range to an older live
  table with the same anti-filter (:func:`merge_tail`), the reference's
  ``scan_metadata_from``.
"""

from __future__ import annotations

import datetime
import decimal
import json
import urllib.parse

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: Columnar schema of the live-file list (the planning-time subset of the
#: reference's scan-row schema, kernel/src/scan/mod.rs:1410-1440).
DV_TYPE = pa.struct(
    [
        ("storageType", pa.string()),
        ("pathOrInlineDv", pa.string()),
        ("offset", pa.int32()),
        ("sizeInBytes", pa.int32()),
        ("cardinality", pa.int64()),
    ]
)
FILES_SCHEMA = pa.schema(
    [
        ("path", pa.string()),  # as stored in the log (url-encoded, relative)
        ("size", pa.int64()),
        ("partition_values", pa.map_(pa.string(), pa.string())),
        ("dv", DV_TYPE),
        ("base_row_id", pa.int64()),
        ("default_row_commit_version", pa.int64()),
        ("modification_time", pa.int64()),
        # version of the log file that carried the add: a compacted file's
        # end version, the checkpoint version for checkpoint rows
        ("commit_version", pa.int64()),
        # raw add.stats JSON — drives planning-time file skipping in the
        # facade (plans/py_skipping.py); dropped before tasks ship to
        # executors so checkpoint-sized stats bulk never rides the IPC
        ("stats", pa.string()),
    ]
)


def pq_read(path: str, columns: list[str] | None = None, filters=None) -> pa.Table:
    """pyarrow parquet read that handles both plain paths and URIs.

    ``filters`` (a pyarrow dataset Expression) engages pyarrow's row-group
    statistics pruning before the exact row filter is applied."""
    if "://" in path and not path.startswith("file://"):
        import pyarrow.fs as pafs

        fs, rel = pafs.FileSystem.from_uri(path)
        return pq.read_table(rel, filesystem=fs, columns=columns, filters=filters)
    return pq.read_table(path.removeprefix("file://"), columns=columns, filters=filters)


def _iter_actions(storage, commit_path: str, strict: bool = False):
    """Actions of one NDJSON log file; ``strict`` (the replay) fails loudly
    on a torn line instead of skipping it."""
    for line in storage.read_text(commit_path).splitlines():
        line = line.strip()
        if not line:
            continue
        try:
            yield json.loads(line)
        except ValueError:
            if strict:
                raise ValueError(f"malformed action line in {commit_path}") from None
            continue


def snapshot_metadata(storage, seg) -> tuple[dict, dict]:
    """Newest (metaData, protocol) for the segment — commit tail first
    (newest wins), checkpoint fallback for the rest."""
    meta: dict | None = None
    proto: dict | None = None
    for c in reversed(seg.commit_files):
        for action in _iter_actions(storage, c.path):
            if meta is None and "metaData" in action:
                meta = action["metaData"]
            if proto is None and "protocol" in action:
                proto = action["protocol"]
        if meta is not None and proto is not None:
            return meta, proto
    for part in seg.checkpoint_parts:
        if part.endswith(".json"):
            # V2 JSON-flavored checkpoint top (protocol spec; reference
            # log_path.rs): NDJSON action lines, not parquet
            for action in _iter_actions(storage, part):
                if meta is None and "metaData" in action:
                    meta = action["metaData"]
                if proto is None and "protocol" in action:
                    proto = action["protocol"]
            continue
        tbl = pq_read(part)
        if meta is None and "metaData" in tbl.column_names:
            col = tbl.column("metaData")
            hits = tbl.filter(pc.is_valid(pc.struct_field(col, "id")))
            if hits.num_rows:
                meta = hits.column("metaData")[0].as_py()
                # pyarrow renders parquet MAP columns as [(k, v), ...];
                # commit-JSON metaData carries dicts — normalize so every
                # consumer sees ONE shape regardless of where the newest
                # metaData lived
                if isinstance(meta.get("configuration"), list):
                    meta["configuration"] = dict(meta["configuration"])
        if proto is None and "protocol" in tbl.column_names:
            col = tbl.column("protocol")
            hits = tbl.filter(pc.is_valid(pc.struct_field(col, "minReaderVersion")))
            if hits.num_rows:
                proto = hits.column("protocol")[0].as_py()
    if meta is None:
        raise ValueError(f"no metaData action found for {seg.table_path}")
    return meta, proto or {}


def protocol_of(proto: dict):
    """Typed Protocol from a raw protocol action dict (as returned by
    snapshot_metadata) — call ensure_read_supported / ensure_write_supported
    on the result before trusting the table."""
    from delta_kernel_rs_spark.sources.snapshot import Protocol

    return Protocol(
        min_reader_version=int(proto.get("minReaderVersion", 1)),
        min_writer_version=int(proto.get("minWriterVersion", 2)),
        reader_features=proto.get("readerFeatures") or [],
        writer_features=proto.get("writerFeatures") or [],
    )


def _unq(p: str) -> str:
    """Percent-DECODED log path — the file-identity key (twin of
    scan.canonical_log_path; ``urllib.parse.unquote`` leaves '+' alone, so
    no form-decoding protection is needed here)."""
    return urllib.parse.unquote(p) if "%" in p else p


def _dv_uid_py(dv: dict | None) -> str:
    if not dv or not dv.get("storageType"):
        return ""
    off = dv.get("offset")
    return "\x00".join(
        [dv["storageType"], dv.get("pathOrInlineDv") or "", "" if off is None else str(off)]
    )


def replay_commit_tail(storage, commits) -> dict[tuple[str, str], tuple]:
    """Newest-wins file actions from ``commits`` (ascending commit-list
    entries, e.g. ``seg.commit_files``): key -> ``(version, action,
    is_add)``. Python-dict sized by the range only (checkpoint cadence,
    or a refresh's new commits), never the full table."""
    actions: dict[tuple[str, str], tuple] = {}
    for c in commits:  # ascending — later commits overwrite
        # a compacted file's actions are reconciled through its end version
        v = c.end_version if getattr(c, "end_version", None) is not None else c.version
        for action in _iter_actions(storage, c.path, strict=True):
            if "add" in action:
                a = action["add"]
                actions[(_unq(a["path"]), _dv_uid_py(a.get("deletionVector")))] = (v, a, True)
            elif "remove" in action:
                r = action["remove"]
                actions[(_unq(r["path"]), _dv_uid_py(r.get("deletionVector")))] = (v, r, False)
    return actions


#: add-action key behind each FILES_SCHEMA column read straight from JSON
_ADD_KEYS = {
    "path": "path",
    "size": "size",
    "dv": "deletionVector",
    "base_row_id": "baseRowId",
    "default_row_commit_version": "defaultRowCommitVersion",
    "modification_time": "modificationTime",
    "stats": "stats",
}


def _adds_from_pylist(adds: list[dict], versions: list | None = None) -> pa.Table:
    """Add-action dicts as a FILES_SCHEMA table, built column by column."""
    cols = {name: [a.get(key) for a in adds] for name, key in _ADD_KEYS.items()}
    cols["partition_values"] = [list((a.get("partitionValues") or {}).items()) for a in adds]
    cols["commit_version"] = versions or [None] * len(adds)
    return pa.Table.from_arrays(
        [pa.array(cols[f.name], f.type) for f in FILES_SCHEMA], schema=FILES_SCHEMA
    )


def tail_adds_arrow(tail: dict) -> pa.Table:
    """The live adds of a :func:`replay_commit_tail` result."""
    live = [(v, a) for v, a, is_add in tail.values() if is_add]
    return _adds_from_pylist([a for _, a in live], [v for v, _ in live])


def _as_array(x):
    return x.combine_chunks() if isinstance(x, pa.ChunkedArray) else x


def _struct_subfield(col, name: str, typ: pa.DataType, n: int) -> pa.Array:
    """struct field by name, or typed nulls when the writer omitted it."""
    field_names = {f.name for f in col.type} if pa.types.is_struct(col.type) else set()
    if name not in field_names:
        return pa.nulls(n, type=typ)
    return _as_array(pc.struct_field(col, name).cast(typ))


def _checkpoint_adds_arrow(seg, storage=None) -> pa.Table:
    """Checkpoint add actions normalized to FILES_SCHEMA (sidecar-aware,
    V2 checkpoints: kernel/src/log_segment/mod.rs:51-83), all-Arrow.

    A V2 checkpoint top comes in parquet AND json flavors (protocol spec;
    reference log_path.rs) — the json top is NDJSON action lines whose
    sidecar pointers still name parquet files. Found by the round-12
    foreign-checkpoint fuzz: this fold used to feed the json top to the
    parquet reader and crash."""
    json_parts = [p for p in seg.checkpoint_parts if p.endswith(".json")]
    if json_parts and storage is not None:
        actions = [a for p in json_parts for a in _iter_actions(storage, p)]
        sidecars = [
            a["sidecar"]["path"]
            for a in actions
            if a.get("sidecar", {}).get("path")
        ]
        if not sidecars:
            adds = [a["add"] for a in actions if a.get("add", {}).get("path")]
            return _adds_from_pylist(adds, [seg.checkpoint_version] * len(adds))
        resolved = [
            p if "://" in p or p.startswith("/") else f"{seg.log_dir}/_sidecars/{p}"
            for p in sidecars
        ]
        top = pa.concat_tables(
            [pq_read(p) for p in resolved], promote_options="permissive"
        )
        return _conform_checkpoint_table(top, seg.checkpoint_version)
    top = pa.concat_tables(
        [pq_read(p) for p in seg.checkpoint_parts], promote_options="permissive"
    )
    if "sidecar" in top.column_names:
        sc = pc.struct_field(top.column("sidecar"), "path")
        sidecars = [p for p in sc.to_pylist() if p]
        if sidecars:
            resolved = [
                p if "://" in p or p.startswith("/") else f"{seg.log_dir}/_sidecars/{p}"
                for p in sidecars
            ]
            top = pa.concat_tables(
                [pq_read(p) for p in resolved], promote_options="permissive"
            )
    return _conform_checkpoint_table(top, seg.checkpoint_version)


def _stats_json(v) -> str:
    """Spark ``to_json`` rendering of one ``stats_parsed`` value: null
    fields dropped, timestamps at millisecond precision, decimals as exact
    numbers (a rounded min or max bound could skip a matching file)."""
    if isinstance(v, dict):
        items = (f"{json.dumps(k)}:{_stats_json(x)}" for k, x in v.items() if x is not None)
        return "{" + ",".join(items) + "}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, decimal.Decimal)):
        return str(v)
    if isinstance(v, datetime.datetime):
        zone = ""
        if v.tzinfo is not None:
            v, zone = v.astimezone(datetime.timezone.utc), "Z"
        return f'"{v.strftime("%Y-%m-%dT%H:%M:%S")}.{v.microsecond // 1000:03d}{zone}"'
    if isinstance(v, datetime.date):
        return f'"{v.isoformat()}"'
    return json.dumps(v)  # str, float (NaN/Infinity as Spark's reader accepts)


def _stats_column(add: pa.Array, n: int) -> pa.Array:
    """``add.stats``; where a writeStatsAsStruct checkpoint nulled the JSON
    document (writeStatsAsJson=false) it is re-derived from
    ``stats_parsed``, so file skipping keeps working."""
    stats = _struct_subfield(add, "stats", pa.string(), n)
    if "stats_parsed" not in {f.name for f in add.type}:
        return stats
    parsed = pc.struct_field(add, "stats_parsed").to_pylist()
    return pc.coalesce(stats, pa.array([None if p is None else _stats_json(p) for p in parsed], pa.string()))


def _conform_checkpoint_table(top: pa.Table, version: int | None) -> pa.Table:
    """Normalize resolved checkpoint rows (post-sidecar) to FILES_SCHEMA;
    every row's ``commit_version`` is the checkpoint's ``version``."""
    if "add" not in top.column_names:
        return FILES_SCHEMA.empty_table()
    add = top.column("add").combine_chunks()
    live = pa.table({"add": add}).filter(pc.is_valid(pc.struct_field(add, "path")))
    add = live.column("add").combine_chunks()
    n = len(add)
    dv_names = [f.name for f in DV_TYPE]
    if pa.types.is_struct(add.type) and "deletionVector" in {f.name for f in add.type}:
        dv_col = pc.struct_field(add, "deletionVector")
        dv = pa.StructArray.from_arrays(
            [_struct_subfield(dv_col, f.name, f.type, n) for f in DV_TYPE],
            dv_names,
            mask=_as_array(pc.is_null(pc.struct_field(dv_col, "storageType"))),
        )
    else:
        dv = pa.nulls(n, type=DV_TYPE)
    cols = [
        _as_array(pc.struct_field(add, "path").cast(pa.string())),
        _struct_subfield(add, "size", pa.int64(), n),
        _struct_subfield(add, "partitionValues", pa.map_(pa.string(), pa.string()), n),
        dv,
        _struct_subfield(add, "baseRowId", pa.int64(), n),
        _struct_subfield(add, "defaultRowCommitVersion", pa.int64(), n),
        _struct_subfield(add, "modificationTime", pa.int64(), n),
        pa.array([version] * n, pa.int64()),
        _stats_column(add, n),
    ]
    return pa.Table.from_arrays(cols, schema=FILES_SCHEMA)


def _arrow_keys(tbl: pa.Table) -> pa.Array:
    """(path \\x00 dv-uid) join key per file row, computed in Arrow."""
    dv = tbl.column("dv").combine_chunks()
    st = pc.struct_field(dv, "storageType")
    po = pc.struct_field(dv, "pathOrInlineDv")
    off = pc.struct_field(dv, "offset").cast(pa.string())
    uid = pc.if_else(
        pc.is_valid(st),
        pc.binary_join_element_wise(
            st.cast(pa.string()),
            pc.coalesce(po.cast(pa.string()), pa.scalar("", pa.string())),
            pc.coalesce(off, pa.scalar("", pa.string())),
            "\x00",
        ),
        pa.scalar("", pa.string()),
    )
    paths = tbl.column("path").combine_chunks().cast(pa.string())
    if pc.any(pc.match_substring(paths, "%")).as_py():
        # decode to the canonical file identity (see _unq) — a remove in
        # the tail must shadow a checkpoint add spelled differently
        paths = pa.array(
            [p if p is None else _unq(p) for p in paths.to_pylist()],
            type=pa.string(),
        )
    return pc.binary_join_element_wise(paths, uid, "\x00")


def merge_tail(older: pa.Table, tail: dict) -> pa.Table:
    """``older`` (a checkpoint's adds, or a base snapshot's live table)
    with a newer commit range's :func:`replay_commit_tail` applied: an
    older row survives unless ANY range action touched its key, and the
    range's live adds join it."""
    live_tail = tail_adds_arrow(tail)
    if older.num_rows and tail:
        tail_keys = pa.array(
            ["\x00".join([p, uid]) for (p, uid) in tail], type=pa.string()
        )
        mask = pc.invert(pc.is_in(_arrow_keys(older), value_set=tail_keys))
        older = older.filter(mask)
    return pa.concat_tables([live_tail, older]) if live_tail.num_rows else older


def live_files_arrow(storage, seg) -> pa.Table:
    """The snapshot's live files as one Arrow table (FILES_SCHEMA): newest
    tail action wins per (path, dv-uid) key; checkpoint files survive
    unless ANY tail action touched their key."""
    tail = replay_commit_tail(storage, seg.commit_files)
    if not seg.checkpoint_parts:
        return tail_adds_arrow(tail)
    return merge_tail(_checkpoint_adds_arrow(seg, storage), tail)


def bin_pack_by_size(tbl: pa.Table, target_bytes: int) -> list[pa.Table]:
    """Greedy contiguous bin-packing of file rows into read tasks by
    cumulative file size (the FilePartition strategy Spark's own file
    sources use). Returns non-empty slices."""
    if tbl.num_rows == 0:
        return []
    sizes = tbl.column("size").to_pylist()
    slices: list[pa.Table] = []
    start, acc = 0, 0
    for i, s in enumerate(sizes):
        s = s or 0
        if acc and acc + s > target_bytes:
            slices.append(tbl.slice(start, i - start))
            start, acc = i, 0
        acc += s
    slices.append(tbl.slice(start))
    return slices


def ipc_serialize(tbl: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    return sink.getvalue().to_pybytes()


def ipc_deserialize(data: bytes) -> pa.Table:
    return pa.ipc.open_stream(pa.BufferReader(data)).read_all()
