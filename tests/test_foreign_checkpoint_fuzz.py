"""Foreign-checkpoint structural fuzz (round-12 ninth wave).

Waves 1-8 fuzz predicates, DML histories, DV codecs, partition values,
foreign COMMIT logs, schema histories, and multi-writer races — but every
CHECKPOINT the engine has ever read was written either by its own writer
or by the golden-table corpus. The checkpoint READ surface is wide
(reference kernel/src/log_segment/mod.rs:51-83 sidecar resolution,
checkpoint_shape.rs hint fast paths, Delta protocol §checkpoints):
classic, multipart with per-part column subsets, V2 parquet and V2 JSON
tops with sidecars or inline file actions, `_last_checkpoint` hints in
four shapes, struct layouts that omit optional fields, shuffled column
orders, stats as JSON or as `stats_parsed` structs, remove tombstones.

This fuzz writes checkpoints BY HAND with pyarrow/NDJSON — a foreign
writer with none of this engine's conventions — and requires the Arrow
replay — through `Scan.files()` and bare `live_files_arrow` — to agree
exactly with a Python model of live files, through a handwritten commit
tail that shadows, re-adds, and DV-swaps checkpointed files. The
distributed Spark fold (tests/replay_oracle.py, Spark's own parquet/JSON
checkpoint readers) is a second oracle for `Scan.files()` and
`scan_files_df()`, commit versions included.

Layout randomization per checkpoint (one seeded rng drives everything):

- flavor: classic | multipart (random action distribution; parts carry
  only the action columns they use — the reference's
  parquet_row_group_skipping fixture shape) | v2-parquet + sidecars |
  v2-parquet inline | v2-json top + parquet sidecars;
- `_last_checkpoint`: absent | minimal | full V2 hint with sidecarFiles
  (the read-skipping fast path) | corrupt JSON (advisory — must be
  ignored);
- add/remove structs: random optional-field subsets, shuffled field and
  column order, random extra all-null action columns, `stats_parsed`
  variant with the JSON document nulled (delta-spark
  writeStatsAsStruct);
- remove tombstones in the checkpoint (readers must not resurrect them),
  re-adds of tombstoned paths in the tail (readers must serve them).
"""

from __future__ import annotations

import json
import os
import random
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.replay_oracle import assert_scan_matches_oracle

SEEDS = [0xC4EC, 0x90D2]

SCHEMA_STRING = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "cat", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)

PV = pa.map_(pa.string(), pa.string())
DV = pa.struct(
    [
        ("storageType", pa.string()),
        ("pathOrInlineDv", pa.string()),
        ("offset", pa.int32()),
        ("sizeInBytes", pa.int32()),
        ("cardinality", pa.int64()),
    ]
)
META = pa.struct(
    [
        ("id", pa.string()),
        ("format", pa.struct([("provider", pa.string()), ("options", PV)])),
        ("schemaString", pa.string()),
        ("partitionColumns", pa.list_(pa.string())),
        ("configuration", PV),
        ("createdTime", pa.int64()),
    ]
)
PROTO = pa.struct(
    [
        ("minReaderVersion", pa.int32()),
        ("minWriterVersion", pa.int32()),
        ("readerFeatures", pa.list_(pa.string())),
        ("writerFeatures", pa.list_(pa.string())),
    ]
)
SIDECAR = pa.struct(
    [("path", pa.string()), ("sizeInBytes", pa.int64()), ("modificationTime", pa.int64())]
)
CKPT_META = pa.struct([("version", pa.int64())])


def _add_type(rng: random.Random, stats_parsed: bool) -> pa.DataType:
    fields = [
        ("path", pa.string()),
        ("partitionValues", PV),
        ("size", pa.int64()),
        ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()),
        ("deletionVector", DV),
    ]
    if stats_parsed:
        fields.append(("stats_parsed", pa.struct([("numRecords", pa.int64())])))
        if rng.random() < 0.5:
            fields.append(("stats", pa.string()))
    elif rng.random() < 0.8:
        fields.append(("stats", pa.string()))
    if rng.random() < 0.3:
        fields.append(("tags", PV))
    if rng.random() < 0.3:
        fields.append(("baseRowId", pa.int64()))
    rng.shuffle(fields)
    return pa.struct(fields)


def _remove_type(rng: random.Random) -> pa.DataType:
    fields = [
        ("path", pa.string()),
        ("deletionTimestamp", pa.int64()),
        ("dataChange", pa.bool_()),
    ]
    if rng.random() < 0.5:
        fields += [("extendedFileMetadata", pa.bool_()), ("partitionValues", PV), ("size", pa.int64())]
    if rng.random() < 0.5:
        fields.append(("deletionVector", DV))
    rng.shuffle(fields)
    return pa.struct(fields)


def _write_actions_parquet(path: str, rows: list[dict], types: dict, rng: random.Random) -> None:
    """One checkpoint part: columns = the action kinds present (plus a
    random all-null extra kind), shuffled order, one non-null struct per
    row."""
    kinds = sorted({k for r in rows for k in r})
    extras = [k for k in ("txn", "domainMetadata") if k not in kinds and rng.random() < 0.3]
    schema_fields = [pa.field(k, types[k]) for k in kinds + extras]
    rng.shuffle(schema_fields)
    schema = pa.schema(schema_fields)
    pylist = [{f.name: r.get(f.name) for f in schema_fields} for r in rows]
    pq.write_table(pa.Table.from_pylist(pylist, schema=schema), path)


def _mk_state(rng: random.Random, partitioned: bool):
    """(live, tombstones): live maps rel path -> facts {size, pv, dv}."""
    live: dict[str, dict] = {}
    tombstones: list[str] = []
    n_live = rng.randrange(4, 12)
    for i in range(n_live + rng.randrange(1, 4)):
        cat = rng.choice(["a", "b", "c"]) if partitioned else None
        name = f"f-{i}-{uuid.uuid4().hex[:6]}.parquet"
        rel = f"cat={cat}/{name}" if partitioned else name
        dv = None
        if rng.random() < 0.3:
            dv = {
                "storageType": "i",
                "pathOrInlineDv": f"dvdata{i}",
                "offset": None,
                "sizeInBytes": 20,
                "cardinality": rng.randrange(1, 9),
            }
        facts = {
            "size": rng.randrange(100, 10**6),
            "pv": {"cat": cat} if partitioned else {},
            "dv": dv,
        }
        if i < n_live:
            live[rel] = facts
        else:
            tombstones.append(rel)
    return live, tombstones


def _add_row(rel: str, facts: dict, rng: random.Random, stats_parsed: bool) -> dict:
    a = {
        "path": rel,
        "partitionValues": list(facts["pv"].items()),
        "size": facts["size"],
        "modificationTime": 1700000000000,
        "dataChange": False,
        "deletionVector": facts["dv"],
    }
    if stats_parsed:
        a["stats_parsed"] = {"numRecords": rng.randrange(1, 100)}
        a["stats"] = None
    elif rng.random() < 0.7:
        a["stats"] = json.dumps({"numRecords": rng.randrange(1, 100)})
    return {"add": a}


def _remove_row(rel: str) -> dict:
    return {"remove": {"path": rel, "deletionTimestamp": 1700000000500, "dataChange": False}}


#: every checkpoint top carries this txn action — exactly-once consumers
#: must find it in ALL flavors (incl. the JSON top; pycommit fuzz pin)
TXN_APP, TXN_VERSION = "foreign-app", 41


def _pm_rows(v2: bool) -> list[dict]:
    feats = ["deletionVectors"] + (["v2Checkpoint"] if v2 else [])
    return [
        {"txn": {"appId": TXN_APP, "version": TXN_VERSION}},
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": feats,
                "writerFeatures": feats,
            }
        },
        {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": []},
                "schemaString": SCHEMA_STRING,
                "partitionColumns": ["cat"],
                "configuration": [],
                "createdTime": 1700000000000,
            }
        },
    ]


def _write_checkpoint(
    log_dir: str,
    version: int,
    flavor: str,
    live: dict,
    tombstones: list[str],
    rng: random.Random,
    partitioned: bool,
) -> dict | None:
    """Write the foreign checkpoint; return hint-sidecar info for the full
    V2 hint (or None)."""
    stats_parsed = rng.random() < 0.3
    types = {
        "add": _add_type(rng, stats_parsed),
        "remove": _remove_type(rng),
        "metaData": META,
        "protocol": PROTO,
        "sidecar": SIDECAR,
        "checkpointMetadata": CKPT_META,
        "txn": pa.struct([("appId", pa.string()), ("version", pa.int64())]),
        "domainMetadata": pa.struct(
            [("domain", pa.string()), ("configuration", pa.string()), ("removed", pa.bool_())]
        ),
    }
    if not partitioned:
        # metaData row with empty partitionColumns
        pass
    pm = _pm_rows(flavor.startswith("v2"))
    if not partitioned:
        next(r for r in pm if "metaData" in r)["metaData"]["partitionColumns"] = []
    file_rows = [_add_row(rel, f, rng, stats_parsed) for rel, f in live.items()] + [
        _remove_row(rel) for rel in tombstones
    ]
    rng.shuffle(file_rows)

    if flavor == "classic":
        _write_actions_parquet(
            f"{log_dir}/{version:020d}.checkpoint.parquet", pm + file_rows, types, rng
        )
        return None
    if flavor == "multipart":
        n_parts = rng.randrange(2, 5)
        parts: list[list[dict]] = [[] for _ in range(n_parts)]
        parts[rng.randrange(n_parts)].extend(pm)
        for r in file_rows:
            parts[rng.randrange(n_parts)].append(r)
        for idx, rows in enumerate(parts, start=1):
            _write_actions_parquet(
                f"{log_dir}/{version:020d}.checkpoint.{idx:010d}.{n_parts:010d}.parquet",
                rows or [{"txn": {"appId": "pad", "version": 1}}],
                types,
                rng,
            )
        return None

    # V2 flavors
    u = uuid.uuid4().hex
    inline = flavor == "v2-inline"
    sidecar_infos: list[dict] = []
    top_rows = pm + [{"checkpointMetadata": {"version": version}}]
    if inline:
        top_rows += file_rows
    else:
        os.makedirs(f"{log_dir}/_sidecars", exist_ok=True)
        n_sc = rng.randrange(1, 4)
        chunks: list[list[dict]] = [[] for _ in range(n_sc)]
        for r in file_rows:
            chunks[rng.randrange(n_sc)].append(r)
        for chunk in chunks:
            sc_name = f"{uuid.uuid4().hex}.parquet"
            sc_path = f"{log_dir}/_sidecars/{sc_name}"
            _write_actions_parquet(
                sc_path, chunk or [_remove_row("phantom-empty.parquet")], types, rng
            )
            spell = sc_path if rng.random() < 0.3 else sc_name  # abs or relative
            sidecar_infos.append(
                {"path": spell, "sizeInBytes": os.path.getsize(sc_path), "modificationTime": 1700000000000}
            )
        top_rows += [{"sidecar": dict(si)} for si in sidecar_infos]

    if flavor == "v2-json":
        top = f"{log_dir}/{version:020d}.checkpoint.{u}.json"
        with open(top, "w") as fh:
            for r in top_rows:
                # JSON flavor: plain protocol-shaped NDJSON (maps as objects)
                r2 = json.loads(json.dumps(r))
                for kind, body in r2.items():
                    for mk in ("partitionValues", "configuration", "options", "tags"):
                        if isinstance(body, dict) and isinstance(body.get(mk), list):
                            body[mk] = dict(body[mk])
                        fmt = body.get("format") if isinstance(body, dict) else None
                        if isinstance(fmt, dict) and isinstance(fmt.get(mk), list):
                            fmt[mk] = dict(fmt[mk])
                fh.write(json.dumps(r2) + "\n")
    else:
        top = f"{log_dir}/{version:020d}.checkpoint.{u}.parquet"
        _write_actions_parquet(top, top_rows, types, rng)
    return {"filename": os.path.basename(top), "sidecars": sidecar_infos}


def _write_hint(log_dir: str, version: int, flavor: str, v2info: dict | None, n_actions: int, rng: random.Random) -> None:
    mode = rng.choice(["absent", "minimal", "full", "corrupt"])
    path = f"{log_dir}/_last_checkpoint"
    if mode == "absent":
        return
    if mode == "corrupt":
        with open(path, "w") as fh:
            fh.write("{not json")
        return
    hint: dict = {"version": version, "size": n_actions}
    if flavor == "multipart":
        import glob

        hint["parts"] = len(glob.glob(f"{log_dir}/{version:020d}.checkpoint.*.parquet"))
    if v2info is not None:
        v2: dict = {"path": v2info["filename"]}
        if mode == "full":
            # sidecarFiles: [] is a definitive inline leaf; non-empty names
            # every file-action source (read-skipping fast path)
            v2["sidecarFiles"] = [
                {"path": s["path"], "sizeInBytes": s["sizeInBytes"]}
                for s in v2info["sidecars"]
            ]
        hint["v2Checkpoint"] = v2
    with open(path, "w") as fh:
        fh.write(json.dumps(hint))


def _write_tail(log_dir: str, start_version: int, n_commits: int, live: dict, tombstones: list[str], rng: random.Random, partitioned: bool) -> None:
    """Handwritten commit JSONs mutating the model in place."""
    next_id = 10_000
    for v in range(start_version, start_version + n_commits):
        acts: list[dict] = []
        for _ in range(rng.randrange(1, 4)):
            roll = rng.random()
            live_paths = list(live)
            if roll < 0.4:  # new file (sometimes at a tombstoned rel path)
                if tombstones and rng.random() < 0.4:
                    rel = tombstones.pop()
                else:
                    cat = rng.choice(["a", "b", "c"]) if partitioned else None
                    rel = (f"cat={cat}/" if partitioned else "") + f"t-{next_id}.parquet"
                    next_id += 1
                cat = rel.split("=", 1)[1].split("/", 1)[0] if partitioned else None
                facts = {"size": rng.randrange(100, 10**6), "pv": {"cat": cat} if partitioned else {}, "dv": None}
                acts.append({"add": {"path": rel, "partitionValues": facts["pv"], "size": facts["size"], "modificationTime": 1700000002000, "dataChange": True}})
                live[rel] = facts
            elif roll < 0.7 and live_paths:  # remove (shadows checkpoint adds)
                rel = rng.choice(live_paths)
                # replay keys file actions by (path, DV-uid) — reference
                # FileActionKey, log_replay.rs — so a remove of a
                # DV-carrying file must carry its deletionVector, exactly
                # as real writers emit it
                r = {"path": rel, "deletionTimestamp": 1700000003000, "dataChange": True}
                if live[rel]["dv"]:
                    r["deletionVector"] = live[rel]["dv"]
                acts.append({"remove": r})
                del live[rel]
            elif live_paths:  # DV swap on a checkpointed or tail file
                rel = rng.choice(live_paths)
                facts = live[rel]
                old_dv = facts["dv"]
                r = {"path": rel, "deletionTimestamp": 1700000003500, "dataChange": True}
                if old_dv:
                    r["deletionVector"] = old_dv
                acts.append({"remove": r})
                new_dv = {"storageType": "i", "pathOrInlineDv": f"swap{v}{rng.randrange(99)}", "offset": None, "sizeInBytes": 20, "cardinality": 3}
                acts.append({"add": {"path": rel, "partitionValues": facts["pv"], "size": facts["size"], "modificationTime": 1700000003600, "dataChange": True, "deletionVector": new_dv}})
                facts["dv"] = new_dv
        if not acts:
            acts = [{"commitInfo": {"operation": "NOOP"}}]
        with open(f"{log_dir}/{v:020d}.json", "w") as fh:
            for a in acts:
                fh.write(json.dumps(a) + "\n")


def _norm_dv(dv) -> tuple | None:
    if not dv:
        return None
    get = dv.get if isinstance(dv, dict) else lambda k: getattr(dv, k, None)
    if get("storageType") is None:
        return None
    return (get("storageType"), get("pathOrInlineDv"), get("cardinality"))


def _norm_pv(pv, partitioned: bool) -> tuple:
    if not partitioned:
        return ()
    d = dict(pv or {})
    return (("cat", d.get("cat")),)


def _model_view(live: dict, partitioned: bool) -> dict:
    return {
        rel: (f["size"], _norm_dv(f["dv"]), _norm_pv(f["pv"], partitioned))
        for rel, f in live.items()
    }


def _spark_view(spark, table_path: str, partitioned: bool) -> dict:
    from delta_kernel_rs_spark.sources.snapshot import Snapshot

    snap = Snapshot.create(spark, table_path)
    out = {}
    for f in snap.scan().files():
        rel = f.path[len(table_path.rstrip("/")) + 1 :]
        out[rel] = (f.size, _norm_dv(f.dv), _norm_pv(f.partition_values, partitioned))
    return out


def _pyreplay_view(table_path: str, partitioned: bool) -> dict:
    from delta_kernel_rs_spark.sources.log_segment import build_log_segment
    from delta_kernel_rs_spark.sources.pyreplay import live_files_arrow
    from delta_kernel_rs_spark.sources.storage import LocalStorage

    storage = LocalStorage()
    seg = build_log_segment(storage, table_path)
    out = {}
    for row in live_files_arrow(storage, seg).to_pylist():
        pv = row.get("partition_values")
        out[row["path"]] = (
            row["size"],
            _norm_dv(row.get("dv")),
            _norm_pv(dict(pv) if pv else {}, partitioned),
        )
    return out


FLAVORS = ["classic", "multipart", "v2-parquet", "v2-inline", "v2-json"]


@pytest.mark.parametrize("seed", SEEDS)
def test_foreign_checkpoint_structural_fuzz(spark, tmp_path, seed):
    rng = random.Random(seed)
    for case, flavor in enumerate(FLAVORS):
        partitioned = rng.random() < 0.5
        table = str(tmp_path / f"t{seed}_{case}")
        log_dir = f"{table}/_delta_log"
        os.makedirs(log_dir)
        live, tombstones = _mk_state(rng, partitioned)
        ckpt_version = rng.randrange(3, 9)
        v2info = _write_checkpoint(
            log_dir, ckpt_version, flavor, live, tombstones, rng, partitioned
        )
        _write_hint(
            log_dir, ckpt_version, flavor, v2info, len(live) + len(tombstones) + 2, rng
        )
        n_tail = rng.randrange(0, 4)
        _write_tail(log_dir, ckpt_version + 1, n_tail, live, tombstones, rng, partitioned)

        want = _model_view(live, partitioned)
        got_spark = _spark_view(spark, table, partitioned)
        assert got_spark == want, f"[{flavor} seed={seed}] scan replay diverged"
        got_arrow = _pyreplay_view(table, partitioned)
        assert got_arrow == want, f"[{flavor} seed={seed}] Arrow replay diverged"
        from delta_kernel_rs_spark.sources.snapshot import Snapshot

        assert_scan_matches_oracle(Snapshot.create(spark, table))

        # the top's txn action must be visible to exactly-once consumers
        # in every flavor (json tops included — round-12 fix in pycommit)
        from delta_kernel_rs_spark.sources.log_segment import build_log_segment
        from delta_kernel_rs_spark.sources.pycommit import latest_txn_version
        from delta_kernel_rs_spark.sources.storage import LocalStorage

        storage = LocalStorage()
        seg = build_log_segment(storage, table)
        assert latest_txn_version(storage, seg, TXN_APP) == TXN_VERSION, (
            f"[{flavor} seed={seed}] checkpoint txn action lost"
        )


@pytest.mark.parametrize("hint_mode", ["absent", "full"])
def test_remove_only_sidecar_sorting_first_keeps_adds(spark, tmp_path, hint_mode):
    """Pin for an order-dependent full-suite failure: sidecar parquet
    schemas are per-file (a remove-only sidecar has NO `add` column), and
    reading the sidecar set without mergeSchema lets Spark infer the
    schema from whichever uuid-named file it samples — when a remove-only
    sidecar won, the adds vanished and the scan raised "empty log
    segment". Deterministic repro: name the remove-only sidecar so it
    sorts FIRST; cover both the `_last_checkpoint` sidecarFiles fast path
    ("full") and the top-probe path ("absent")."""
    rng = random.Random(7)
    table = str(tmp_path / f"t_{hint_mode}")
    log_dir = f"{table}/_delta_log"
    os.makedirs(f"{log_dir}/_sidecars")

    live = {
        f"f-{i}.parquet": {"size": 100 + i, "pv": {}, "dv": None} for i in range(4)
    }
    types = {
        "add": _add_type(rng, False),
        "remove": _remove_type(rng),
        "metaData": META,
        "protocol": PROTO,
        "sidecar": SIDECAR,
        "checkpointMetadata": CKPT_META,
        "txn": pa.struct([("appId", pa.string()), ("version", pa.int64())]),
        "domainMetadata": pa.struct(
            [("domain", pa.string()), ("configuration", pa.string()),
             ("removed", pa.bool_())]
        ),
    }
    # remove-only sidecar named to sort FIRST; adds sort last
    sc_removes = f"{log_dir}/_sidecars/00000000000000000000000000000000.parquet"
    sc_adds = f"{log_dir}/_sidecars/ffffffffffffffffffffffffffffffff.parquet"
    _write_actions_parquet(sc_removes, [_remove_row("gone-0.parquet")], types, rng)
    _write_actions_parquet(
        sc_adds,
        [_add_row(rel, facts, rng, False) for rel, facts in live.items()],
        types,
        rng,
    )
    sidecar_infos = [
        {"path": os.path.basename(p), "sizeInBytes": os.path.getsize(p),
         "modificationTime": 1700000000000}
        for p in (sc_removes, sc_adds)
    ]
    pm = _pm_rows(True)
    next(r for r in pm if "metaData" in r)["metaData"]["partitionColumns"] = []
    top_rows = (
        pm
        + [{"checkpointMetadata": {"version": 3}}]
        + [{"sidecar": dict(si)} for si in sidecar_infos]
    )
    top = f"{log_dir}/{3:020d}.checkpoint.{uuid.uuid4().hex}.parquet"
    _write_actions_parquet(top, top_rows, types, rng)
    v2info = {"filename": os.path.basename(top), "sidecars": sidecar_infos}
    if hint_mode == "full":
        hint = {
            "version": 3,
            "size": len(live) + 3,
            "v2Checkpoint": {
                "path": v2info["filename"],
                "sidecarFiles": [
                    {"path": s["path"], "sizeInBytes": s["sizeInBytes"]}
                    for s in sidecar_infos
                ],
            },
        }
        with open(f"{log_dir}/_last_checkpoint", "w") as fh:
            fh.write(json.dumps(hint))

    want = _model_view(live, False)
    assert _spark_view(spark, table, False) == want, f"[hint={hint_mode}]"
    assert _pyreplay_view(table, False) == want, f"[hint={hint_mode}]"
    from delta_kernel_rs_spark.sources.snapshot import Snapshot

    assert_scan_matches_oracle(Snapshot.create(spark, table))
