"""Seeded synthetic Delta logs for the log-replay workload.

A generated table has a real ``_delta_log`` (JSON commits, optionally a
V1 checkpoint and its ``_last_checkpoint`` hint) but
no data files: every ``add`` names a fake parquet path that replay, listing
and file skipping never open. That isolates the metadata cost every Delta
read pays from the parquet read that follows it.

The generator keeps its own newest-wins state while it writes, so it knows
the exact live-file set at every version and the files each benchmark
predicate must keep. Nothing here imports the engine.

Log shape per table (all from one ``random.Random(seed)``):

* a partition column ``p`` with ``N_PARTITIONS`` values, data columns
  ``k`` (bigint, disjoint per-file ranges), ``v`` (double), ``s`` (string);
* commit 0 carries protocol + metaData (deletion vectors enabled);
* every commit adds ``adds_per_commit`` files; every later commit also
  removes ``REMOVE_RATIO`` and attaches deletion vectors to ``DV_RATIO``
  times that many live files (a remove of the old key plus an add of the same
  path with a DV), as a DV-writing DELETE does.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

N_PARTITIONS = 10
ROWS_PER_FILE = 1000
#: each file i covers k in [i * K_SPAN, (i + 1) * K_SPAN)
K_SPAN = 100
REMOVE_RATIO = 0.10
DV_RATIO = 0.02
#: parquet files per table written by write_data_table
DATA_FILES = 4

SCHEMA_STRING = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "p", "type": "string", "nullable": True, "metadata": {}},
            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "double", "nullable": True, "metadata": {}},
            {"name": "s", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)

_DV_PROTOCOL = {
    "minReaderVersion": 3,
    "minWriterVersion": 7,
    "readerFeatures": ["deletionVectors"],
    "writerFeatures": ["deletionVectors"],
}

_MAP = pa.map_(pa.string(), pa.string())
_DV_TYPE = pa.struct(
    [
        ("storageType", pa.string()),
        ("pathOrInlineDv", pa.string()),
        ("offset", pa.int32()),
        ("sizeInBytes", pa.int32()),
        ("cardinality", pa.int64()),
    ]
)
_ADD_TYPE = pa.struct(
    [
        ("path", pa.string()),
        ("partitionValues", _MAP),
        ("size", pa.int64()),
        ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()),
        ("stats", pa.string()),
        ("deletionVector", _DV_TYPE),
    ]
)
_PROTOCOL_TYPE = pa.struct(
    [
        ("minReaderVersion", pa.int32()),
        ("minWriterVersion", pa.int32()),
        ("readerFeatures", pa.list_(pa.string())),
        ("writerFeatures", pa.list_(pa.string())),
    ]
)
_METADATA_TYPE = pa.struct(
    [
        ("id", pa.string()),
        ("name", pa.string()),
        ("description", pa.string()),
        ("format", pa.struct([("provider", pa.string()), ("options", _MAP)])),
        ("schemaString", pa.string()),
        ("partitionColumns", pa.list_(pa.string())),
        ("createdTime", pa.int64()),
        ("configuration", _MAP),
    ]
)

_Z85 = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"


def dv_unique_id(dv: dict | None) -> str:
    """The DV half of a file's replay key (Delta protocol: storageType +
    pathOrInlineDv + offset); empty when the add carries no DV."""
    if not dv:
        return ""
    off = dv.get("offset")
    return f"{dv['storageType']}{dv['pathOrInlineDv']}" + ("" if off is None else f"@{off}")


@dataclass
class PredicateCase:
    """A benchmark predicate and the fake paths whose rows can match it."""

    name: str
    sql: str
    matching: frozenset


@dataclass
class SynthLog:
    """Generator state for one table plus the expectations it recorded."""

    path: str
    adds_per_commit: int
    rng: random.Random
    version: int = -1
    next_file: int = 0
    #: (path, dv-unique-id) -> add action dict, newest wins
    live: dict = field(default_factory=dict)
    #: live-file count after each version
    live_counts: list = field(default_factory=list)
    checkpoint_version: int | None = None
    bytes_written: int = 0

    @property
    def log_dir(self) -> str:
        return os.path.join(self.path, "_delta_log")

    # -- action builders ---------------------------------------------------
    def _new_add(self, ts: int) -> dict:
        i = self.next_file
        self.next_file += 1
        pv = f"p{i % N_PARTITIONS}"
        lo = i * K_SPAN
        r = self.rng
        # hand-formatted: json.dumps per file dominated generation time
        stats = (
            f'{{"numRecords":{ROWS_PER_FILE},'
            f'"minValues":{{"k":{lo},"v":{r.randrange(50_000) / 1000},"s":"a{i:07d}"}},'
            f'"maxValues":{{"k":{lo + K_SPAN - 1},"v":{r.randrange(50_000, 100_000) / 1000},'
            f'"s":"z{i:07d}"}},"nullCount":{{"k":0,"v":{r.randrange(3)},"s":0}}}}'
        )
        return {
            "path": f"p={pv}/part-{i:07d}-{r.getrandbits(64):016x}.c000.snappy.parquet",
            "partitionValues": {"p": pv},
            "size": r.randrange(200_000, 2_000_000),
            "modificationTime": ts,
            "dataChange": True,
            "stats": stats,
        }

    def _fake_dv(self, cardinality: int) -> dict:
        uuid_z85 = "".join(self.rng.choice(_Z85) for _ in range(20))
        return {
            "storageType": "u",
            "pathOrInlineDv": uuid_z85,
            "offset": 1,
            "sizeInBytes": 40 + cardinality,
            "cardinality": cardinality,
        }

    @staticmethod
    def _remove_of(add: dict, ts: int) -> dict:
        rm = {
            "path": add["path"],
            "deletionTimestamp": ts,
            "dataChange": True,
            "extendedFileMetadata": True,
            "partitionValues": add["partitionValues"],
            "size": add["size"],
        }
        if add.get("deletionVector"):
            rm["deletionVector"] = add["deletionVector"]
        return rm

    # -- commits -----------------------------------------------------------
    def commit(self, first: bool = False) -> int:
        """Write the next commit file; returns its version."""
        v = self.version + 1
        ts = 1_700_000_000_000 + v * 60_000
        lines = [
            {
                "commitInfo": {
                    "timestamp": ts,
                    "operation": "WRITE",
                    "operationParameters": {"mode": "Append"},
                    "engineInfo": "perfbench-synthlog",
                }
            }
        ]
        if first:
            lines.append({"protocol": _DV_PROTOCOL})
            lines.append(
                {
                    "metaData": {
                        "id": f"{self.rng.getrandbits(128):032x}",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": SCHEMA_STRING,
                        "partitionColumns": ["p"],
                        "configuration": {"delta.enableDeletionVectors": "true"},
                        "createdTime": ts,
                    }
                }
            )
        else:
            n_rm = round(self.adds_per_commit * REMOVE_RATIO)
            n_dv = round(self.adds_per_commit * DV_RATIO)
            picked = self.rng.sample(list(self.live), min(len(self.live), n_rm + n_dv))
            for key in picked[:n_rm]:
                lines.append({"remove": self._remove_of(self.live.pop(key), ts)})
            for key in picked[n_rm:]:
                add = self.live.pop(key)
                lines.append({"remove": self._remove_of(add, ts)})
                card = self.rng.randrange(1, ROWS_PER_FILE // 10)
                dv_add = dict(add, modificationTime=ts, deletionVector=self._fake_dv(card))
                dv_add["stats"] = add["stats"][:-1] + ',"tightBounds":false}'
                lines.append({"add": dv_add})
                self.live[(dv_add["path"], dv_unique_id(dv_add["deletionVector"]))] = dv_add
        text = [json.dumps(a, separators=(",", ":")) for a in lines]
        for _ in range(self.adds_per_commit):
            add = self._new_add(ts)
            self.live[(add["path"], "")] = add
            text.append(
                f'{{"add":{{"path":"{add["path"]}","partitionValues":{{"p":"{add["partitionValues"]["p"]}"}},'
                f'"size":{add["size"]},"modificationTime":{ts},"dataChange":true,'
                f'"stats":{json.dumps(add["stats"])}}}}}'
            )
        data = ("\n".join(text) + "\n").encode()
        with open(os.path.join(self.log_dir, f"{v:020d}.json"), "xb") as fh:
            fh.write(data)
        self.bytes_written += len(data)
        self.version = v
        self.live_counts.append(len(self.live))
        return v

    # -- checkpoints -------------------------------------------------------
    def _checkpoint_rows(self) -> tuple[dict, dict, list]:
        with open(os.path.join(self.log_dir, f"{0:020d}.json"), encoding="utf-8") as fh:
            first = [json.loads(line) for line in fh]
        protocol = next(a["protocol"] for a in first if "protocol" in a)
        metadata = dict(next(a["metaData"] for a in first if "metaData" in a))
        metadata["format"] = {"provider": "parquet", "options": []}
        metadata["configuration"] = list(metadata["configuration"].items())
        adds = [
            dict(a, partitionValues=list(a["partitionValues"].items()))
            for a in self.live.values()
        ]
        return protocol, metadata, adds

    def write_checkpoint(self) -> None:
        """Write a V1 checkpoint (one parquet file) of the current version."""
        protocol, metadata, adds = self._checkpoint_rows()
        rows = [{"protocol": protocol}, {"metaData": metadata}] + [{"add": a} for a in adds]
        table = pa.Table.from_pylist(
            rows,
            schema=pa.schema([("protocol", _PROTOCOL_TYPE), ("metaData", _METADATA_TYPE), ("add", _ADD_TYPE)]),
        )
        pq.write_table(table, os.path.join(self.log_dir, f"{self.version:020d}.checkpoint.parquet"))
        with open(os.path.join(self.log_dir, "_last_checkpoint"), "w", encoding="utf-8") as fh:
            json.dump({"version": self.version, "size": table.num_rows}, fh)
        self.checkpoint_version = self.version

    def fork(self, path: str, seed: int) -> "SynthLog":
        """Copy this table's log to ``path`` and return a generator that
        continues it from the same state with its own random stream."""
        shutil.copytree(self.log_dir, os.path.join(path, "_delta_log"))
        return SynthLog(
            path=path,
            adds_per_commit=self.adds_per_commit,
            rng=random.Random(seed),
            version=self.version,
            next_file=self.next_file,
            live=dict(self.live),
            live_counts=list(self.live_counts),
            checkpoint_version=self.checkpoint_version,
        )

    # -- expectations ------------------------------------------------------
    def predicate_cases(self) -> list[PredicateCase]:
        """~1% (stats range on ``k``) and ~10% (one partition) predicates,
        each with the exact set of live paths that can hold matching rows."""
        n = self.next_file
        width = max(1, n // 100)
        start = self.rng.randrange(0, max(1, n - width))
        lo, hi = start * K_SPAN, (start + width) * K_SPAN
        part = f"p{self.rng.randrange(N_PARTITIONS)}"
        cases = []
        for name, sql, keep in (
            ("range_1pct", f"k >= {lo} AND k < {hi}", lambda a: lo <= _k_lo(a) < hi),
            ("partition_10pct", f"p = '{part}'", lambda a: a["partitionValues"]["p"] == part),
        ):
            matching = frozenset(a["path"] for a in self.live.values() if keep(a))
            cases.append(PredicateCase(name, sql, matching))
        return cases


def _k_lo(add: dict) -> int:
    return int(add["path"].split("part-", 1)[1][:7]) * K_SPAN


def generate(path: str, seed: int, adds: int, commits: int) -> SynthLog:
    """Write a synthetic table at ``path`` with ``commits`` JSON commits
    carrying about ``adds`` add actions in total. Raises if ``path``
    already holds a log."""
    if commits < 2 or adds < commits:
        raise ValueError(f"need at least 2 commits and one add per commit: {adds=} {commits=}")
    os.makedirs(os.path.join(path, "_delta_log"), exist_ok=False)
    log = SynthLog(path=path, adds_per_commit=adds // commits, rng=random.Random(seed))
    for c in range(commits):
        log.commit(first=(c == 0))
    return log


def write_data_table(path: str, table: pa.Table, schema_string: str) -> None:
    """A one-commit Delta table holding ``table`` in ``DATA_FILES`` parquet
    files, written without the engine (protocol 1/2, no stats)."""
    log_dir = os.path.join(path, "_delta_log")
    os.makedirs(log_dir, exist_ok=False)
    ts = 1_700_000_000_000
    lines = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": f"{random.Random(path).getrandbits(128):032x}",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": [],
                "configuration": {},
                "createdTime": ts,
            }
        },
    ]
    per = -(-table.num_rows // DATA_FILES)
    for i in range(DATA_FILES):
        name = f"part-{i:05d}.parquet"
        pq.write_table(table.slice(i * per, per), os.path.join(path, name))
        size = os.path.getsize(os.path.join(path, name))
        lines.append(
            {
                "add": {
                    "path": name,
                    "partitionValues": {},
                    "size": size,
                    "modificationTime": ts,
                    "dataChange": True,
                }
            }
        )
    with open(os.path.join(log_dir, f"{0:020d}.json"), "x", encoding="utf-8") as fh:
        fh.write("".join(json.dumps(a) + "\n" for a in lines))


def replay_json_log(log_dir: str, upto: int | None = None) -> set:
    """Independent newest-wins replay of a log's JSON commits only:
    the live (path, dv-unique-id) keys at ``upto`` (default: the tip)."""
    live: dict = {}
    names = sorted(n for n in os.listdir(log_dir) if len(n) == 25 and n.endswith(".json") and n[:20].isdigit())
    for name in names:
        if upto is not None and int(name[:20]) > upto:
            break
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            for line in fh:
                action = json.loads(line)
                if "add" in action:
                    a = action["add"]
                    live[(a["path"], dv_unique_id(a.get("deletionVector")))] = True
                elif "remove" in action:
                    r = action["remove"]
                    live.pop((r["path"], dv_unique_id(r.get("deletionVector"))), None)
    return set(live)
