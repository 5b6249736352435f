"""Foreign-log replay fuzz (round-10 fifth wave).

Every scan plans from the single-node Arrow replay (sources/pyreplay.py),
which must implement the reference's replay semantics
(kernel/src/log_replay.rs — newest action per FileActionKey wins,
checkpoint rows survive unless a tail action touched their key) and must
treat the PATH as file identity regardless of spelling
(canonical_log_path docstring; delta-spark leaves ``=`` raw where this
engine percent-encodes it).

This fuzz writes `_delta_log` JSON BY HAND — a hostile foreign writer —
with none of this engine's write-path canonicalization:

- every add/remove re-spells its path independently (percent-encoded or
  raw, per segment), over logical names containing ``= % space unicode +``;
- optional fields (stats/tags/extendedFileMetadata/size-on-remove) appear
  or vanish at random; unknown extra fields ride along (forward compat);
- DV swaps emit remove(old)+add(new) in one commit like real writers;
- commitInfo junk rows are interleaved.

A Python dict model (logical path -> latest file facts) is ground truth
for ``Scan.files()`` and the bare Arrow replay, in the second test also
THROUGH an engine-written checkpoint over the foreign tail. The
distributed Spark fold (tests/replay_oracle.py) is a second, independent
oracle: ``Scan.files()`` and ``scan_files_df()`` must match it key for
key, commit versions included, which also pins the Python path decoding
against Spark's.

No data files exist: replay is pure metadata, which keeps the fuzz fast
and focused on the fold semantics.
"""

from __future__ import annotations

import json
import random
import urllib.parse
import uuid

import pytest

from delta_kernel_rs_spark.functions.dv import encode_treemap, z85_encode
from delta_kernel_rs_spark.sources.snapshot import Snapshot
from tests.replay_oracle import assert_scan_matches_oracle

SEED = 0xF0E1

SCHEMA_STRING = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "val", "type": "long", "nullable": True, "metadata": {}},
            {"name": "cat", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)

#: logical partition-directory values a hostile writer may use
CATS = ["a", "x=y", "100%", "ü nï", "p+q", None]

#: logical file-name stems with every character class the codec must survive
# NOTE: no stem may CONTAIN a valid escape sequence (e.g. ``%41``) — the
# protocol says paths are percent-encoded, so a raw spelling of such a name
# is indistinguishable from the encoding of its decoded form; ``%zz`` is an
# invalid escape, which tolerant decoding passes through on both twins.
STEMS = ["part-a", "f=g", "sp ace", "pct%zz", "ünï", "plus+plus"]


def _spell(rel: str, rng: random.Random) -> str:
    """One random SPELLING of a relative path: per segment, either raw or
    percent-encoded (safe='') — mixed spellings across actions is exactly
    what foreign interop looks like."""
    out = []
    for seg in rel.split("/"):
        if rng.random() < 0.5:
            out.append(urllib.parse.quote(seg, safe=""))
        else:
            out.append(seg)
    return "/".join(out)


def _rand_dv(rng: random.Random) -> dict:
    rows = sorted(rng.sample(range(1000), rng.randrange(1, 6)))
    return {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(encode_treemap(rows)),
        "offset": None,
        "sizeInBytes": 34,
        "cardinality": len(rows),
    }


def _gen_foreign_log(log_dir, rng: random.Random, partitioned: bool, n_commits: int):
    """Write the log; return the model {logical_rel_path: facts-dict}."""
    import os

    os.makedirs(log_dir, exist_ok=True)
    actions0 = [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors"],
            }
        },
        {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": SCHEMA_STRING,
                "partitionColumns": ["cat"] if partitioned else [],
                "configuration": {},
                "createdTime": 1700000000000,
            }
        },
    ]
    model: dict[str, dict] = {}  # logical rel path -> {size, dv, pv}
    next_id = 0

    def fresh_logical():
        nonlocal next_id
        stem = rng.choice(STEMS)
        name = f"{stem}-{next_id}-{uuid.uuid4().hex[:8]}.parquet"
        next_id += 1
        if partitioned:
            cat = rng.choice(CATS)
            seg = "__HIVE_DEFAULT_PARTITION__" if cat is None else cat
            return f"cat={seg}/{name}", cat
        return name, None

    def add_action(rel, size, dv, pv):
        a = {
            "path": _spell(rel, rng),
            "partitionValues": pv,
            "size": size,
            "modificationTime": 1700000000000 + rng.randrange(10**6),
            "dataChange": True,
        }
        if dv is not None:
            a["deletionVector"] = dv
        if rng.random() < 0.4:
            a["stats"] = json.dumps(
                {"numRecords": rng.randrange(1, 1000)}
            )
        if rng.random() < 0.2:
            a["tags"] = {"foreign": "yes"}
        if rng.random() < 0.2:
            a["someFutureField"] = {"x": 1}  # readers must ignore
        return {"add": a}

    def remove_action(rel, facts):
        r = {
            "path": _spell(rel, rng),
            "deletionTimestamp": 1700000001000,
            "dataChange": True,
        }
        if facts["dv"] is not None:
            r["deletionVector"] = facts["dv"]
        if rng.random() < 0.5:
            r["extendedFileMetadata"] = True
            r["partitionValues"] = facts["pv"]
            r["size"] = facts["size"]
        return {"remove": r}

    def write_commit(version, actions):
        if rng.random() < 0.5:
            actions = [
                {"commitInfo": {"operation": "FOREIGN", "junk": [1, 2, 3]}}
            ] + actions
        path = os.path.join(log_dir, f"{version:020d}.json")
        with open(path, "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")

    write_commit(0, actions0)
    for v in range(1, n_commits + 1):
        acts = []
        n_ops = rng.randrange(1, 5)
        for _ in range(n_ops):
            live = [p for p, f in model.items() if f is not None]
            op = rng.random()
            if op < 0.5 or not live:  # new file
                rel, cat = fresh_logical()
                pv = {"cat": cat} if partitioned else {}
                facts = {"size": rng.randrange(100, 10**6), "dv": None, "pv": pv}
                acts.append(add_action(rel, facts["size"], None, pv))
                model[rel] = facts
            elif op < 0.75:  # delete
                rel = rng.choice(live)
                acts.append(remove_action(rel, model[rel]))
                model[rel] = None
            else:  # DV swap: remove(old) + add(new dv) — the real-writer shape
                rel = rng.choice(live)
                facts = model[rel]
                acts.append(remove_action(rel, facts))
                new = dict(facts, dv=_rand_dv(rng))
                acts.append(add_action(rel, new["size"], new["dv"], new["pv"]))
                model[rel] = new
        write_commit(v, acts)
    return {p: f for p, f in model.items() if f is not None}


def _norm_dv(dv) -> tuple | None:
    if dv is None:
        return None
    get = dv.get if isinstance(dv, dict) else lambda k: getattr(dv, k, None)
    return (get("storageType"), get("pathOrInlineDv"), get("cardinality"))


def _norm_pv(pv, partitioned: bool) -> tuple:
    if not partitioned:
        return ()
    d = dict(pv or {})
    v = d.get("cat")
    return (("cat", v),)


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
    tbl = live_files_arrow(storage, seg)
    out = {}
    for row in tbl.to_pylist():
        rel = urllib.parse.unquote(row["path"])
        pv = row.get("partition_values")
        if isinstance(pv, list):  # arrow map comes back as [(k, v), ...]
            pv = dict(pv)
        out[rel] = (row["size"], _norm_dv(row.get("dv")), _norm_pv(pv, partitioned))
    return out


def _model_view(model: dict, partitioned: bool) -> dict:
    return {
        rel: (f["size"], _norm_dv(f["dv"]), _norm_pv(f["pv"], partitioned))
        for rel, f in model.items()
    }


@pytest.mark.parametrize("partitioned", [False, True])
def test_foreign_log_twin_equivalence(spark, tmp_path, partitioned):
    for trial in range(3):
        rng = random.Random(SEED + trial + (1000 if partitioned else 0))
        table_path = str(tmp_path / f"t{int(partitioned)}_{trial}")
        model = _gen_foreign_log(
            f"{table_path}/_delta_log", rng, partitioned, n_commits=25
        )
        want = _model_view(model, partitioned)
        got_spark = _spark_view(spark, table_path, partitioned)
        assert got_spark == want, f"scan replay trial={trial}"
        got_py = _pyreplay_view(table_path, partitioned)
        assert got_py == want, f"pyreplay trial={trial}"
        assert_scan_matches_oracle(Snapshot.create(spark, table_path))


def test_foreign_log_survives_engine_checkpoint(spark, tmp_path):
    """Engine checkpoint over a foreign tail: fold + re-replay both ways."""
    from delta_kernel_rs_spark.sources.table import DeltaTable

    rng = random.Random(SEED + 77)
    table_path = str(tmp_path / "tc")
    model = _gen_foreign_log(f"{table_path}/_delta_log", rng, True, n_commits=20)
    want = _model_view(model, True)

    t = DeltaTable(spark, table_path)
    v = t.checkpoint()
    assert v == 20
    assert _spark_view(spark, table_path, True) == want, "post-checkpoint scan"
    assert _pyreplay_view(table_path, True) == want, "post-checkpoint pyreplay"
    assert_scan_matches_oracle(Snapshot.create(spark, table_path))
