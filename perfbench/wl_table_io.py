"""table_io: engine writes and the reads analysts and pipelines issue.

Each cycle writes three fresh tables of ``ROWS_PER_TABLE`` seeded lineitem
rows through the engine, in the shapes the d-queries read, and reads each
one back:

* column-mapped — create, append; time-travel read of v0; then an UPDATE
  and a MERGE upsert, each followed by a read-your-write full read;
* partitioned, V2 checkpoint — create, V2 checkpoint with sidecars,
  append; a read whose predicate prunes partitions and skips files by
  stats;
* CDF with deletion vectors — create, append, DV delete (insert, insert,
  DV delete); full read, facade read (``spark.read.format("delta_kernel")``),
  DV decode of every DV, and ``changes(0)``.

Logs stay a few commits long, well inside the engine's 64-entry live-adds
cache, so parquet write and read, DV apply, column mapping, CDF planning
and commit dominate; replay changes should barely move it. Every op is
checked: commits against the expected version, reads against a numpy
recount of the same seeded rows.
"""

from __future__ import annotations

import json
import os

import pandas as pd

from harness import Op, expect
import synthlog
import synthrows

ROWS_PER_TABLE = 20_000
DV_DELETE = "l_orderkey % 7 = 0"
FACADE_FILTER = "l_quantity < 25"
MERGE_ROWS = 1_000


class Cycle:
    """Inputs and expected answers of one cycle, plus the plain table's
    model as UPDATE and MERGE change it."""

    def __init__(self, root: str, seed: int):
        self.root = root
        self.seed = seed
        half = ROWS_PER_TABLE // 2
        self.halves = [
            (
                synthrows.lineitem(seed + 10 * i, i * ROWS_PER_TABLE, half),
                synthrows.lineitem(seed + 10 * i + 1, i * ROWS_PER_TABLE + half, ROWS_PER_TABLE - half),
            )
            for i in range(3)
        ]
        self.plain_model = pd.concat(self.halves[0], ignore_index=True)
        self.next_key = 3 * ROWS_PER_TABLE

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)


def setup(ctx):
    from delta_kernel_rs_spark.sources.batch_source import register_batch_source

    register_batch_source(ctx.spark)
    ctx.inputs[__name__] = {
        "tables_per_cycle": ["column_mapped", "partitioned_v2_checkpoint", "cdf_dv"],
        "rows_per_table": ROWS_PER_TABLE,
        "rows_written_per_cycle": 3 * ROWS_PER_TABLE + MERGE_ROWS // 2,
        "log_commits_per_table": "2-4: every table fits the 64-entry live-adds cache",
    }
    return {"cycles": 0}


def _commit_counts(path: str, version: int) -> dict:
    counts = {"actions": 0, "bytes": 0, "add": 0, "remove": 0, "dv": 0}
    with open(os.path.join(path, "_delta_log", f"{version:020d}.json"), encoding="utf-8") as fh:
        for line in fh:
            counts["actions"] += 1
            counts["bytes"] += len(line.encode())
            action = json.loads(line)
            if "add" in action:
                counts["add"] += 1
                counts["dv"] += bool(action["add"].get("deletionVector"))
            elif "remove" in action:
                counts["remove"] += 1
    return counts


def cycle(ctx, state) -> list:
    from pyspark.sql import functions as F

    from delta_kernel_rs_spark.functions import dv as dv_fn
    from delta_kernel_rs_spark.sources import delete
    from delta_kernel_rs_spark.sources.table import DeltaTable

    spark, tr = ctx.spark, ctx.tracer
    n = state["cycles"]
    state["cycles"] += 1
    c = Cycle(os.path.join(ctx.work, f"cycle{n}"), ctx.seed * 1000 + 100 * n)

    def sdf(pdf):
        return spark.createDataFrame(pdf)

    def table(name):
        return DeltaTable(spark, c.path(name))

    def record_commit(name: str, version: int, dml: bool) -> None:
        if not tr.enabled:
            return
        n = _commit_counts(c.path(name), version)
        tr.count("transaction.actions", n["actions"])
        tr.count("transaction.commit_bytes", n["bytes"])
        if dml:
            tr.count("dml.ops")
            tr.count("dml.files_added", n["add"])
            tr.count("dml.files_removed", n["remove"])
            tr.count("dml.dv_files", n["dv"])

    def commit(kind: str, name: str, version: int, run, dml: bool = False, pdf=None) -> Op:
        """A write op; ``pdf`` is handed to Spark before the timed region
        and ``run`` receives the resulting DataFrame."""
        staged = {}

        def prepare():
            if pdf is not None:
                staged["df"] = sdf(pdf)

        def check(got):
            if kind == "commit.create":
                got = 0 if os.path.exists(os.path.join(c.path(name), "_delta_log", f"{0:020d}.json")) else None
            expect(got == version, f"{kind} {name}: v{got}, want v{version}")
            record_commit(name, version, dml)

        return Op(kind, lambda: run(staged.get("df")), check, prepare)

    def create(name: str, pdf, **kw) -> Op:
        return commit(
            "commit.create", name, 0, lambda df: DeltaTable.create(spark, c.path(name), df=df, **kw), pdf=pdf
        )

    def append(name: str, pdf, version: int) -> Op:
        return commit("commit.append", name, version, lambda df: table(name).append(df), pdf=pdf)

    def totals(df, with_quantity=False):
        cols = [F.count(F.lit(1)), F.sum("l_orderkey")] + ([F.sum("l_quantity")] if with_quantity else [])
        r = df.agg(*cols).first()
        return tuple(int(x or 0) for x in r)

    def read(name: str, key: str, want, predicate=None, version=None, kind=None) -> Op:
        planned = {}

        def run():
            df = planned["df"] = table(key).to_df(version=version, predicate=predicate)
            with tr.span("scan.execute"):
                return totals(df, with_quantity=len(want) == 3)

        def check(got):
            expect(got == tuple(want), f"{name}: {got}, want {tuple(want)}")
            if predicate is not None and tr.enabled:
                # files the engine planned, from the Spark plan; the table's
                # live files from an independent replay of its JSON log
                tr.count("skipping.plans")
                live = synthlog.replay_json_log(os.path.join(c.path(key), "_delta_log"))
                tr.count("skipping.files_total", len(live))
                tr.count("skipping.files_kept", len(planned["df"].inputFiles()))

        return Op(kind or f"read.{name}", run, check)

    def cdf_read():
        df = table("cdf").changes(0)
        with tr.span("cdf.execute"):
            rows = df.groupBy("_change_type").count().collect()
        got = {r[0]: r[1] for r in rows}
        tr.count("cdf.rows", sum(got.values()))
        return got

    def facade_read():
        with tr.span("facade.plan"):
            df = spark.read.format("delta_kernel").option("path", c.path("cdf")).load().filter(FACADE_FILTER)
        with tr.span("facade.read"):
            return totals(df)

    def dv_decode():
        snap = table("cdf").snapshot()
        dvs = [f.dv for f in snap.scan().files() if f.dv]
        with tr.span("dv.decode"):
            n = sum(len(dv_fn.read_dv_row_indexes(snap.storage, snap.table_path, dv)) for dv in dvs)
        tr.count("dv.rows_deleted", n)
        return n

    def check_checkpoint(v):
        # enabling v2Checkpoint is a protocol commit (v1) before the checkpoint
        expect(v == 1, f"v2 checkpoint at v{v}, want v1")
        if tr.enabled:
            import pyarrow.parquet as pq

            log_dir = os.path.join(c.path("v2"), "_delta_log")
            side = os.path.join(log_dir, "_sidecars")
            parts = [os.path.join(log_dir, n) for n in os.listdir(log_dir) if ".checkpoint." in n]
            parts += [os.path.join(side, n) for n in os.listdir(side)] if os.path.isdir(side) else []
            tr.count("checkpoint.bytes", sum(os.path.getsize(p) for p in parts))
            tr.count("checkpoint.actions", sum(pq.ParquetFile(p).metadata.num_rows for p in parts))

    # -- expected answers (numpy/pandas recounts) ----------------------------
    (p0, p1), (v0, v1), (f0, f1) = c.halves
    v2_all = pd.concat([v0, v1])
    v2_cut = int(v2_all.l_orderkey.min() + len(v2_all) // 5)
    v2_pred = f"l_returnflag = 'R' AND l_orderkey < {v2_cut}"
    v2_want = synthrows.totals(v2_all[(v2_all.l_returnflag == "R") & (v2_all.l_orderkey < v2_cut)])
    cdf_all = pd.concat([f0, f1])
    dv_kept = cdf_all[cdf_all.l_orderkey % 7 != 0]
    cdf_want = {"insert": len(cdf_all), "delete": len(cdf_all) - len(dv_kept)}

    # UPDATE and MERGE on the plain table, modelled in pandas
    upd_r = c.seed % 97
    upd_model = c.plain_model.copy()
    hit = upd_model.l_orderkey % 97 == upd_r
    upd_model.loc[hit, "l_quantity"] += 1
    keys = upd_model.l_orderkey.sample(MERGE_ROWS // 2, random_state=c.seed % 2**32)
    merge_src = pd.concat(
        [
            synthrows.lineitem(c.seed + 91, 0, len(keys)).assign(l_orderkey=keys.to_numpy()),
            synthrows.lineitem(c.seed + 92, c.next_key, MERGE_ROWS - len(keys)),
        ],
        ignore_index=True,
    )
    s = merge_src.set_index("l_orderkey")
    merge_model = pd.concat([upd_model.set_index("l_orderkey").drop(index=s.index, errors="ignore"), s]).reset_index()

    return [
        create("plain", p0, properties={"delta.columnMapping.mode": "name"}),
        append("plain", p1, 1),
        read("time_travel", "plain", synthrows.totals(p0), version=0),
        create("v2", v0, partition_by=["l_returnflag"]),
        Op("checkpoint", lambda: table("v2").checkpoint(v2=True), check_checkpoint),
        append("v2", v1, 2),
        read("partition_stats_pred", "v2", v2_want, predicate=v2_pred),
        create(
            "cdf", f0,
            properties={"delta.enableChangeDataFeed": "true", "delta.enableDeletionVectors": "true"},
        ),
        append("cdf", f1, 1),
        commit("dml.delete_dv", "cdf", 2, lambda _: delete.delete_with_dvs(table("cdf"), DV_DELETE), dml=True),
        read("dv", "cdf", synthrows.totals(dv_kept)),
        Op(
            "read.facade",
            facade_read,
            lambda got, want=synthrows.totals(dv_kept[dv_kept.l_quantity < 25]): expect(
                got == want, f"facade: {got}, want {want}"
            ),
        ),
        Op(
            "dv_decode",
            dv_decode,
            lambda n, want=len(cdf_all) - len(dv_kept): expect(n == want, f"dv decode: {n}, want {want}"),
        ),
        Op("cdf_read", cdf_read, lambda got: expect(got == cdf_want, f"cdf: {got}, want {cdf_want}")),
        commit(
            "dml.update", "plain", 2,
            lambda _: table("plain").update(f"l_orderkey % 97 = {upd_r}", {"l_quantity": "l_quantity + 1"}),
            dml=True,
        ),
        read("read_your_write", "plain", synthrows.totals(upd_model, with_quantity=True)),
        commit("dml.merge", "plain", 3, lambda df: table("plain").upsert(df, ["l_orderkey"]), dml=True, pdf=merge_src),
        read("read_your_write", "plain", synthrows.totals(merge_model, with_quantity=True)),
    ]
