"""log_replay: snapshot, listing and planning cost on synthetic logs.

Two tables share one generated history of ``ADDS`` adds over ``COMMITS``
JSON commits (~10% removes, ~2% DV'd adds, stats on every file):

* ``json_tail`` — the 100-commit JSON log, no checkpoint;
* ``checkpointed`` — the same log with a V1 checkpoint at its tip and a
  short JSON tail after it.

The replay paths' costs depend on the log shape (on a 100k-add log they
rank differently on the two), so the snapshot and replay ops run on both; predicate planning and refresh run on the JSON
tail. Add paths are fake and never opened: no parquet is read. Time
travel on the checkpointed table draws from the checkpoint version up, so
every replay there starts from the checkpoint; the time-travel listing
draws from above it, so it always reads a JSON tail too (a listing of the
bare checkpoint takes half as long, and a seed that drew it would stand
out).

A cycle touches five (table, version) keys of the engine's 64-entry
live-adds cache: the tip and one time-travel version per table, and the
refreshed tip. The cache never evicts here. A working set beyond it would
need 65 or more cold listings per run, and one costs 0.8-1.9 s on a
4-core box even on a 400-add log, so it does not fit the run budget.
"""

from __future__ import annotations

import itertools
import os

from harness import Op, expect
import synthlog

ADDS = 10_000
COMMITS = 100
CHECKPOINT_TAIL = 5
REFRESH_COMMITS = 2
#: snapshot loads (tip and time travel) and Arrow replays run this many
#: times a cycle: one sample of these 0.05-0.25 s ops spread 50-70% across
#: seeds, as a GC pause or a page fault shows in it
SHORT_OP_REPEATS = 4


class Table:
    """One synthetic table plus the reader's last refreshed snapshot."""

    def __init__(self, shape: str, log: synthlog.SynthLog, full_mix: bool):
        self.shape = shape
        self.log = log
        #: the checkpointed shape runs only the ops whose cost depends on
        #: the log shape (snapshot, the three replay paths); skipping and
        #: refresh work on the replayed file list and the new commits alike
        self.full_mix = full_mix
        self.prev_snapshot = None
        self.prev_files_df = None


def setup(ctx):
    a = synthlog.generate(os.path.join(ctx.work, "json_tail"), ctx.seed, ADDS, COMMITS)
    b = a.fork(os.path.join(ctx.work, "checkpointed"), ctx.seed + 1)
    b.write_checkpoint()
    for _ in range(CHECKPOINT_TAIL):
        b.commit()
    ctx.inputs[__name__] = {
        "adds": ADDS,
        "commits": COMMITS,
        "json_tail": {"version": a.version, "live_files": len(a.live), "log_bytes": a.bytes_written},
        "checkpointed": {"version": b.version, "checkpoint_version": b.checkpoint_version},
        "live_adds_cache_keys_per_cycle": 5,
        "engine_live_adds_cache_entries": 64,
    }
    return [Table("json_tail", a, full_mix=True), Table("checkpointed", b, full_mix=False)]


def cycle(ctx, tables):
    # shape after shape for each op kind, so that neither shape runs all
    # of its ops earlier in the cold JVM; the JSON tail's extra ops go last
    per_table = [_table_ops(ctx, t) for t in tables]
    return [op for ops in itertools.zip_longest(*per_table) for op in ops if op is not None]


def _table_ops(ctx, t: Table) -> list:
    from delta_kernel_rs_spark.plans import expressions, py_predicate, sql_parser
    from delta_kernel_rs_spark.plans.py_skipping import FileSkipEvaluator
    from delta_kernel_rs_spark.sources import pyreplay
    from delta_kernel_rs_spark.sources.snapshot import Snapshot

    spark, tr, rng, log = ctx.spark, ctx.tracer, ctx.rng, t.log
    tip = log.version
    tip_live = len(log.live)
    first = log.checkpoint_version if log.checkpoint_version is not None else 1
    tt_snaps = rng.sample(range(first, tip), SHORT_OP_REPEATS)
    tt_list = rng.randrange(first + 1, tip)
    tt_list_live = log.live_counts[tt_list]
    cases = log.predicate_cases()
    s = t.shape

    def snap(version=None):
        return Snapshot.create(spark, log.path, version=version)

    def replay_count():
        sc = snap(tt_list).scan()
        with tr.span("scan.replay"):
            return sc.scan_files_df().count()

    def pruned(case):
        def run():
            files = snap().scan(predicate=case.sql).files()
            tr.count("skipping.plans")
            tr.count("skipping.files_total", tip_live)
            tr.count("skipping.files_kept", len(files))
            return files

        def check(files):
            kept = {f.path.rsplit("/", 2)[-2] + "/" + f.path.rsplit("/", 1)[-1] for f in files}
            missing = case.matching - kept
            expect(not missing, f"{case.name}: {len(missing)} matching files pruned")

        return Op(f"pruned_plan.{s}", run, check)

    def pruned_py(case):
        def run():
            sn = snap()
            files = pyreplay.live_files_arrow(sn.storage, sn.log_segment)
            pred = expressions.normalize(
                py_predicate.coerce_literals(sql_parser.parse_sql_predicate(case.sql, sn.schema), sn.schema)
            )
            ev = FileSkipEvaluator(sn.schema, sn.metadata.partition_columns, sn.metadata.configuration)
            with tr.span("py_skipping.eval"):
                kept = {
                    path
                    for path, pv, st in zip(
                        files.column("path").to_pylist(),
                        files.column("partition_values").to_pylist(),
                        files.column("stats").to_pylist(),
                    )
                    if ev.verdict(pred, dict(pv), st) is not False
                }
            return kept

        def check(kept):
            missing = case.matching - kept
            expect(not missing, f"{case.name}: {len(missing)} matching files skipped")

        return Op(f"pruned_plan_py.{s}", run, check)

    def replay_arrow():
        sn = snap()
        return pyreplay.live_files_arrow(sn.storage, sn.log_segment).num_rows

    def refresh():
        def prepare():
            if t.prev_snapshot is None:
                t.prev_snapshot = snap()
                t.prev_files_df = t.prev_snapshot.scan().scan_files_df()
            for _ in range(REFRESH_COMMITS):
                log.commit()

        def run():
            base = t.prev_snapshot
            new = Snapshot.create_from(base)
            df = new.scan_files_df_from(base.version, t.prev_files_df)
            n = df.count()
            t.prev_snapshot, t.prev_files_df = new, df
            return new.version, n

        def check(result):
            want = (log.version, len(log.live))
            expect(result == want, f"refresh: got {result}, want {want}")

        return Op(f"refresh.{s}", run, check, prepare)

    def snapshot_load(version):
        return Op(
            f"snapshot_load.{s}",
            lambda: snap(version).version,
            lambda v: expect(v == (version or tip), f"snapshot at v{v}, want v{version or tip}"),
        )

    return [
        *[snapshot_load(None) for _ in range(SHORT_OP_REPEATS)],
        *[snapshot_load(v) for v in tt_snaps],
        Op(
            f"replay_count.{s}",
            replay_count,
            lambda n: expect(n == tt_list_live, f"v{tt_list}: {n} live files, want {tt_list_live}"),
        ),
        Op(
            f"read_metadata.{s}",
            lambda: len(snap().scan().files()),
            lambda n: expect(n == tip_live, f"tip: {n} live files, want {tip_live}"),
        ),
        *[
            Op(
                f"replay_arrow.{s}",
                replay_arrow,
                lambda n: expect(n == tip_live, f"arrow replay: {n} live files, want {tip_live}"),
            )
            for _ in range(SHORT_OP_REPEATS)
        ],
        *(
            [*[pruned(c) for c in cases], *[pruned_py(c) for c in cases], refresh()]
            if t.full_mix
            else []
        ),
    ]
