"""Tests of the benchmark's own parts; none starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
PERFBENCH = os.path.dirname(HERE)
sys.path.insert(0, PERFBENCH)

import harness  # noqa: E402
import metrics  # noqa: E402
import synthlog  # noqa: E402
import tracing  # noqa: E402
import wl_pipeline_ops  # noqa: E402

ADDS, COMMITS = 600, 12


def _log_bytes(log_dir: str) -> dict:
    out = {}
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if name.endswith(".json"):
            with open(path, "rb") as fh:
                out[name] = fh.read()
        elif name.endswith(".parquet"):
            out[name] = pq.read_table(path).to_pylist()
    return out


def test_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = (
        synthlog.generate(str(tmp_path / name), seed, ADDS, COMMITS)
        for name, seed in (("a", 7), ("b", 7), ("c", 8))
    )
    for log in (a, b, c):
        log.write_checkpoint()
        log.commit()
    assert _log_bytes(a.log_dir) == _log_bytes(b.log_dir)
    assert a.live_counts == b.live_counts
    assert [p.matching for p in a.predicate_cases()] == [p.matching for p in b.predicate_cases()]
    assert _log_bytes(a.log_dir) != _log_bytes(c.log_dir)


def test_generator_refuses_an_existing_log(tmp_path):
    synthlog.generate(str(tmp_path / "t"), 1, ADDS, COMMITS)
    with pytest.raises(FileExistsError):
        synthlog.generate(str(tmp_path / "t"), 1, ADDS, COMMITS)


def test_expected_live_set_matches_independent_json_replay(tmp_path):
    log = synthlog.generate(str(tmp_path / "t"), 3, ADDS, COMMITS)
    assert synthlog.replay_json_log(log.log_dir) == set(log.live)
    for v in (0, 4, COMMITS - 1):
        assert len(synthlog.replay_json_log(log.log_dir, upto=v)) == log.live_counts[v]
    # the log really has removes and DV'd adds, not only appends
    assert len(log.live) < log.next_file
    assert any(uid for _path, uid in log.live)


def test_checkpoint_plus_tail_replays_to_the_expected_set(tmp_path):
    base = synthlog.generate(str(tmp_path / "base"), 5, ADDS, COMMITS)
    log = base.fork(str(tmp_path / "ck"), 6)
    log.write_checkpoint()
    for _ in range(3):
        log.commit()
    hint = json.loads(open(os.path.join(log.log_dir, "_last_checkpoint")).read())
    assert hint["version"] == log.checkpoint_version == COMMITS - 1
    # independent replay: the checkpoint's adds, then the JSON tail
    tops = [n for n in os.listdir(log.log_dir) if ".checkpoint." in n]
    assert len(tops) == 1
    rows = pq.read_table(os.path.join(log.log_dir, tops[0])).to_pylist()
    live = {
        (r["add"]["path"], synthlog.dv_unique_id(r["add"]["deletionVector"])): True
        for r in rows
        if r.get("add")
    }
    for v in range(hint["version"] + 1, log.version + 1):
        with open(os.path.join(log.log_dir, f"{v:020d}.json")) as fh:
            for line in fh:
                action = json.loads(line)
                if "add" in action:
                    a = action["add"]
                    live[(a["path"], synthlog.dv_unique_id(a.get("deletionVector")))] = True
                elif "remove" in action:
                    r = action["remove"]
                    live.pop((r["path"], synthlog.dv_unique_id(r.get("deletionVector"))), None)
    assert set(live) == set(log.live)
    assert synthlog.replay_json_log(log.log_dir) == set(log.live)


def test_predicate_cases_hold_every_matching_live_file(tmp_path):
    log = synthlog.generate(str(tmp_path / "t"), 9, 2000, 10)
    rng_case, part_case = log.predicate_cases()
    lo, hi = (int(x) for x in rng_case.sql.replace("k >= ", "").split(" AND k < "))
    for add in log.live.values():
        stats = json.loads(add["stats"])
        overlaps = stats["minValues"]["k"] < hi and stats["maxValues"]["k"] >= lo
        assert (add["path"] in rng_case.matching) == overlaps
    pv = part_case.sql.split("'")[1]
    assert part_case.matching == {a["path"] for a in log.live.values() if a["partitionValues"]["p"] == pv}
    assert 0 < len(rng_case.matching) < len(part_case.matching) < len(log.live)


def test_summarize_reports_only_percentiles_with_ten_samples_beyond():
    assert harness.summarize([]) == {"n": 0}
    s = harness.summarize([float(i) for i in range(1, 100)])  # 99 samples
    assert s["n"] == 99 and s["p50"] == 50.0 and "p90" not in s
    s = harness.summarize([float(i) for i in range(1, 101)])  # 100: exactly 10 beyond p90
    assert s["p90"] == 90.0 and "p99" not in s
    s = harness.summarize([float(i) for i in range(1, 1001)])
    assert s["p90"] == 900.0 and s["p99"] == 990.0 and "p99.9" not in s


def test_op_ms_p50_weighs_every_kind_once():
    rec = harness.Recorder(tracing.NullTracer())
    rec.latencies_ms = {"a": [10.0, 10.0, 10.0, 1000.0], "b": [1000.0]}
    assert rec.op_ms_p50() == pytest.approx(100.0)


def test_recorder_counts_failed_checks_and_raising_ops():
    rec = harness.Recorder(tracing.NullTracer())
    rec.run(harness.Op("ok", lambda: 1, lambda r: harness.expect(r == 1, "one")))
    rec.run(harness.Op("bad", lambda: 2, lambda r: harness.expect(r == 1, "one")))
    rec.run(harness.Op("boom", lambda: 1 / 0))
    assert (rec.attempted, rec.failed) == (3, 2)
    assert set(rec.latencies_ms) == {"ok"}


def test_tracer_self_time_subtracts_children():
    tr = tracing.Tracer()
    with tr.op("k"):
        with tr.span("parent"):
            with tr.span("child"):
                sum(range(20000))
            sum(range(20000))
    durations = tr.durations_ms()
    self_ms = tr.self_ms()
    assert self_ms["parent"] == pytest.approx(durations["parent"][0] - durations["child"][0], abs=1e-6)
    assert self_ms["child"] == pytest.approx(durations["child"][0], abs=1e-6)
    parents = {name: parent for name, _s, _e, parent, _op in tr.spans}
    assert parents["op.k"] == -1 and parents["child"] >= 0


def test_prepare_and_check_are_untimed_and_untraced():
    tr = tracing.Tracer()
    calls = []
    layer = tr._wrapper(lambda x: calls.append(x) or x, "layer", {"layer.calls": lambda _r: 1})

    def slow_check(_result):
        layer("check")
        with tr.span("checker"):
            sum(range(200000))

    rec = harness.Recorder(tr)
    rec.run(harness.Op("k", lambda: layer("run"), slow_check, prepare=lambda: layer("prepare")))
    assert calls == ["prepare", "run", "check"]
    assert sorted(name for name, *_ in tr.spans) == ["layer", "op.k"]
    assert tr.counters["layer.calls"] == 1
    assert rec.busy_s == pytest.approx(rec.latencies_ms["k"][0] / 1000.0)
    assert rec.ops_per_s() == pytest.approx(1 / rec.busy_s)


def test_every_per_layer_metric_is_reduced():
    tr = tracing.Tracer()
    out = metrics.per_layer(tr, ops=1, traced_ops_per_s=1.0, jvm_peak_rss_mb=1.0)
    assert set(out) == set(metrics.PER_LAYER)


def test_benchmark_json_lists_the_metrics_the_runner_emits():
    path = os.path.join(os.path.dirname(PERFBENCH), "BENCHMARK.json")
    with open(path, encoding="utf-8") as fh:
        doc = json.load(fh)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == metrics.PER_LAYER
    import run

    assert [w["name"] for w in doc["workloads"]] == list(run.WORKLOADS)


def test_pipeline_reference_finds_the_planted_families():
    docs = wl_pipeline_ops.synth_documents(400, 2)
    vecs = wl_pipeline_ops.synth_embeddings(100, 3)
    assert docs == wl_pipeline_ops.synth_documents(400, 2)
    ref = wl_pipeline_ops.reference(docs, vecs)
    families = {}
    for doc_id, _text, fam in docs:
        families.setdefault(fam, []).append(doc_id)
    same_family = {(a, b) for ids in families.values() for i, a in enumerate(ids) for b in ids[i + 1 :]}
    assert ref["pairs08"] and ref["pairs08"] <= same_family
    assert ref["distinct_texts"] < len(docs)
    # pairs (1,2), (2,3) and (7,8): five nodes in two clusters
    assert wl_pipeline_ops.components({(1, 2), (2, 3), (7, 8)}) == (5, 2)
