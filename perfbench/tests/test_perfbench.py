"""Tests for the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import inputs, spec
from perfbench.trace import Tracer, fold_event_log, tail_percentile
from perfbench.workloads import ab_overhead_pct, search_e2e, topk_error

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _corpus_content(root: str, seed: int):
    c = inputs.write_corpus(root, seed, n_shards=2, rows_per_shard=32)
    meta = [pq.read_table(c.metadata(s)) for s in range(c.n_shards)]
    return c, meta, inputs.corpus_matrix(c, "img"), inputs.corpus_matrix(c, "text")


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    c1, m1, img1, txt1 = _corpus_content(str(tmp_path / "a"), 7)
    c2, m2, img2, txt2 = _corpus_content(str(tmp_path / "b"), 7)
    _c3, m3, img3, _txt3 = _corpus_content(str(tmp_path / "c"), 8)
    assert all(a.equals(b) for a, b in zip(m1, m2))
    assert np.array_equal(img1, img2) and np.array_equal(txt1, txt2)
    assert c1.missing_text_shard == c2.missing_text_shard
    assert not np.array_equal(img1, img3)
    assert not all(a.equals(b) for a, b in zip(m1, m3))

    def stream(seed):
        return [{k: (v.tolist() if isinstance(v, np.ndarray) else v) for k, v in op.items()}
                for op in inputs.search_ops(seed, inputs.centers(seed), n_rounds=3)]

    assert stream(7) == stream(7)
    assert stream(7) != stream(8)

    d1 = inputs.write_docs(str(tmp_path / "d1.parquet"), 7, 200)
    d2 = inputs.write_docs(str(tmp_path / "d2.parquet"), 7, 200)
    d3 = inputs.write_docs(str(tmp_path / "d3.parquet"), 8, 200)
    t1, t2, t3 = (pq.read_table(d.path) for d in (d1, d2, d3))
    assert t1.equals(t2) and not t1.equals(t3)


def test_every_round_holds_the_derived_mix_and_both_frame_variants():
    per_round = sum(inputs.SEARCH_ROUND.values())
    ops = inputs.search_ops(3, inputs.centers(3), n_rounds=4)
    for r in range(4):
        kinds = [op["kind"] for op in ops[r * per_round:(r + 1) * per_round]]
        assert {k: kinds.count(k) for k in inputs.SEARCH_ROUND} == inputs.SEARCH_ROUND
        frames = sorted(op["id"].split("#")[0] for op in ops[r * per_round:(r + 1) * per_round]
                        if op["kind"] == "frame")
        assert frames == ["frame.concept", "frame.text"]
    # the scan, probe and join lanes each get about LANE_SHARE_MS of a round
    for kinds in inputs.LANES.values():
        share = sum(inputs.SEARCH_ROUND[k] * inputs.BASELINE_OP_MS[k] for k in kinds)
        assert abs(share - inputs.LANE_SHARE_MS) <= 0.5 * inputs.LANE_SHARE_MS


def test_search_figures_weigh_every_op_type_equally():
    medians = {k: 100.0 for k in inputs.SEARCH_ROUND}
    assert search_e2e(medians) == pytest.approx(100.0)
    medians["frame"] = 800.0
    assert search_e2e(medians) == pytest.approx(100.0 * 8 ** (1 / len(medians)))
    del medians["frame"]
    with pytest.raises(RuntimeError):
        search_e2e(medians)


def test_tracing_overhead_compares_traced_and_untraced_ops_of_each_kind():
    ops = [{"kind": "ann", "wall_s": w, "traced": t}
           for w, t in ((0.30, True), (0.20, False), (0.32, True), (0.21, False))]
    ops += [{"kind": "frame", "wall_s": w, "traced": t} for w, t in ((7.0, True), (7.0, False))]
    ratio = (0.31 / 0.205) ** 0.5
    assert ab_overhead_pct(ops) == pytest.approx((ratio - 1) * 100)
    with pytest.raises(RuntimeError):
        ab_overhead_pct([o for o in ops if o["traced"]])


def test_planted_docs_are_near_duplicates(tmp_path):
    d = inputs.write_docs(str(tmp_path / "d.parquet"), 3, 100)
    texts = pq.read_table(d.path).column("text").to_pylist()
    for base, variant in d.planted():
        assert texts[variant].startswith(texts[base] + " x")


def test_metric_names_valid_and_in_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench == spec.benchmark_json()
    e2e = {m["name"] for m in bench["end_to_end"]}
    layer = {m["name"] for m in bench["per_layer"]}
    names = [n for n, *_ in spec.END_TO_END] + [n for n, *_ in spec.per_layer()]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n) and len(n) <= 64, n
        assert n in e2e or n in layer
    assert 1 <= len(layer) <= 128
    assert "setup_s" in e2e
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])


@pytest.mark.parametrize("n", [1, 5, 10, 11, 12, 20, 37, 100, 101, 999])
def test_tail_percentile_keeps_ten_samples_beyond(n):
    xs = list(np.random.default_rng(n).permutation(n).astype(float))
    got = tail_percentile(xs)
    if n <= 10:
        assert got is None
        return
    value, pct = got
    assert sum(x > value for x in xs) >= 10
    # one whole percentile higher would leave fewer than ten beyond it
    assert n - int(np.ceil((pct + 1) * n / 100)) < 10


def test_topk_error_accepts_ties_and_rejects_misses():
    dist = np.array([3.0, 1.0, 2.0, 2.0, np.inf, 5.0])
    assert topk_error(dist, [1, 2, 3], [1.0, 2.0, 2.0], k=3) is None
    assert topk_error(dist, [1, 3, 2], [1.0, 2.0, 2.0], k=3) is None
    assert topk_error(dist, [1, 2, 0], [1.0, 2.0, 3.0], k=3) == "a nearer row was left out"
    assert topk_error(dist, [1, 2, 4], [1.0, 2.0, 9.0], k=3) == "row outside the candidate set"
    assert topk_error(dist, [1, 2], [1.0, 2.0], k=3).startswith("2 rows")
    assert "differ" in topk_error(dist, [1, 2, 3], [1.0, 2.5, 2.0], k=3)


def test_spans_self_time_and_event_log_fold():
    tr = Tracer(None, enabled=True)
    tr.phase = "measure"
    with tr.op("ann", "ann#0", group=True):
        with tr.span("ivf.plan"):
            pass
        with tr.span("ivf.exec"):
            pass
    assert [s["name"] for s in tr.spans] == ["ann", "ivf.plan", "ivf.exec"]
    assert tr.spans[1]["parent"] == 0 and tr.spans[1]["op"] == "ann#0"
    st = tr.self_times()
    total = tr.spans[0]["end"] - tr.spans[0]["start"]
    assert 0 <= st["ann"] <= total
    groups = {"ann#0": ("ann", 0.5, "measure"), "ann#9": ("ann", 0.7, "setup")}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "ann#0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1300},
         "Task Metrics": {"Executor Run Time": 300, "Executor CPU Time": 150_000_000,
                          "JVM GC Time": 7, "Disk Bytes Spilled": 0,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 1100, "Finish Time": 1400},
         "Task Metrics": {"Executor Run Time": 300, "Executor CPU Time": 150_000_000}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    ]
    table = fold_event_log(events, groups)
    row = table["ann"]
    assert row["tasks"] == 2 and row["stages"] == 2 and row["gc_ms"] == 7
    assert row["cpu_frac"] == pytest.approx(0.5)
    assert row["overhead_ms"] == pytest.approx(500 - 400)
    assert row["shuffle_bytes"] == 64


def _run(args, cwd=ROOT, timeout=600):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w for w, _ in spec.WORKLOADS])
def test_toy_smoke_run(workload):
    p = _run(["--workload", workload, "--seed", "5", "--seconds", "1", "--scale", "toy"])
    assert p.returncode == 0, p.stderr[-3000:]
    res = _last_json(p.stdout)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {n for n, *_ in spec.END_TO_END}
    for m in res["metrics"].values():
        assert m["value"] > 0
    if workload == "search":
        with open(os.path.join(ROOT, ".perfbench_out", "search-seed5-trace0.json")) as f:
            ops = json.load(f)["run"]["ops"]
        measured = {op_id.split("#")[0] for op_id, phase, _ms in ops if phase == "measure"}
        assert {"frame.text", "frame.concept"} <= measured
    t = _run(["--workload", workload, "--seed", "5", "--seconds", "1", "--scale", "toy",
              "--trace", "1"])
    assert t.returncode == 0, t.stderr[-3000:]
    traced = _last_json(t.stdout)
    assert traced["correct"] is True
    assert set(traced["metrics"]) == {n for n, *_ in spec.per_layer()}
    assert "trace.overhead_pct" in t.stdout or "tracing overhead" in t.stdout


def test_fails_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = _run(["--workload", "search", "--seed", "1", "--seconds", "1", "--trace", "0"],
             cwd=str(tmp_path), timeout=170)
    assert p.returncode != 0
    assert not any(line.startswith("{") for line in p.stdout.splitlines())
