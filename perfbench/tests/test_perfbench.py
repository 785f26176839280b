"""Tests of the benchmark itself: generator determinism, the output
checks rejecting corrupted outputs, and the metric contract.

    python3 -m pytest perfbench/tests -q

The last test runs one short corpus_dedup benchmark end to end (about
a minute); the rest need no Spark session.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, gen, run  # noqa: E402
from perfbench.trace import Tracer, span_totals, task_counters  # noqa: E402
from perfbench.workloads import label_propagation_rounds  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, names in sorted(os.walk(root)):
        dirs.sort()
        for n in sorted(names):
            path = os.path.join(dirpath, n)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------


def test_kitti_tree_is_a_function_of_the_seed(tmp_path):
    digests = []
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.kitti_tree(str(tmp_path / name), n_frames=2, n_points=500, seed=seed)
        digests.append(tree_digest(str(tmp_path / name)))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_corpus_is_a_function_of_the_seed(tmp_path):
    metas, blobs = [], []
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        path = str(tmp_path / f"{name}.jsonl")
        metas.append(gen.corpus(path, 300, 0.05, 0.15, seed))
        with open(path, "rb") as f:
            blobs.append(f.read())
    assert blobs[0] == blobs[1] and metas[0] == metas[1]
    assert blobs[0] != blobs[2]


def test_request_sequence_is_a_function_of_the_seed():
    fids = [f"{i:06d}" for i in range(8)]
    assert gen.frame_requests(fids, 50, 1) == gen.frame_requests(fids, 50, 1)
    assert gen.frame_requests(fids, 50, 1) != gen.frame_requests(fids, 50, 2)


# ---------------------------------------------------------------------------
# checks reject corrupted outputs
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def kitti(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("kitti"))
    meta = gen.kitti_tree(root, n_frames=3, n_points=4000, seed=11)
    return root, meta, checks.kitti_golden(root)


def correct_kitti_output(golden: dict) -> dict:
    out = {"minimal_area": golden["minimal_area"], "center_area": golden["center_area"]}
    for ds in ("minimal", "center"):
        counts = dict(golden[f"counts_{ds}"])
        out[f"counts_{ds}"] = counts
        out[f"files_{ds}"] = {f"{fid}.bin": 16 * n for fid, n in counts.items()}
        out[f"stats_{ds}"] = checks._stats(counts) if counts else None
    return out


def test_kitti_check_accepts_the_golden(kitti):
    _, _, golden = kitti
    assert golden["counts_minimal"], "fixture should keep points in the cut-out"
    assert checks.check_kitti(golden, correct_kitti_output(golden)) == []


def test_kitti_check_rejects_a_dropped_frame(kitti):
    _, _, golden = kitti
    out = correct_kitti_output(golden)
    dropped = sorted(out["counts_minimal"])[0]
    del out["counts_minimal"][dropped]
    del out["files_minimal"][f"{dropped}.bin"]
    assert checks.check_kitti(golden, out)


def test_kitti_check_rejects_a_short_file_and_a_moved_area(kitti):
    _, _, golden = kitti
    out = correct_kitti_output(golden)
    name = sorted(out["files_minimal"])[0]
    out["files_minimal"][name] -= 16
    assert checks.check_kitti(golden, out)
    out = correct_kitti_output(golden)
    out["minimal_area"] = [list(golden["minimal_area"][0]), [v + 0.01 for v in golden["minimal_area"][1]]]
    assert checks.check_kitti(golden, out)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpus") / "docs.jsonl")
    meta = gen.corpus(path, 400, 0.05, 0.15, seed=5)
    golden = checks.corpus_golden(path, meta)
    near = set(golden["near_removed"])
    ideal = [d for d in golden["post_exact"] if d not in near]
    return golden, ideal


def test_corpus_check_accepts_the_ideal_survivors(corpus):
    golden, ideal = corpus
    assert golden["near_removed"], "fixture should plant near duplicates"
    assert checks.check_corpus(golden, golden["post_exact"], ideal) == []


def test_corpus_check_rejects_an_extra_survivor(corpus):
    golden, ideal = corpus
    all_ids = set(range(1, golden["n_input"] + 1))
    outsider = min(all_ids - set(golden["post_exact"]))  # filtered or exact copy
    assert checks.check_corpus(golden, golden["post_exact"], ideal + [outsider])


def test_corpus_check_rejects_a_dropped_survivor_and_low_recall(corpus):
    golden, ideal = corpus
    assert checks.check_corpus(golden, golden["post_exact"], ideal[1:])
    assert checks.check_corpus(golden, golden["post_exact"], golden["post_exact"])


def test_corpus_check_rejects_a_wrong_exact_dedup(corpus):
    golden, ideal = corpus
    assert checks.check_corpus(golden, golden["post_exact"][1:], ideal)


def test_frame_check(kitti):
    root, meta, _ = kitti
    import numpy as np

    fid = sorted(meta["frames"])[0]
    fm = meta["frames"][fid]
    pts = np.fromfile(os.path.join(root, "velodyne", f"{fid}.bin"), dtype="<f4").reshape(-1, 4)
    points = pd.DataFrame(pts.astype("f8"), columns=["x", "y", "z", "intensity"])
    wire = pd.DataFrame(
        [("Car", b, e) for b in range(fm["kept_boxes"]) for e in range(12)],
        columns=["label", "box_idx", "edge_idx"],
    )
    assert checks.check_frame(fm, points, wire) == []
    assert checks.check_frame(fm, points.iloc[1:], wire)
    assert checks.check_frame(fm, points, wire.iloc[1:])


# ---------------------------------------------------------------------------
# tracing helpers
# ---------------------------------------------------------------------------


def test_label_propagation_rounds():
    assert label_propagation_rounds([(1, 2)]) == 2
    assert label_propagation_rounds([(1, 2), (2, 3), (3, 4)]) == 4


def test_spans_nest_and_sum(tmp_path):
    t = Tracer(True)
    t.op = 0
    with t.span("outer"):
        with t.span("inner"):
            pass
        with t.span("inner"):
            pass
    totals = span_totals(t.spans, {})
    assert set(totals) == {("outer", 0), ("inner", 0)}
    inner = [s for s in t.spans if s["name"] == "inner"]
    outer = [s for s in t.spans if s["name"] == "outer"][0]
    assert all(s["parent"] == outer["id"] for s in inner)
    assert totals[("outer", 0)]["wall_s"] >= totals[("inner", 0)]["wall_s"]


def test_task_counters_read_the_event_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Info": {"Failed": False},
         "Task Metrics": {"Executor Run Time": 1500, "JVM GC Time": 100,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2_000_000},
                          "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 1_000_000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Info": {"Failed": True},
         "Task Metrics": {}},
    ]
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    c = task_counters(str(tmp_path))["g1"]
    assert c == {"tasks": 2, "tasks_failed": 1, "busy_s": 1.5, "gc_s": 0.1,
                 "shuffle_write_mb": 2.0, "spill_mb": 1.0}


def test_analyze_self_time_subtracts_only_the_forced_scans():
    def span(i, name, start, end, parent=None):
        return {"id": i, "name": name, "op": 0, "parent": parent, "group": None,
                "start": start, "end": end}

    spans = [
        span(1, "sources.kitti.scan_points", 0.0, 1.0),
        span(2, "sources.kitti.scan_labels", 1.0, 1.5),
        span(3, "sources.kitti.scan_calib", 1.5, 1.7),
        span(4, "operators.kitti.analyze", 2.0, 7.0),
        span(5, "viz.bbox_wireframe", 8.0, 9.0),
        span(6, "sources.kitti.read_labels", 8.0, 8.3, parent=5),
    ]
    e2e = run.end_to_end([1.0], [20.0], 100.0, 0.1)
    layers = run.per_layer(spans, {}, [], 1, [9.0], e2e, 0, 0, 0.0)
    assert layers["operators.kitti.analyze_self_s"][0] == pytest.approx(3.3)
    assert layers["sources.kitti.scan_labels_s"][0] == pytest.approx(0.5)
    assert layers["sources.kitti.read_labels_ms"][0] == pytest.approx(300.0)


def test_failed_tasks_are_summed_over_every_span():
    groups = {"g1": {"tasks": 3, "tasks_failed": 1}, "g2": {"tasks": 2, "tasks_failed": 2}}
    e2e = run.end_to_end([1.0], [20.0], 100.0, 0.1)
    layers = run.per_layer([], groups, [], 1, [9.0], e2e, 0, 0, 0.0)
    assert layers["spark.tasks_failed"] == (3.0, "count")
    assert not any(k.endswith(".tasks_failed") and k != "spark.tasks_failed" for k in layers)


def test_jit_cpu_reads_only_compiler_threads():
    # a child that names itself as the JVM names a C2 compiler thread,
    # burns CPU, then waits; a child under any other name counts for 0
    script = (
        "import ctypes, sys, time\n"
        "ctypes.CDLL(None).prctl(15, sys.argv[1].encode(), 0, 0, 0)\n"
        "t = time.process_time()\n"
        "while time.process_time() - t < 0.5: pass\n"
        "print('ready', flush=True)\n"
        "sys.stdin.read()\n"
    )
    for name, expect_jit in (("C2 CompilerThread0", True), ("worker", False)):
        p = subprocess.Popen([sys.executable, "-c", script, name],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        try:
            assert p.stdout.readline().strip() == "ready"
            jit = run.jit_cpu_s()
        finally:
            p.stdin.close()
            p.wait()
        assert (jit >= 0.4) if expect_jit else (jit == 0.0), (name, jit)


def test_tree_cpu_counts_exited_children():
    before = run.tree_cpu_s()
    subprocess.run(
        [sys.executable, "-c", "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.5: pass"],
        check=True,
    )
    assert run.tree_cpu_s() - before >= 0.4


# ---------------------------------------------------------------------------
# metric contract
# ---------------------------------------------------------------------------

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_names_and_units():
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    assert len(names) == len(set(names))
    for m in BENCH["end_to_end"] + BENCH["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]), m
    assert {w["name"] for w in BENCH["workloads"]} <= set(gen.SIZES)


def test_every_metric_is_produced_with_its_unit():
    e2e = run.end_to_end([1.0, 2.0, 3.0], [1.5], 100.0, 0.1)
    assert {k: u for k, (_, u) in e2e.items()} == {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    layers = run.per_layer([], {}, [], 1, [0.5], e2e, 0, 0, 0.0)
    assert {k: u for k, (_, u) in layers.items()} == {m["name"]: m["unit"] for m in BENCH["per_layer"]}


def test_layer_map_names_real_metrics():
    with open(os.path.join(ROOT, "perfbench", "layer_map.json")) as f:
        layer_map = json.load(f)
    layer_names = {m["name"] for m in BENCH["per_layer"]}
    e2e_names = {m["name"] for m in BENCH["end_to_end"]}
    for entry in layer_map["layers"]:
        assert set(entry["metrics"]) <= layer_names, entry
        assert set(entry["moves"]) <= e2e_names, entry
        assert set(entry["workloads"]) <= set(gen.SIZES), entry


def test_a_short_run_prints_every_metric_with_its_unit():
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_dedup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    for m in BENCH["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], float) and got["value"] > 0
    for m in BENCH["end_to_end"]:
        assert re.search(rf"^\s+{re.escape(m['name'])}\s+\S+ {re.escape(m['unit'])}$", p.stderr, re.M)
