"""Self-test of the benchmark's own arithmetic and parsing.

    python3 -m pytest perfbench -q -p no:cacheprovider

Needs no Spark session: mix-weighted medians, ratios with their base, event-log
parsing, span self time, the request interleave and the labeling oracle.
"""

from __future__ import annotations

import json
from itertools import islice

import numpy as np
import pytest

import stats
import tracing


def test_ratio_keeps_its_base():
    assert stats.ratio(3, 4) == {"value": 0.75, "num": 3, "den": 4}
    assert stats.ratio(0, 0) == {"value": None, "num": 0, "den": 0}


def _task_end(stage, run_ms, gc_ms=0, spill=(0, 0), shuffle_w=0, shuffle_r=(0, 0)):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": gc_ms,
                             "Memory Bytes Spilled": spill[0], "Disk Bytes Spilled": spill[1],
                             "Shuffle Read Metrics": {"Remote Bytes Read": shuffle_r[0],
                                                      "Local Bytes Read": shuffle_r[1]},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w}}}


def _stage_submitted(stage, group):
    props = {tracing.GROUP_KEY: group} if group else {}
    return {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": stage},
            "Properties": props}


def test_parse_event_log_attributes_tasks_to_groups():
    events = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
        _stage_submitted(0, "perfbench-1"),
        _stage_submitted(1, "perfbench-2"),
        _stage_submitted(2, None),
        _task_end(0, 100, gc_ms=5, shuffle_w=1000),
        _task_end(0, 50, spill=(10, 20)),
        _task_end(1, 7, shuffle_r=(300, 200)),
        _task_end(2, 3),
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1},  # failed before metrics
    ]
    lines = [json.dumps(e) + "\n" for e in events] + ["\n"]
    got = tracing.parse_event_log(lines)
    assert got["perfbench-1"] == {"run_ms": 150, "gc_ms": 5, "spill_bytes": 30,
                                  "shuffle_write_bytes": 1000, "shuffle_read_bytes": 0, "tasks": 2}
    assert got["perfbench-2"]["shuffle_read_bytes"] == 500
    assert got["perfbench-2"]["tasks"] == 1
    assert got[""]["run_ms"] == 3


def test_read_event_logs_merges_files(tmp_path):
    # stage ids restart per application: the same id maps to different
    # groups in different files
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in
                                    [_stage_submitted(0, "g"), _task_end(0, 10)]))
    (tmp_path / "app-2").write_text("\n".join(json.dumps(e) for e in
                                    [_stage_submitted(0, "h"), _task_end(0, 20),
                                     _stage_submitted(1, "g"), _task_end(1, 1)]))
    got = tracing.read_event_logs(str(tmp_path))
    assert got["g"]["run_ms"] == 11 and got["g"]["tasks"] == 2
    assert got["h"]["run_ms"] == 20


def test_self_seconds_subtracts_direct_children():
    S = tracing.Span
    spans = [S("request", "g0", None, 1, 0.0, 10.0),
             S("a", "g1", 0, 1, 1.0, 4.0),
             S("b", "g2", 0, 1, 5.0, 9.0),
             S("c", "g3", 2, 1, 6.0, 7.0)]
    assert tracing.self_seconds(spans) == pytest.approx([3.0, 3.0, 3.0, 1.0])


def test_disabled_tracer_records_nothing():
    tr = tracing.Tracer(False)
    with tr.span("x"):
        pass
    assert tr.spans == []


def test_swrr_interleave_keeps_prefix_shares():
    import workloads

    mix = workloads.ServeMixed.MIX
    seq = list(islice(workloads.swrr(mix), 40))
    assert {k: seq.count(k) for k in mix} == {k: 2 * w for k, w in mix.items()}
    total = sum(mix.values())
    for n in range(1, len(seq) + 1):
        for k, w in mix.items():
            assert abs(seq[:n].count(k) - n * w / total) < 1.0


def _bfs_regions(q, valid):
    h, w = q.shape
    seen = np.zeros_like(valid)
    sizes = []
    for i in range(h):
        for j in range(w):
            if not valid[i, j] or seen[i, j]:
                continue
            stack, n = [(i, j)], 0
            seen[i, j] = True
            while stack:
                y, x = stack.pop()
                n += 1
                for yy, xx in ((y + 1, x), (y - 1, x), (y, x + 1), (y, x - 1)):
                    if (0 <= yy < h and 0 <= xx < w and valid[yy, xx] and not seen[yy, xx]
                            and q[yy, xx] == q[y, x]):
                        seen[yy, xx] = True
                        stack.append((yy, xx))
            sizes.append(n)
    return len(sizes), sum(sizes), sum(s * s for s in sizes)


def test_label_stats_matches_bfs():
    import workloads

    rng = np.random.default_rng(3)
    for _ in range(5):
        q = rng.integers(0, 3, size=(23, 31))
        valid = rng.random((23, 31)) > 0.2
        assert workloads.label_stats(q, valid) == _bfs_regions(q, valid)


def test_mix_latency_weights_kind_medians():
    lat = [1.0, 3.0, 2.0, 10.0, 10.0, 40.0]
    kinds = ["a", "a", "a", "b", "b", "b"]
    p50, mean = stats.mix_latency(lat, kinds, {"a": 3, "b": 1})
    assert p50 == pytest.approx(0.75 * 2.0 + 0.25 * 10.0)
    assert mean == pytest.approx(0.75 * 2.0 + 0.25 * 20.0)
    with pytest.raises(ValueError):
        stats.mix_latency(lat, kinds, {"a": 1, "c": 1})


def test_benchmark_json_matches_the_runner():
    """BENCHMARK.json names exactly the metrics and workloads run.py emits."""
    import os

    import run
    import workloads

    with open(os.path.join(run.REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS) == set(run.WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()


def test_tree_cpu_counts_a_reaped_child():
    import os
    import subprocess
    import sys

    c0 = stats.tree_cpu_seconds(os.getpid())
    subprocess.run([sys.executable, "-c",
                    "import time\nwhile time.process_time() < 0.3: pass"], check=True)
    assert stats.tree_cpu_seconds(os.getpid()) - c0 >= 0.25
