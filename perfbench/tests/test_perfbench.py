"""Tests of the benchmark's own machinery (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import eventlog  # noqa: E402
import metrics  # noqa: E402
from spans import Span, Tracer, self_time_by_layer, self_times  # noqa: E402

_GEN = """
import sys, tempfile
sys.path[:0] = [{bench!r}, {root!r}]
from inputs import make_pipeline_inputs, make_suite_inputs
seed = int(sys.argv[1])
with tempfile.TemporaryDirectory() as d:
    p = make_pipeline_inputs(d + "/p", seed, n_unique=12, replicate=2,
                             noise_lines=4, n_entities=30, n_parts=2)
    s = make_suite_inputs(d + "/s", seed, n_docs=40, n_lineitem=300,
                          n_events=200, n_embeddings=20)
    print(p.sha256, s.sha256, len(p.expected))
"""


def _generate(seed: int, hash_seed: str) -> list[str]:
    env = dict(os.environ, PYTHONHASHSEED=hash_seed)
    out = subprocess.run(
        [sys.executable, "-c", _GEN.format(bench=BENCH, root=ROOT), str(seed)],
        env=env, capture_output=True, text=True, check=True, timeout=300,
    )
    return out.stdout.split()


def test_same_seed_same_input_sha256():
    # two interpreters, as two benchmark runs are; run.py fixes the hash seed
    a, b = _generate(7, "0"), _generate(7, "0")
    assert a == b
    other = _generate(8, "0")
    assert other[0] != a[0] and other[1] != a[1]
    # every copy of the 12 files carries its own expected triples
    assert int(a[2]) > 0 and int(a[2]) % 2 == 0


def _span(i, name, start, end, parent=None):
    return Span(i, name, start, end, parent, "r")


def test_self_time_subtracts_children_union_clipped_to_parent():
    spans = [
        _span(0, "pass", 0.0, 10.0),
        _span(1, "extraction", 1.0, 3.0, 0),
        _span(2, "gibbs.sweep", 2.0, 4.0, 0),   # overlaps span 1
        _span(3, "gibbs.sweep", 9.0, 12.0, 0),  # runs past the parent
        _span(4, "gibbs.inner", 9.5, 10.5, 3),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 1.0)  # [1,4] and [9,10]
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0 - 1.0)
    by_layer = self_time_by_layer(spans)
    assert by_layer["gibbs"] == pytest.approx(2.0 + 2.0 + 1.0)
    assert by_layer["pass"] == pytest.approx(6.0)


def test_tracer_records_parents_and_can_be_disabled():
    t = Tracer("run", enabled=True)
    with t.span("pass"):
        with t.span("corpus"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("pass", None), ("corpus", 0)]
    assert all(s.end >= s.start for s in t.spans)
    off = Tracer("run", enabled=False)
    with off.span("pass"):
        pass
    assert off.spans == []


def test_eventlog_rollup_on_recorded_log():
    path = os.path.join(HERE, "data", "eventlog_tiny.json")
    groups = eventlog.read_rollup(path)
    ex, sw = groups["extraction"], groups["gibbs.sweep"]
    # two jobs (an aggregation and its AQE follow-up), 2 + 1 tasks
    assert (ex.jobs, ex.tasks, ex.failed_tasks) == (2, 3, 0)
    assert ex.shuffle_write_bytes == 266 and ex.shuffle_read_bytes == 266
    assert ex.cpu_s > 0 and ex.run_s > 0
    assert len(ex.job_intervals) == 2
    assert (sw.jobs, sw.tasks) == (1, 2)
    assert by_layer_names(groups) == {"extraction", "gibbs"}


def by_layer_names(groups):
    return set(eventlog.by_layer(groups))


def test_eventlog_counts_failed_tasks():
    with open(os.path.join(HERE, "data", "eventlog_tiny.json")) as f:
        lines = f.read().splitlines()
    failed = json.loads(next(ln for ln in lines if "TaskEnd" in ln))
    failed["Task End Reason"] = {"Reason": "ExceptionFailure"}
    groups = eventlog.rollup(lines + [json.dumps(failed)])
    assert groups["extraction"].failed_tasks == 1
    assert groups["extraction"].tasks == 4


def test_benchmark_json_mirrors_metric_lists():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"])
            for m in spec["end_to_end"]] == metrics.END_TO_END
    assert [(m["name"], m["unit"], m["better"])
            for m in spec["per_layer"]] == metrics.PER_LAYER
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
