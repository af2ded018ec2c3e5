"""BENCHMARK.json and the launcher name the same workloads and metrics, so
the last output line always carries exactly the metrics the file declares.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402
import tracing  # noqa: E402


def _manifest() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_workloads_and_metrics_match_the_launcher():
    m = _manifest()
    assert [w["name"] for w in m["workloads"]] == list(run.WORKLOADS)
    assert {e["name"]: e["unit"] for e in m["end_to_end"]} == run.END_TO_END
    assert {e["name"]: e["unit"] for e in m["per_layer"]} == run.PER_LAYER


def test_every_event_log_metric_is_a_per_layer_metric():
    assert set(tracing.EVENTLOG_METRICS) <= set(run.PER_LAYER)


def test_per_layer_fills_every_metric_from_a_minimal_traced_result():
    durations = {n: [] for n in ("registry.plan", "registry.exec", "plans.lsh_index.probe",
                                 "plans.lsh_index.append", "plans.pipeline", "sinks.report")}
    r = {
        "session.start_s": 7.0, "wall_s": 10.0, "op_s": [1.0, 2.0, 3.0], "items_per_s": 5.0, "host.canary_s": [0.5, 0.4], "host.steal_frac": 0.01, "jvm_peak_rss_mb": 900.0,
        "notes": {"stored_bytes_per_input_byte": 0.2}, "extra": {},
        "trace": {
            "counts": {}, "self_s": {"bench.pass": 9.9}, "durations": durations,
            "artifact_build_s": 0.0, "timed_s": 10.0,
            "layout_write_s": {"bronze": 0.0, "silver": 0.0, "gold": 0.0},
            "spark": {k: 1.0 for k in tracing.EVENTLOG_METRICS},
        },
    }
    m = run.per_layer(r, 9.0)
    assert set(m) == set(run.PER_LAYER)
    assert abs(m["trace.overhead_frac"] - (10.0 / 9.0 - 1)) < 1e-12
    assert abs(m["trace.self_sum_frac"] - 0.99) < 1e-12
    assert m["self_s.bench"] == 9.9
