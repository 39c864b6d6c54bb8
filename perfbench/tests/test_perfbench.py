"""Tests of the benchmark's own helpers (no Spark session needed).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

import gen
import harness
import oracle
import stats
import tracing
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_union_length_merges_overlaps_and_nesting():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0.0, 1.0), (2.0, 3.0)]) == 2.0
    assert stats.union_length([(0.0, 2.0), (1.0, 3.0)]) == 3.0
    assert stats.union_length([(0.0, 10.0), (2.0, 3.0), (4.0, 5.0)]) == 10.0
    assert stats.union_length([(5.0, 6.0), (0.0, 1.0), (0.5, 2.0)]) == 3.0
    assert stats.union_length([(1.0, 1.0), (2.0, 1.5)]) == 0.0


def test_driver_gap_is_query_wall_minus_job_union():
    # One query of 10 s whose jobs cover [1, 4] (two overlapping) and
    # [6, 7]; a job of another key in the same window must not count.
    records = [
        {"pass": 1, "key": "k", "error": None, "start": 0.0, "end": 10.0,
         "build_end": 5.0, "build_s": 5.0, "mat_s": 5.0, "persisted_left": 0},
    ]
    base = dict(stages=1, tasks=1, tasks_failed=0, run_s=0.0, cpu_s=0.0,
                gc_s=0.0, shuffle_write=0, shuffle_read=0, spill=0,
                input=0, output=0)
    jobs = [
        dict(base, job=0, **{"pass": 1, "key": "k", "phase": "build", "start": 1.0, "end": 3.0}),
        dict(base, job=1, **{"pass": 1, "key": "k", "phase": "build", "start": 2.0, "end": 4.0}),
        dict(base, job=2, **{"pass": 1, "key": "k", "phase": "mat", "start": 6.0, "end": 7.0}),
        dict(base, job=3, **{"pass": 1, "key": "other", "phase": "mat", "start": 0.0, "end": 10.0}),
    ]
    layers = tracing.layer_metrics(records, jobs, [], {}, cores=4)
    assert layers["spark.driver_gap_s"] == pytest.approx(6.0)
    assert layers["operators.build_jobs"] == 2
    assert layers["materialize.jobs"] == 2


def test_job_owner_falls_back_to_stream_run_and_time():
    records = [{"pass": 2, "key": "k", "start": 100.0, "build_end": 101.0, "end": 102.0}]
    streams = {"run-uuid": (2, "k", "build")}
    assert tracing._owner({"jobGroup": "2:k:mat"}, streams, records) == (2, "k", "mat")
    assert tracing._owner({"jobGroup": "run-uuid"}, streams, records) == (2, "k", "build")
    late = {"jobGroup": None, "submissionTime": "1970-01-01T00:01:41.500GMT"}
    assert tracing._owner(late, streams, records) == (2, "k", "mat")
    outside = {"jobGroup": None, "submissionTime": "1970-01-01T00:03:00.000GMT"}
    assert tracing._owner(outside, streams, records) is None


def test_parse_size_reads_the_total():
    assert tracing.parse_size("12.0 B") == 12.0
    assert tracing.parse_size("total (min, med, max (stageId: taskId))\n"
                              "1.5 KiB (0.0 B, 512.0 B, 1024.0 B (stage 1.0: task 3))") == 1536.0
    assert tracing.parse_size("") == 0.0


def test_best_pass_sums_each_keys_fastest_warm_run():
    class FakeLoop:
        records = [
            {"pass": 0, "key": "a", "latency": 0.1, "error": None},   # cold: ignored
            {"pass": 1, "key": "a", "latency": 2.0, "error": None},
            {"pass": 1, "key": "b", "latency": 1.0, "error": None},
            {"pass": 2, "key": "a", "latency": 1.5, "error": None},
            {"pass": 2, "key": "b", "latency": 0.2, "error": "boom"},  # failures count
        ]

    e2e = harness.end_to_end(FakeLoop(), [9.0, 3.0, 1.7], {"setup_s": 5.0}, 100.0)
    assert e2e["best_pass_s"] == pytest.approx(1.7)
    assert e2e["cold_pass_s"] == 9.0
    assert e2e["_query_p50_s"] == pytest.approx(1.5)
    assert e2e["_query_samples"] == 3


def test_percentile_needs_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]
    assert stats.percentile(values, 0.9) == 90.0          # 10 beyond
    with pytest.raises(ValueError):
        stats.percentile(values[:99], 0.9)                # 9 beyond
    assert stats.tail(values)["q"] == 0.9
    assert stats.tail(values[:99]) == {"q": 0.75, "value": 75.0, "n": 99}
    assert stats.tail(values[:20])["q"] == 0.5
    assert stats.tail(values[:19]) is None


def test_pass_order_is_fixed_by_seed_and_pass():
    keys = [f"q{i}" for i in range(20)]
    a = stats.pass_order(keys, seed=7, pass_index=3)
    assert a == stats.pass_order(list(reversed(keys)), seed=7, pass_index=3)
    assert sorted(a) == sorted(keys)
    assert a != stats.pass_order(keys, seed=7, pass_index=4)
    assert a != stats.pass_order(keys, seed=8, pass_index=3)


def test_oracle_check_rejects_a_perturbed_row():
    pdf = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, None]})
    expected = oracle.expected_result(pdf)
    shuffled = pdf.iloc[[2, 0, 1]][["v", "k"]]
    assert oracle.mismatch(oracle.expected_result(shuffled), expected) is None
    perturbed = pdf.copy()
    perturbed.loc[1, "v"] = 1.2500000000000002
    assert "sorted row" in oracle.mismatch(oracle.expected_result(perturbed), expected)
    assert "rows" in oracle.mismatch(oracle.expected_result(pdf.iloc[:2]), expected)
    renamed = pdf.rename(columns={"v": "w"})
    assert "columns" in oracle.mismatch(oracle.expected_result(renamed), expected)


def test_generated_tables_are_deterministic_and_typed():
    a = gen.make_tables(sf=0.001)
    b = gen.make_tables(sf=0.001)
    assert sorted(a) == sorted(b)
    for name in a:
        assert a[name].equals(b[name]), name
    assert str(a["events"].schema.field("ts").type) == "timestamp[us]"
    assert str(a["embeddings"].schema.field("embedding").type) == "list<item: float>"
    docs = a["documents"].to_pandas()
    assert (docs["n_chars"] == docs["text"].str.len()).all()
    assert docs["text"].str.endswith(" dup").any()


def test_benchmark_json_matches_declarations():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert spec["end_to_end"] == workloads.END_TO_END
    assert spec["per_layer"] == workloads.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert [w["why"] for w in spec["workloads"]] == [
        w["why"] for w in workloads.WORKLOADS.values()]
