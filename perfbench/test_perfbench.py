"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

The first tests need no Spark. ``test_counts_repeat`` runs each workload
in one local session (about two minutes on 4 cores) and checks that the
count metrics a later change may cite as evidence repeat exactly across
two warm iterations with the same seed.
"""

from __future__ import annotations

import json
import os
import time

import pytest

from perfbench import inputs, oracle, probe
from perfbench.run import (
    END_TO_END, PER_LAYER, ROOT, Bench, parse_args, pin_environment, start_spark,
    stop_spark,
)
from perfbench.workloads import WORKLOADS

# counts that must not move between two iterations over the same inputs
REPEATING = (
    "spark.jobs", "spark.tasks", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "materialize.bytes_written",
    "txlog.files_added",
)
# Where the DAG build may differ between two iterations, as a share:
# adaptive execution runs a query's stages as concurrent jobs and may
# cancel one whose sibling finished first, so with four Runner threads the
# job and task counts move by a job or two out of about 350, and the
# shuffle bytes by that job's output (about 0.5%); the order in which
# shuffle blocks are fetched also changes the row order, and so the
# compressed size, of the next shuffle by a few hundred bytes. Every other
# count, and every count of stream_dedup, repeats exactly.
SLACK = {"incremental_merge": {
    "spark.jobs": 0.01, "spark.tasks": 0.01,
    "spark.shuffle_read_bytes": 0.01, "spark.shuffle_write_bytes": 0.01,
}}


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_inputs_repeat_per_seed_and_keep_keys_unique():
    a = inputs.base_bronze(3, 3)
    b = inputs.base_bronze(3, 3)
    c = inputs.base_bronze(4, 3)
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["transaction_items"].equals(c["transaction_items"])
    delta = inputs.delta_bronze(a, 3, 3)
    for name, key in (("transactions", "ID"), ("transaction_items", "ID")):
        assert delta[name][key].is_unique, name
    landed = delta["transactions"]["_AIRBYTE_EXTRACTED_AT"] == inputs.INGEST
    assert landed.sum() > len(a["transactions"]) // 3 // 4  # new copy + updates
    assert (a["transactions"]["_AIRBYTE_EXTRACTED_AT"] < inputs.NOW
            - inputs.dt.timedelta(days=7)).sum() == 2 * len(a["transactions"]) // 3


def test_documents_repeat_per_seed():
    assert inputs.documents(5, 10).equals(inputs.documents(5, 10))
    assert not inputs.documents(5, 10).equals(inputs.documents(6, 10))


def test_oracle_compare_tolerates_only_last_digit_float_noise():
    want = oracle.canonical([{"k": "a", "v": 1.000001}, {"k": "b", "v": None}], ["v", "k"])
    same = oracle.canonical([{"k": "b", "v": None}, {"k": "a", "v": 1.000002}], ["k", "v"])
    off = oracle.canonical([{"k": "a", "v": 1.0001}, {"k": "b", "v": None}], ["k", "v"])
    short = oracle.canonical([{"k": "a", "v": 1.000001}], ["k", "v"])
    assert oracle.mismatch(same, want) is None
    assert "column v" in oracle.mismatch(off, want)
    assert oracle.mismatch(short, want) == "1 rows, oracle 2"


def test_a_late_run_stops_once_every_metric_has_a_value():
    args = parse_args("--workload w --seed 1 --seconds 10 --trace 1".split())
    bench = Bench(args, WORKLOADS["stream_dedup"]("", 1),
                  started=time.perf_counter() - 1000)
    bench.iters = [{"traced": False, "wall_s": 1.0, "elapsed_s": 1.0}]
    assert not bench._done()  # cold only: no warm iteration yet
    bench.iters.append({"traced": False, "wall_s": 1.0, "elapsed_s": 1.0})
    assert not bench._done()  # no traced iteration yet
    bench.iters.append({"traced": True, "wall_s": 1.0, "elapsed_s": 1.0})
    assert bench._done()


def test_union_length():
    assert probe.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert probe.union_length([]) == 0


def _counts(wl, counters, tracer, first):
    wl.reset(first=first)
    tracer.reset()
    wl.instrument(tracer)
    job0 = counters.last_job_id()
    try:
        wl.iterate()
    finally:
        tracer.unwrap()
    jobs = counters.jobs_after(job0)
    out = {f"spark.{k}": v for k, v in probe.summarize_jobs(jobs, 0, 1, 1).items()}
    out.update(wl.layer_metrics(tracer))
    return {k: out.get(k, 0) for k in REPEATING}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    pin_environment(work)
    s = start_spark(work)
    yield s, work
    stop_spark(s)


@pytest.mark.parametrize("name", list(WORKLOADS))
def test_counts_repeat(spark, name):
    session, work = spark
    wl = WORKLOADS[name](os.path.join(work, name), seed=7)
    wl.generate()
    wl.spark = session
    wl.prepare()
    counters = probe.SparkCounters(session)
    tracer = probe.Tracer(session.sparkContext)
    _counts(wl, counters, tracer, first=True)
    a = _counts(wl, counters, tracer, first=False)
    b = _counts(wl, counters, tracer, first=False)
    assert a["spark.jobs"] > 0
    for key in REPEATING:
        slack = SLACK.get(name, {}).get(key, 0)
        assert abs(a[key] - b[key]) <= slack * a[key], (key, a[key], b[key])
