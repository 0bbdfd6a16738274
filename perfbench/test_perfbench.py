"""Self-tests of the benchmark, at sf0.001 and one-second runs.

    python3 -m pytest perfbench/test_perfbench.py -q

The first group needs no Spark; it includes the trace checks of
``batch_headline``, fed spans and jobs that must fail them.  The second
runs each workload once, traced, and checks that every metric
BENCHMARK.json names comes out with its unit; the last injects a wrong
answer and checks that it is counted in ``failed`` and makes the run
incorrect.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import batch_headline  # noqa: E402
import datagen  # noqa: E402
import harness  # noqa: E402
import lake_ingest  # noqa: E402
import run  # noqa: E402
import sql_serving  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec():
    with open(harness.ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


# --- no Spark -----------------------------------------------------------------


def test_benchmark_json_shape(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"]
    assert 1 <= spec["run_seconds"] <= 60
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_every_batch_row_and_family_is_declared(spec):
    declared = {m["name"] for m in spec["per_layer"]}
    for row in batch_headline.ROWS:
        assert f"jobs.{row}" in declared
    assert set(batch_headline.ROWS.values()) == set(batch_headline.FAMILIES)
    for fam in batch_headline.FAMILIES:
        for k in ("build_s", "eager_jobs", "action_s", "action_jobs"):
            assert f"ops.{fam}.{k}" in declared


def test_host_resources_are_derived_from_the_host():
    res = harness.host_resources()
    assert res["spark_graft_cpus"] == len(os.sched_getaffinity(0))
    heap = int(res["spark_graft_driver_mem"].rstrip("g"))
    assert 1 <= heap <= harness.HEAP_CAP_GB
    assert heap <= res["mem_total_mb"] / 1024 * harness.HEAP_SHARE + 1


def test_inputs_follow_the_seed(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    datagen.generate(a, 5, 0.001)
    datagen.generate(b, 5, 0.001)
    datagen.generate(c, 6, 0.001)
    from iceberg_kafka_playgroud_spark.schema import FIXTURE_TABLES

    for t in FIXTURE_TABLES:
        ta = open(os.path.join(a, f"{t}.parquet"), "rb").read()
        assert ta == open(os.path.join(b, f"{t}.parquet"), "rb").read()
    assert open(os.path.join(a, "lineitem.parquet"), "rb").read() != open(os.path.join(c, "lineitem.parquet"), "rb").read()
    counts = {"orders": 1500, "customer": 150}
    reqs = [r.sql or r.route for r in sql_serving.make_requests(5, counts, 50)]
    assert reqs == [r.sql or r.route for r in sql_serving.make_requests(5, counts, 50)]
    assert reqs != [r.sql or r.route for r in sql_serving.make_requests(6, counts, 50)]


def test_mix_gives_every_kind_the_same_share():
    kinds = {
        "lookup_order": "lookup", "lookup_customer": "lookup", "filter_limit": "filter",
        "agg_lineitem": "aggregate", "agg_orders": "aggregate",
        "join_customer_orders": "join", "join_lineitem_orders_customer": "join",
        "tables": "tables", "table": "table",
    }
    per_kind = [kinds[s] for s in sql_serving.BLOCK]
    assert {per_kind.count(k) for k in set(kinds.values())} == {len(sql_serving.BLOCK) // 6}


def _trace(build_s: float, action_s: float, n_jobs: int, op: str):
    spans = {
        (op, "build"): harness.Span(1, 0, "build", op, 0.0, build_s),
        (op, "action"): harness.Span(2, 0, "action", op, build_s, build_s + action_s),
    }
    jobs = [harness.Job(i, build_s, build_s + action_s, op, []) for i in range(n_jobs)]
    return spans, jobs


def test_trace_checks_catch_short_spans_and_unsteady_job_counts():
    rec, spans, by_op = [], {}, {}
    # (row, wall, build, action, jobs): pass 1 sets the job counts
    cases = [
        ("q1", 1.00, 0.20, 0.79, 4),  # pass 1, covered 0.99
        ("q6", 1.00, 0.30, 0.65, 2),  # pass 1, covered 0.95
        ("q1", 1.00, 0.20, 0.60, 4),  # pass 2, covered 0.80: fails
        ("q6", 1.00, 0.30, 0.65, 3),  # pass 2, one job more: fails
    ]
    for i, (row, wall, build, action, n) in enumerate(cases):
        op = f"op{i}"
        sp, jobs = _trace(build, action, n, op)
        spans.update(sp)
        by_op[op] = jobs
        rec.append(("recompute", row, op, wall))
    fails = batch_headline.trace_failures(rec, spans, by_op)
    assert len(fails) == 2
    assert fails[0].startswith("q1 (op2): build + action spans cover 0.80")
    assert fails[1] == "q6 (op3): 3 jobs, 2 on the first recompute pass"
    assert batch_headline.trace_failures(rec[:2], spans, by_op) == []


def test_sandbox_removes_the_checkpoints_it_left(tmp_path, monkeypatch):
    shm = tmp_path / "shm"
    (shm / "old_ckpt_1").mkdir(parents=True)
    monkeypatch.setattr(harness, "SHM_CHECKPOINTS", str(shm / "*_ckpt_*"))
    monkeypatch.setattr(harness, "ROOT", tmp_path)
    monkeypatch.setattr(harness.tempfile, "tempdir", harness.tempfile.tempdir)
    env = dict(os.environ)
    try:
        with harness.Sandbox("t"):
            (shm / "ingest_ckpt_2").mkdir()
    finally:
        os.environ.clear()
        os.environ.update(env)
    assert sorted(p.name for p in shm.iterdir()) == ["old_ckpt_1"]


def test_statistics_helpers():
    assert harness.p90(list(range(11))) == 9
    assert harness.p90([0, 10]) == 9
    assert harness.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert harness.union_length([(1, 0), (2, 2)]) == 0
    assert harness.steal_share([0] * 10, [10, 0, 0, 70, 0, 0, 0, 20, 5, 5]) == 0.2


# --- with Spark -----------------------------------------------------------------


@pytest.fixture
def small(monkeypatch):
    """Shrink every workload to sf0.001-sized inputs."""
    monkeypatch.setattr(sql_serving, "SF", 0.001)
    monkeypatch.setattr(sql_serving, "MIN_REQUESTS", 12)
    monkeypatch.setattr(batch_headline, "SF", 0.001)
    monkeypatch.setattr(lake_ingest, "SLICE_EVENTS", 1000)
    monkeypatch.setattr(lake_ingest, "WARM_EVENTS", 200)
    monkeypatch.setattr(lake_ingest, "POOL_APPENDS", 40)
    monkeypatch.setattr(lake_ingest, "APPEND_ROWS", 50)
    monkeypatch.setattr(lake_ingest, "TAIL_RESERVE_S", 0.0)
    monkeypatch.setattr(run, "SETUP_REPS", 1)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_every_metric_is_reported_with_its_unit(small, spec, workload):
    out = run.run(workload, seed=3, seconds=1, trace=True)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    for kind in ("end_to_end", "per_layer"):
        got = out[kind]
        assert list(got) == [m["name"] for m in spec[kind]]
        for m in spec[kind]:
            assert got[m["name"]]["unit"] == m["unit"]
            assert isinstance(got[m["name"]]["value"], float)
    for m in spec["end_to_end"]:
        assert out["end_to_end"][m["name"]]["value"] > 0


def test_wrong_answer_is_counted(small, monkeypatch):
    from iceberg_kafka_playgroud_spark.api import server

    honest = server._json_rows
    monkeypatch.setattr(server, "_json_rows", lambda df, limit: honest(df, limit)[:-1])
    out = run.run("sql_serving", seed=3, seconds=1, trace=False)
    assert out["failed"] >= 1
    assert not out["correct"]
