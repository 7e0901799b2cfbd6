"""Tests of the benchmark's own logic, plus a tiny-size smoke run of
every workload.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests start one local Spark session; the rest run in
milliseconds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import compare  # noqa: E402
import metrics  # noqa: E402
from spans import Span, classify_tree, cpu_delta, parse_event_log, self_times  # noqa: E402
from stats import percentile, quartiles, spread, tail, tail_percentile  # noqa: E402


# ------------------------------------------------------------ tail rule


def test_tail_percentile_leaves_ten_samples_beyond():
    assert tail_percentile(100) == 90
    assert tail_percentile(40) == 75
    assert tail_percentile(20) == 50
    assert tail_percentile(19) is None
    assert tail_percentile(0) is None
    for n in range(20, 300):
        p = tail_percentile(n)
        vals = list(range(n))
        beyond = sum(v > percentile(vals, p) for v in vals)
        assert beyond >= 10
        # the next whole percentile up would leave fewer than ten
        if p < 99:
            assert sum(v > percentile(vals, p + 1) for v in vals) < 10 or \
                percentile(vals, p + 1) == percentile(vals, p)


def test_tail_value_and_quartiles():
    vals = [float(v) for v in range(1, 41)]
    assert tail(vals) == (75, 30.0)
    assert tail(vals[:19]) is None
    assert quartiles([5.0]) == (5.0, 5.0, 5.0)
    q1, q2, q3 = quartiles([1.0, 2.0, 3.0, 4.0])
    assert (q1, q2, q3) == (1.25, 2.5, 3.75)
    assert spread([1.0, 2.0, 3.0, 4.0]) == pytest.approx(2.5 / 2.5)


# ------------------------------------------------------------ self time


def _span(i, start, end, parent=None):
    return Span(span_id=i, name=f"s{i}", op_id=None, parent=parent, start=start, end=end)


def test_self_time_subtracts_merged_children():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 3.0, parent=1),
        _span(3, 2.0, 5.0, parent=1),  # overlaps span 2: covered [1, 5]
        _span(4, 8.0, 12.0, parent=1),  # runs past its parent: covers [8, 10]
        _span(5, 1.5, 2.5, parent=2),  # grandchild: only reduces span 2
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[2] == pytest.approx(2.0 - 1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[5] == pytest.approx(1.0)


# ------------------------------------------------------- CPU by role


def _procs():
    # pid: (ppid, ticks, starttime, comm)
    return {
        100: (1, 50, 10, "python3"),
        200: (100, 500, 11, "java"),
        300: (200, 40, 12, "python3.11"),  # worker daemon
        301: (300, 30, 13, "python3.11"),  # forked worker
        400: (100, 7, 14, "sh"),
        500: (200, 3, 15, "bash"),
        900: (1, 999, 16, "java"),  # not ours
    }


def test_classify_tree_roles():
    roles = {pid: role for (pid, _s), (role, _t) in classify_tree(_procs(), 100).items()}
    assert roles == {100: "driver_py", 200: "jvm", 300: "py_workers",
                     301: "py_workers", 400: "other", 500: "jvm"}


def test_cpu_delta_churn_never_inflates():
    start = classify_tree(_procs(), 100)
    procs = _procs()
    del procs[301]  # a worker exited mid-window
    procs[302] = (300, 20, 17, "python3.11")  # a worker born mid-window
    procs[300] = (200, 45, 12, "python3.11")
    procs[200] = (100, 600, 11, "java")
    procs[555] = (100, 8, 99, "python3")  # recycled pid 400 ... as other pid
    end = classify_tree(procs, 100)
    d = cpu_delta(start, end, clk=10)
    assert d["jvm"] == pytest.approx(10.0)
    assert d["py_workers"] == pytest.approx((5 + 20) / 10)
    assert d["driver_py"] == 0.0
    assert all(v >= 0 for v in d.values())
    # a recycled pid with a new start time counts from zero, not as a delta
    procs2 = dict(procs)
    procs2[200] = (100, 5, 999, "java")
    d2 = cpu_delta(start, classify_tree(procs2, 100), clk=10)
    assert d2["jvm"] == pytest.approx(0.5)


# ---------------------------------------------------------- event log


def test_event_log_attributes_tasks_to_first_claiming_group():
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "7"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "JVM GC Time": 500,
            "Memory Bytes Spilled": 10, "Disk Bytes Spilled": 5,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2}}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "8"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {}},
    ]
    out = parse_event_log(json.dumps(e) for e in ev)
    assert out["7"] == {"jobs": 1, "tasks": 1, "executor_cpu_s": 2.0,
                        "shuffle_write_bytes": 100, "shuffle_read_bytes": 3,
                        "spill_bytes": 15, "gc_s": 0.5}
    assert out["8"]["jobs"] == 1 and out["8"]["tasks"] == 1
    assert set(out) == {"7", "8"}


# ------------------------------------------------------------ verdicts


def test_compare_verdicts():
    base = {s: 10.0 + 0.1 * s for s in range(10)}  # 10.0 .. 10.9
    assert compare.verdict(base, {s: v * 0.8 for s, v in base.items()}, "lower", 0.1) == "better"
    assert compare.verdict(base, {s: v * 1.3 for s, v in base.items()}, "lower", 0.1) == "worse"
    assert compare.verdict(base, {s: v * 1.05 for s, v in base.items()}, "lower", 0.1) == "within"
    # a small win that does not clear the base's own spread is not a gain
    assert compare.verdict(base, {s: v - 0.05 for s, v in base.items()}, "lower", 0.1) == "within"
    # higher-is-better flips the direction
    assert compare.verdict(base, {s: v * 0.8 for s, v in base.items()}, "higher", 0.1) == "worse"
    noisy = {s: (5.0 if s % 2 else 15.0) for s in range(10)}
    assert compare.verdict(noisy, base, "lower", 0.1) == "unresolved"
    # ... unless every change run beats every base run
    assert compare.verdict(noisy, {s: 1.0 + 0.01 * s for s in range(10)}, "lower", 0.1) == "better"


def test_per_layer_names_fit_the_contract():
    names = [n for n, _u in metrics.per_layer_names()]
    assert len(names) == len(set(names)) <= 128
    assert all(len(n) <= 64 for n in names)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["per_layer"]] == names
    assert {m["name"] for m in spec["end_to_end"]} == set(metrics.E2E_UNITS)


def test_timed_phase_runs_whole_cycles_or_exactly_max_ops():
    import run
    from spans import Tracer

    class FakeSpark:
        class catalog:
            @staticmethod
            def clearCache():
                pass

    class Wl:
        def __init__(self, cycle, max_ops):
            self.cycle, self.max_ops = cycle, max_ops

        def op(self, i):
            from workloads import Op
            return Op("k", 1, lambda: i, lambda r: None)

    tracer = Tracer()
    assert run.timed_phase(FakeSpark, Wl(1, 1), tracer, 60.0)["attempted"] == 1
    n = run.timed_phase(FakeSpark, Wl(6, None), tracer, 0.05)["attempted"]
    assert n >= 6 and n % 6 == 0


# -------------------------------------------------------------- checks


def test_query_check_catches_filter_fill_and_deleted_rows():
    from workloads import CheckFailed, check_query_rows

    rows = [{"id": str(i), "metadata": {"topic": "3"}, "document": "a zqmark"}
            for i in range(10)]
    check_query_rows(rows, {"topic": 3}, {"$contains": "zqmark"}, 50)
    with pytest.raises(CheckFailed):
        check_query_rows(rows[:9], {"topic": 3}, None, 50)  # under-filled
    check_query_rows(rows[:4], {"topic": 3}, None, 4)  # fewer matches exist
    with pytest.raises(CheckFailed):
        check_query_rows(rows, {"topic": 4}, None, 50)
    with pytest.raises(CheckFailed):
        check_query_rows(rows, None, {"$contains": "other"}, 50)
    with pytest.raises(CheckFailed):
        check_query_rows(rows, None, None, 50, dead={"3"})
    with pytest.raises(CheckFailed):
        check_query_rows(rows[:9] + rows[:1], None, None, 50)  # duplicate id


def test_ingest_check_accounts_for_every_row():
    from types import SimpleNamespace

    from workloads import CheckFailed, check_ingest

    check_ingest(SimpleNamespace(rows_in=990, rows_written=985, rows_rejected=5), 1000, 10)
    with pytest.raises(CheckFailed):  # dropped a row without a null
        check_ingest(SimpleNamespace(rows_in=989, rows_written=989, rows_rejected=0), 1000, 10)
    with pytest.raises(CheckFailed):  # lost a row after the source
        check_ingest(SimpleNamespace(rows_in=990, rows_written=989, rows_rejected=0), 1000, 10)


def test_score_check_and_recall():
    import numpy as np
    from workloads import CheckFailed, check_scores, recall_of

    vecs = {"a": np.array([1.0, 0.0]), "b": np.array([1.0, 1.0])}
    q = np.array([1.0, 0.0])
    rows = [{"id": "a", "score": 1.0}, {"id": "b", "score": 2 ** -0.5}]
    check_scores(rows, q, vecs.__getitem__)
    with pytest.raises(CheckFailed):
        check_scores([{"id": "b", "score": 0.9}], q, vecs.__getitem__)
    assert recall_of(rows, ["a", "c"]) == 0.5


def test_no_engine_checkout_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_filtered",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout == ""


# --------------------------------------------------------------- smoke


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    import run
    from spans import Tracer

    work = str(tmp_path_factory.mktemp("perfbench"))
    run.configure_env(work, trace=False)
    from vector_databases___hydrate_chroma_db_collection_spark import get_spark

    spark = get_spark(master="local[2]", shuffle_partitions=2)
    yield run.Ctx(spark, Tracer(spark, enabled=True), work, 5)
    run.stop_spark(spark)


def _tiny(cls, **sizes):
    return type("Tiny" + cls.__name__, (cls,), sizes)


def _exercise(ctx, cls, n_ops):
    wl = cls(ctx)
    wl.build()
    wl.warm()
    ctx.tracer.phase = "timed"
    for i in range(n_ops):
        op = wl.op(i)
        op.check(op.call())
    ctx.tracer.phase = "setup"
    return wl


def test_smoke_serve_filtered(ctx):
    from workloads import ServeFiltered

    wl = _exercise(ctx, _tiny(ServeFiltered, rows=2_000, n_cells=8, pool=2,
                              recall_queries=4, upsert_replace=3), 3)
    assert 0.0 < wl.quality() <= 1.0
    assert all(len(v) >= 2 for v in wl.recalls.values())
    assert {"new0", "new1"} <= wl.dead and len(wl.dead) == 2 + wl.n_null
    # the numpy oracle behind the recall figure agrees with the engine's
    # exact door, filters included
    from vector_databases___hydrate_chroma_db_collection_spark.plans import chroma_api

    for kind in ("none", "spread", "topic"):
        q, where, wdoc, truth, _n = wl.queries[kind][0]
        got = [r["id"] for r in chroma_api.collection_query(
            ctx.spark, wl.root, "reviews", q, 10, where=where,
            where_document=wdoc).collect()]
        assert got == truth, kind
    names = {s.name for s in ctx.tracer.spans}
    assert {"plans.chroma_api.query_ivf", "plans.chroma_api.query_batch_ivf",
            "plans.chroma_api.upsert", "plans.chroma_api.delete_indexed",
            "operators.hydrate.hydrate", "operators.ann.ivf_write"} <= names
    rounds = [s.counters["rounds"] for s in ctx.tracer.spans
              if s.name == "plans.chroma_api.query_ivf"]
    assert max(rounds) > 1  # the far-topic filter widened the probe


def test_smoke_dedup_minhash(ctx):
    from workloads import DedupMinhash

    wl = _exercise(ctx, _tiny(DedupMinhash, docs=1_500, pairs=40, cluster=300), 1)
    assert 0.5 < wl.quality() <= 1.0


def test_smoke_mutate_mixed(ctx):
    from workloads import MutateMixed

    wl = _exercise(ctx, _tiny(MutateMixed, rows=1_000, n_cells=4, n_buckets=4,
                              upsert_replace=3, upsert_new=3, delete_n=3), 6)
    assert wl.dead


def test_smoke_ingest_wide(ctx):
    from workloads import IngestWide

    wl = _tiny(IngestWide, rows=1_000, n_cells=4)(ctx)
    wl.build()
    op = wl.op(0)
    op.check(op.call())
    assert op.extras["stored_bytes_per_input_byte"] > 0
