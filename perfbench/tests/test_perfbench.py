"""Tests for the benchmark's own pieces: generator determinism, the models
against the program on tiny inputs, the tail rule, span self time and
failure accounting.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import gen  # noqa: E402
from spans import Span, Tracer, inclusive_counts, self_times  # noqa: E402
from stats import Ops, tail, tree_bytes  # noqa: E402

# -- generator ---------------------------------------------------------------


def test_cdc_hours_deterministic():
    a, b = gen.CdcHours(11), gen.CdcHours(11)
    for i in (0, 3):
        ha, hb = a.hour(i), b.hour(i)
        assert ha.files == hb.files
        assert ha.valid == hb.valid and ha.invalid == hb.invalid
    assert gen.CdcHours(12).hour(3).files != a.hour(3).files


def test_cdc_hour_mix_matches_params():
    p = gen.CdcParams()
    h = gen.CdcHours(5, p).hour(4)
    assert h.events == p.events_per_hour
    assert len(h.files) == p.files_per_hour
    assert len(h.partitions()) == 2  # on-time hour + late events for hour 3
    n_valid = sum(len(v) for v in h.valid.values())
    assert n_valid + sum(h.invalid.values()) == h.useful_rows
    assert sum(h.invalid.values()) > 0


def test_gold_traffic_deterministic():
    params = gen.GoldParams(hours=4, rows_per_hour=50, update_batch=20)
    a, b = gen.GoldTraffic(3, params), gen.GoldTraffic(3, params)
    assert a.seed_rows == b.seed_rows
    for k in range(3):
        ba, bb = a.batch(k), b.batch(k)
        assert ba == bb
        a.apply(ba)
        b.apply(bb)
    assert gen.rows_hash(a.model.values()) == gen.rows_hash(b.model.values())
    assert len(a.model) > 4 * 50  # new keys landed


def test_star_deterministic(tmp_path):
    p = gen.StarParams(scale=0.002)
    ra = gen.write_star(str(tmp_path / "a"), 9, p)
    rb = gen.write_star(str(tmp_path / "b"), 9, p)
    assert ra == rb
    names = sorted(os.listdir(tmp_path / "a"))
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert mismatch == [] and errors == []


def test_rows_hash_order_insensitive():
    rows = [("a", "t1", 1.5, 2), ("b", "t2", 0.25, 3)]
    assert gen.rows_hash(rows) == gen.rows_hash(reversed(rows))
    assert gen.rows_hash(rows) != gen.rows_hash(rows[:1])


# -- statistics ----------------------------------------------------------------


@pytest.mark.parametrize(
    "n, p",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_rule_highest_percentile_with_ten_beyond(n, p):
    xs = list(range(n, 0, -1))  # unsorted on purpose
    got = tail(xs)
    if p is None:
        assert got is None
        return
    pct, value, count = got
    assert pct == p and count == n
    assert sum(1 for x in xs if x > value) >= 10


def test_self_time_nested_spans():
    spans = [
        Span(0, "root", None, "op", 0.0, 10.0),
        Span(1, "a", 0, "op", 1.0, 3.0),
        Span(2, "b", 0, "op", 2.0, 5.0),  # overlaps a: union 1..5
        Span(3, "b.child", 2, "op", 2.5, 4.5),
        Span(4, "c", 0, "op", 7.0, 8.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 2.0)
    assert st[3] == pytest.approx(2.0)


def test_inclusive_counts_sum_descendants():
    spans = [
        Span(0, "root", None, None, 0, 1, jobs=1, stages=1, tasks=4),
        Span(1, "child", 0, None, 0, 1, jobs=2, stages=3, tasks=8),
        Span(2, "grandchild", 1, None, 0, 1, jobs=1, stages=1, tasks=1),
    ]
    assert inclusive_counts(spans) == {0: (4, 5, 13), 1: (3, 4, 9), 2: (1, 1, 1)}


def test_tracer_nesting_and_unwrap():
    class Layer:
        def work(self, x):
            return x * 2

    tr = Tracer()
    tr.wrap(Layer, "work", "layer.work")
    tr.op = "cycle-1"
    with tr.span("outer"):
        assert Layer().work(3) == 6
    tr.unwrap_all()
    assert "work" in Layer.__dict__ and Layer().work(2) == 4
    assert [(s.name, s.parent, s.op) for s in tr.spans] == [
        ("outer", None, "cycle-1"),
        ("layer.work", 0, "cycle-1"),
    ]
    assert len(tr.spans) == 2  # unwrapped calls record nothing


def test_failure_accounting():
    ops = Ops()
    assert ops.run("ok", lambda: 1, lambda r: r == 1) == 1
    assert ops.run("raises", lambda: 1 / 0) is None
    ops.run("wrong", lambda: 2, lambda r: r == 1)
    ops.run("check raises", lambda: 2, lambda r: r["missing"])
    ops.verify("final", lambda: True)
    ops.verify("final wrong", lambda: False)
    assert (ops.attempted, ops.failed) == (6, 4)
    assert len(ops.errors) == 4


def test_watchdog_expiry_inside_an_operation_ends_the_run(tmp_path):
    import signal
    import time

    import run

    ops = Ops()
    run._watchdog(1, str(tmp_path))
    try:
        with pytest.raises(run.RunTimeout):
            ops.run("hangs", lambda: time.sleep(30))
            ops.run("after", lambda: None)  # never reached
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, signal.SIG_DFL)
    # the expiry is not swallowed as one failed operation
    assert (ops.attempted, ops.failed) == (1, 0)


def test_tree_bytes_counts_hard_links_once(tmp_path):
    (tmp_path / "v1").mkdir()
    (tmp_path / "v2").mkdir()
    (tmp_path / "v1" / "f").write_bytes(b"x" * 100)
    os.link(tmp_path / "v1" / "f", tmp_path / "v2" / "f")
    (tmp_path / "v2" / "g").write_bytes(b"y" * 10)
    assert tree_bytes(str(tmp_path)) == 110


# -- models against the program on tiny inputs (starts a SparkSession) --------


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    # Python workers (the txn data source) import the program too
    root = os.path.dirname(BENCH)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    from rxlan_aws_lakehouse_spark.session import get_spark

    s = get_spark("perfbench-tests")
    yield s
    s.stop()


def test_cdc_model_matches_program(spark, tmp_path):
    from rxlan_aws_lakehouse_spark.pipeline import load_gold, run_batch
    from rxlan_aws_lakehouse_spark.streaming.cdc import forward_cdc

    p = gen.CdcParams(events_per_hour=200, files_per_hour=2, n_cities=20)
    feed = gen.CdcHours(21, p)
    landing, bronze, gold = (str(tmp_path / d) for d in ("landing", "bronze", "gold"))
    os.makedirs(landing)
    model, invalid, quarantined = {}, 0, {}
    for i in range(2):
        h = feed.hour(i)
        for name, body in h.files:
            with open(os.path.join(landing, name), "wb") as f:
                f.write(body)
        q = forward_cdc(spark, landing, bronze, str(tmp_path / "ckpt"), available_now=True)
        q.awaitTermination()
        for dt, hr in h.partitions():
            quarantined[(dt, hr)] = run_batch(spark, bronze, gold, dt=dt, hour=hr).quarantined_rows
        for rows in h.valid.values():
            model.update(rows)
        invalid += sum(h.invalid.values())
    got = load_gold(spark, gold).selectExpr(*gen.MODEL_COLUMNS).collect()
    assert len(got) == len(model)
    assert gen.rows_hash(tuple(r) for r in got) == gen.rows_hash(model.values())
    assert sum(quarantined.values()) == invalid


def test_gold_model_matches_program_merge(spark, tmp_path):
    from rxlan_aws_lakehouse_spark.pipeline import write_gold
    from rxlan_aws_lakehouse_spark.sql_dml import TxnSqlRouter
    from rxlan_aws_lakehouse_spark.txn import TxnTable

    import workloads

    traffic = gen.GoldTraffic(8, gen.GoldParams(hours=3, rows_per_hour=40, update_batch=20, n_cities=10))
    root = str(tmp_path / "gold")
    write_gold(spark.createDataFrame(traffic.seed_rows, gen.GOLD_DDL), root)
    router = TxnSqlRouter(spark)
    router.register("gold", root)
    for k in range(2):
        batch = traffic.batch(k)
        spark.createDataFrame(batch, gen.GOLD_DDL).createOrReplaceTempView("upd")
        router.sql(workloads.MERGE_SQL).collect()
        traffic.apply(batch)
    part = ("2024-03-01", "02")
    exp = workloads._gold_expected(traffic.model, part)
    for kind in workloads.GOLD_READS:
        rows = router.sql(workloads._gold_read_sql(kind, part)).collect()
        assert workloads._gold_check(kind, rows, exp), kind
    got = TxnTable(root).read(spark).selectExpr(*gen.MODEL_COLUMNS).collect()
    assert gen.rows_hash(tuple(r) for r in got) == gen.rows_hash(traffic.model.values())


def test_same_result_tolerates_only_a_rounding_boundary():
    import pandas as pd

    import workloads

    a = pd.DataFrame({"n": ["x", "y"], "v": [1467968.34, 0.8333]})
    b = pd.DataFrame({"n": ["y", "x"], "v": [0.8334, 1467968.33]})
    assert workloads.same_result(a, b)
    assert not workloads.same_result(a, pd.DataFrame({"n": ["y", "x"], "v": [0.8336, 1467968.33]}))
    assert not workloads.same_result(a, pd.DataFrame({"n": ["y", "z"], "v": [0.8333, 1467968.34]}))
    assert not workloads.same_result(a, pd.DataFrame({"n": ["x"], "v": [1467968.34]}))
    assert workloads.same_result(
        pd.DataFrame({"v": [0.1 + 0.2]}), pd.DataFrame({"v": [0.3]})
    )


@pytest.mark.parametrize(
    "a, b",
    [(2.5, 2.6), (3.0, 3.1), (12345.0, 12345.1), (0.25, 0.2), (1.25, 1.27), (1e20, 1.1e20)],
)
def test_float_eq_rejects_beyond_a_rounding_boundary(a, b):
    import workloads

    assert not workloads._float_eq(a, b)
    assert not workloads._float_eq(b, a)


def test_float_eq_accepts_one_unit_at_two_or_more_places():
    import workloads

    assert workloads._float_eq(1467968.33, 1467968.34)
    assert workloads._float_eq(0.8333, 0.8334)
    assert not workloads._float_eq(float("nan"), 1.0)
