"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import os
import statistics
import sys
from datetime import datetime

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import datagen  # noqa: E402
import workloads as wl  # noqa: E402
from stats import percentile, tail_pct  # noqa: E402


# --- .tail percentile selection ---------------------------------------------

@pytest.mark.parametrize("n, pct", [
    (14, 50), (19, 50), (20, 50), (25, 60), (26, 60), (33, 60), (34, 70), (40, 75),
    (50, 80), (100, 90), (199, 90), (200, 95), (999, 95), (1000, 99),
])
def test_tail_pct_leaves_ten_samples_beyond(n, pct):
    assert tail_pct(n) == pct
    if n >= 20:
        assert n * (100 - pct) / 100 >= 10


def test_percentile_is_a_smooth_order_statistic_average():
    xs = [float(i) for i in range(1, 27)]  # 26 samples
    assert percentile(xs, 50) == pytest.approx(statistics.median(xs), abs=1e-3)
    assert percentile(list(reversed(xs)), 50) == percentile(xs, 50)
    assert 13.5 < percentile(xs, 60) < percentile(xs, 90) < 26.0
    assert percentile([3.0] * 7, 90) == pytest.approx(3.0)
    assert percentile([3.0], 99) == 3.0
    # one sample swapping rank across the median moves the estimate a
    # little, not by the gap between the two middle samples
    lo = [1.0, 1.1, 1.2, 1.3, 2.0, 2.1, 2.2]
    hi = [1.0, 1.1, 1.2, 2.05, 2.0, 2.1, 2.2]
    assert abs(percentile(hi, 50) - percentile(lo, 50)) < 0.5 * (2.0 - 1.3)


# --- failures are counted and the op stays in the mix ------------------------

class _FakeSpark:
    pass


def _runner():
    r = wl.Runner(_FakeSpark(), "test")
    r._release = lambda spark: None
    r._resident = lambda spark: 0
    return r


def _op(name, result, check=lambda out: None):
    def build():
        if isinstance(result, Exception):
            raise result
        return result

    return wl.Op(name, "read", materialize=lambda x: x, build=build, check=check)


def test_raising_and_wrong_ops_count_as_failures_every_pass():
    ops = [
        _op("good", 1, check=lambda out: None if out == 1 else "bad"),
        _op("raises", RuntimeError("boom")),
        _op("wrong", 2, check=lambda out: None if out == 1 else f"{out} != 1"),
    ]
    runner = _runner()
    passes = wl.measure(runner, lambda k: ops, seconds=0, min_passes=2,
                        trace=False, repeatable=True)
    assert [len(p) for p in passes] == [3, 3]
    errors = {(r.pass_no, r.name): r.error for r in runner.records}
    for k in (0, 1):
        assert errors[(k, "good")] is None
        assert errors[(k, "raises")].startswith("RuntimeError: boom")
        assert errors[(k, "wrong")] == "wrong result: 2 != 1"
    assert sum(1 for r in runner.records if r.error) == 4


def test_resident_cache_fails_the_cold_protocol():
    runner = _runner()
    runner._resident = lambda spark: 4096
    rec = runner.run(_op("leaky", 1), 0, False)
    assert rec.error.startswith("cold protocol: 4096 bytes")


# --- cdc batch generation -----------------------------------------------------

def _batches(seed, n=3):
    return list(itertools.islice(datagen.cdc_batches(1_000, 100, seed), n))


def test_cdc_batches_repeat_for_a_seed_and_differ_across_seeds():
    a, b, c = _batches(7), _batches(7), _batches(8)
    assert all(x.orders.equals(y.orders) and x.lines.equals(y.lines) for x, y in zip(a, b))
    assert datagen.cdc_base(1_000, 7).equals(datagen.cdc_base(1_000, 7))
    assert not all(x.orders.equals(y.orders) for x, y in zip(a, c))
    assert not datagen.cdc_base(1_000, 7).equals(datagen.cdc_base(1_000, 8))


def test_cdc_batch_shape():
    first, second = _batches(3, 2)
    for batch, lo in ((first, 1_000), (second, 1_030)):
        keys = batch.orders.column("o_orderkey").to_pylist()
        assert len(keys) == len(set(keys)) == 100
        assert batch.first_new_key == lo
        new = sorted(k for k in keys if k >= lo)
        assert new == list(range(lo, lo + 30))  # 70% updates, 30% new keys
        assert all(k < lo for k in keys if k not in new)
        assert set(batch.lines.column("l_orderkey").to_pylist()) == set(new)


# --- replay model --------------------------------------------------------------

def _orders(rows):
    return pa.table({
        "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
        "o_custkey": pa.array([r[1] for r in rows], pa.int64()),
        "o_orderstatus": pa.array(["O"] * len(rows)),
        "o_totalprice": pa.array([float(r[1]) for r in rows]),
        "o_orderpriority": pa.array(["1-URGENT"] * len(rows)),
    }, schema=datagen.CDC_SCHEMA)


def _lines(keys):
    return pa.table({
        "l_orderkey": pa.array(keys, pa.int64()),
        "l_linenumber": pa.array([1] * len(keys), pa.int32()),
        "l_quantity": pa.array([1.0] * len(keys)),
        "l_extendedprice": pa.array([9.0] * len(keys)),
    }, schema=datagen.LINE_SCHEMA)


def test_replay_matches_hand_worked_three_batches():
    # base: 1->10, 2->20. batch 1: update 1->11, insert 3->30.
    # batch 2: update 3->31, insert 4->40. batch 3: update 1->12, 2->22.
    rp = check.Replay(_orders([(1, 10), (2, 20)]))
    rp.add(datagen.Batch(_orders([(1, 11), (3, 30)]), 3, _lines([3])))
    rp.add(datagen.Batch(_orders([(3, 31), (4, 40)]), 4, _lines([4])))
    rp.add(datagen.Batch(_orders([(1, 12), (2, 22)]), 5, _lines([])))

    def kv(rel):
        return sorted(rp.con.execute(f"SELECT o_orderkey, o_custkey FROM {rel}").fetchall())

    assert kv(rp.upserted(3)) == [(1, 12), (2, 22), (3, 31), (4, 40)]
    assert kv(rp.upserted(1)) == [(1, 11), (2, 20), (3, 30)]
    assert kv(rp.appended(3)) == [(1, 10), (2, 20), (3, 30), (4, 40)]
    assert kv(rp.ws_orders(2)) == [(1, 11), (3, 30), (3, 31), (4, 40)]
    assert rp.expect(rp.ws_lines(3))[0] == 2
    # a result table with the replay's rows has the replay's fingerprint
    assert rp.actual(_orders([(4, 40), (3, 31), (2, 22), (1, 12)])) == rp.expect(rp.upserted(3))
    assert rp.actual(_orders([(1, 12), (2, 22), (3, 31)])) != rp.expect(rp.upserted(3))
    rp.close()


# --- oracle digest normalization ----------------------------------------------

def test_arrow_digest_matches_collect_style_rows():
    cc = check.load_check_correctness(ROOT)
    ts = datetime(2024, 1, 2, 3, 4, 5)
    tbl = pa.table({
        "t": pa.array([ts], pa.timestamp("us", tz="UTC")),
        "s": pa.array([{"a": 1, "b": "x"}]),
        "v": pa.array([[1.5, 2.5]]),
    })
    assert check.arrow_digest(cc, tbl) == (1, cc.table_digest([(ts, (1, "x"), [1.5, 2.5])],
                                                               ["t", "s", "v"]))


def test_fixtures_repeat_for_a_seed(tmp_path):
    a = datagen.fixture_tables(0.001, 5)
    b = datagen.fixture_tables(0.001, 5)
    for name in datagen.TABLES:
        assert pa.table(a[name]).equals(pa.table(b[name]))
    assert not pa.table(a["lineitem"]).equals(pa.table(datagen.fixture_tables(0.001, 6)["lineitem"]))
    datagen.write_fixtures(str(tmp_path), 0.001, 5)
    assert sorted(os.listdir(tmp_path)) == sorted(f"{t}.parquet" for t in datagen.TABLES)


# --- span arithmetic ------------------------------------------------------------

def test_union_s_merges_overlaps_and_clips_to_the_op():
    from tracing import union_s

    assert union_s([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert union_s([(1, 3), (2, 4), (6, 7)], 2.5, 6.5) == 2.0
    assert union_s([], 0, 1) == 0
