"""The benchmark's own tests. They need no Spark session:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import sys
from datetime import datetime

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import ingest  # noqa: E402
import queries  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from tracing import Tracer  # noqa: E402


def test_tail_leaves_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = stats.tail(samples)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(s > value for s in samples) == 10


def test_tail_with_few_samples_is_a_low_percentile():
    value, pct, n = stats.tail([5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0, 12.0])
    assert (value, n) == (2.0, 12)
    assert pct == pytest.approx(100 * 2 / 12)


def test_tail_needs_more_samples_than_beyond():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)


def test_same_seed_same_query_order_other_seed_other_order():
    for names in workloads.QUERY_WORKLOADS.values():
        assert queries.query_order(names, 7) == queries.query_order(names, 7)
        assert queries.query_order(names, 7) != queries.query_order(names, 8)
        assert sorted(queries.query_order(names, 7)) == sorted(names)


def test_same_seed_same_ingest_files(tmp_path):
    from sales_data_pipeline_gcp_spark.sources.sales import generate_rows, write_csv

    def files(seed, d):
        d.mkdir()
        for i, s in enumerate(ingest.file_seeds(seed, 3)):
            write_csv(str(d / f"{i}.csv"), generate_rows(50, seed=s))
        return [str(d / f"{i}.csv") for i in range(3)]

    a, b, c = files(1, tmp_path / "a"), files(1, tmp_path / "b"), files(2, tmp_path / "c")
    assert all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))
    assert not any(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, c))


def _row(product, price, quantity, total):
    return {"product": product, "price": price, "quantity": quantity, "total": total,
            "ordered_at": datetime(2023, 5, 1), "delivery_at": datetime(2023, 5, 6, 12, 30)}


def test_ingest_reference_counts_on_tiny_input():
    rows = [
        _row("Laptops", None, None, None),          # all-null: dropped
        _row("Laptops", 50000.0, 2, 100000.0),      # complete: passes
        _row("Tablets", 5000.0, None, 15000.0),     # quantity imputed: 3
        _row("Laptops", 50000.0, 2, None),          # total imputed: 100000
        _row("Headphones", None, None, 9000.0),     # NULL price: quantity stays NULL
        _row("Tablets", 0.0, None, 5000.0),         # zero price: quantity stays NULL
        _row("Mobile Phones", 10000.5, 3, None),    # total rounded to 2 places
    ]
    counts, out = ingest.expected(rows)
    assert counts == {"rows_in": 7, "all_null_dropped": 1, "quantity_imputed": 1,
                      "total_imputed": 2, "rows_written": 6}
    ts = ("2023-05-01 00:00:00", "2023-05-06 12:30:00")
    assert out == {
        ("Laptops", 50000.0, 2, 100000.0) + ts: 2,
        ("Tablets", 5000.0, 3, 15000.0) + ts: 1,
        ("Headphones", None, None, 9000.0) + ts: 1,
        ("Tablets", 0.0, None, 5000.0) + ts: 1,
        ("Mobile Phones", 10000.5, 3, 30001.5) + ts: 1,
    }


def test_ingest_reference_narrows_to_float32():
    counts, out = ingest.expected([_row("Laptops", 0.1, 1, None)])
    (row,) = out
    assert row[1] == row[3] != 0.1  # 0.1 is not a float32 value
    assert counts["total_imputed"] == 1


def test_failed_frac_counts_wrong_and_raising_queries():
    def check_one(name):
        if name == "q_wrong":
            raise AssertionError("1 row mismatch")
        if name == "q_raises":
            raise RuntimeError("executor lost")

    names = ["q_ok_1", "q_wrong", "q_ok_2", "q_raises"]
    tally = stats.Tally()
    tally.check(names, check_one, threads=2)
    assert set(tally.wrong) == {"q_wrong", "q_raises"}
    # one timed pass in which q_ok_2 and q_raises raise: every execution of
    # a wrong query fails, as does every execution that raises
    for n in names:
        tally.timed(n, ok=n in ("q_ok_1", "q_wrong"))
    assert (tally.attempted, tally.failed) == (8, 5)
    assert stats.failed_frac(tally.attempted, tally.failed) == 5 / 8


def test_failed_frac_is_zero_when_all_pass():
    tally = stats.Tally()
    tally.check(["a", "b"], lambda _: None)
    for n in ("a", "b"):
        tally.timed(n, ok=True)
    assert stats.failed_frac(tally.attempted, tally.failed) == 0.0


def test_workloads_hold_no_duplicate_and_declare_every_metric():
    for names in workloads.QUERY_WORKLOADS.values():
        assert len(set(names)) == len(names)
    assert set(workloads.WHY) == {"olap", "iterative", "ingest"}
    for _, (unit, better, _) in {**workloads.END_TO_END, **workloads.PER_LAYER}.items():
        assert unit and better in ("lower", "higher")


def test_wrapped_calls_become_child_spans_and_self_time_excludes_them():
    import types
    import time

    mod = types.SimpleNamespace(read=lambda: time.sleep(0.02), write=lambda: time.sleep(0.03))
    original = mod.read
    tracer = Tracer("run-1", enabled=True)
    with tracer.wrapped(mod, "read", "io.read"), tracer.wrapped(mod, "write", "io.write"):
        with tracer.span("append"):
            mod.read()
            mod.write()
            time.sleep(0.05)
    assert mod.read is original  # unwrapped when the context closes
    assert [(s["name"], s["parent"], s["run"]) for s in tracer.spans] == [
        ("append", None, "run-1"), ("io.read", 0, "run-1"), ("io.write", 0, "run-1")]
    own = tracer.self_seconds("append")
    assert own == pytest.approx(tracer.seconds("append") - tracer.seconds("io.read") - tracer.seconds("io.write"))
    assert 0.04 < own < tracer.seconds("append")


def test_disabled_tracer_records_nothing():
    tracer = Tracer("run-2", enabled=False)
    with tracer.span("query"):
        pass
    assert tracer.spans == [] and tracer.seconds("query") == 0
