"""Self-tests of the benchmark's helpers. They start no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math
import os
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import fixtures  # noqa: E402
import report  # noqa: E402
import workloads  # noqa: E402
from stats import beyond, clip, percentile, tail_percentile, union_length  # noqa: E402
from tracing import Span, Tracer, self_times  # noqa: E402


# -- the percentile rule ------------------------------------------------------
def test_p90_needs_ten_samples_beyond_it():
    assert beyond(100, 0.9) == 10
    assert tail_percentile(100) == 0.9
    assert beyond(92, 0.9) == 10
    assert tail_percentile(92) == 0.9
    assert beyond(91, 0.9) == 9
    assert tail_percentile(91) == 0.75
    assert tail_percentile(1000) == 0.99
    assert tail_percentile(20) == 0.5
    assert tail_percentile(19) is None
    for n in range(1, 400):
        q = tail_percentile(n)
        if q is not None:
            assert beyond(n, q) >= 10
            assert sum(x > percentile(list(range(n)), q) for x in range(n)) >= 10


def test_percentile_interpolates_and_failures_push_it_up():
    xs = [float(i) for i in range(1, 102)]
    assert percentile(xs, 0.5) == 51.0
    assert percentile(xs, 0.9) == 91.0
    assert percentile([1.0, 2.0], 0.5) == 1.5
    with_failures = xs[:-15] + [math.inf] * 15
    assert percentile(with_failures, 0.9) == math.inf
    assert percentile(with_failures, 0.5) == percentile(xs, 0.5)


# -- self time with nested spans ------------------------------------------------
def test_self_time_subtracts_children_and_sums_to_wall():
    spans = [
        Span(1, 1, None, "op.q", 0.0, 10.0),
        Span(2, 1, 1, "plans.build", 1.0, 5.0),
        Span(3, 1, 2, "tables.table", 2.0, 3.0),
        Span(4, 1, 2, "tables.table", 3.5, 4.0),
        Span(5, 1, 1, "plans.collect", 6.0, 9.0),
    ]
    st = self_times(spans)[1]
    assert st["op.q"] == 10.0 - 4.0 - 3.0
    assert st["plans.build"] == 4.0 - 1.5
    assert st["tables.table"] == 1.5
    assert st["plans.collect"] == 3.0
    assert math.isclose(sum(st.values()), 10.0)


def test_child_outside_its_parent_only_counts_where_they_overlap():
    spans = [
        Span(1, 1, None, "op.q", 0.0, 2.0),
        Span(2, 1, 1, "lakehouse.scan", 1.0, 3.0),
    ]
    st = self_times(spans)[1]
    assert st["op.q"] == 1.0
    assert st["lakehouse.scan"] == 2.0


def test_tracer_nests_spans_per_thread_and_skips_untraced_ops():
    tr = Tracer()

    def client(traced):
        with tr.op("read", traced=traced):
            with tr.span("lakehouse.scan"):
                with tr.span("tables.table"):
                    pass

    threads = [threading.Thread(target=client, args=(t,)) for t in (True, True, False)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
        assert not t.is_alive()
    roots = [s for s in tr.spans if s.parent is None]
    assert len(roots) == 2
    for root in roots:
        mine = {s.name: s for s in tr.spans if s.op == root.sid}
        assert mine["lakehouse.scan"].parent == root.sid
        assert mine["tables.table"].parent == mine["lakehouse.scan"].sid
    with tr.span("outside.any.op"):
        pass
    assert len(tr.spans) == 6


# -- union of job intervals -----------------------------------------------------
def test_union_of_job_intervals():
    assert union_length([]) == 0.0
    assert union_length([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]) == 4.0
    assert union_length([(0.0, 10.0), (2.0, 3.0)]) == 10.0
    assert union_length([(3.0, 3.0)]) == 0.0
    assert clip([(0.0, 5.0), (6.0, 9.0), (12.0, 13.0)], 1.0, 8.0) == [
        (1.0, 5.0), (6.0, 8.0)]


# -- seeded generation ------------------------------------------------------------
def test_same_seed_gives_identical_jsonl_and_query_order():
    assert fixtures.trip_batch(5, 3, 50) == fixtures.trip_batch(5, 3, 50)
    assert fixtures.trip_batch(5, 3, 50) != fixtures.trip_batch(6, 3, 50)
    assert fixtures.trip_batch(5, 3, 50) != fixtures.trip_batch(5, 4, 50)
    sent, repaired = fixtures.trip_batch(5, 3, 200)
    assert len(sent) == 200 and 0 < len(repaired) < 200
    assert not set(repaired) & set(sent)  # each correction differs from what was sent

    def first(seed, n=3):
        it = workloads.query_passes(workloads.CORPUS, seed)
        return [next(it) for _ in range(n)]

    assert first(1) == first(1)
    assert first(1) != first(2)
    assert sorted(first(1)[0]) == sorted(workloads.CORPUS)


def test_same_seed_gives_identical_tables(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    fixtures.write_tables(str(a), 9, 0.01)
    fixtures.write_tables(str(b), 9, 0.01)
    fixtures.write_tables(str(c), 10, 0.01)
    for name in fixtures.BASE_ROWS:
        pa_ = (a / f"{name}.parquet").read_bytes()
        assert pa_ == (b / f"{name}.parquet").read_bytes(), name
    assert (a / "lineitem.parquet").read_bytes() != (c / "lineitem.parquet").read_bytes()


def test_frozen_lists_name_registered_queries():
    from de_gcp_lakehouse_iceberg_spark.plans import ORACLE_SQL, QUERIES

    for q in workloads.CORPUS:
        assert q in QUERIES and q in ORACLE_SQL
    assert len(set(workloads.CORPUS)) == len(workloads.CORPUS)


# -- expiry never drops a version a read holds ------------------------------------
def test_pins_hold_expiry_until_older_reads_end():
    pins = workloads._Pins(floor=3)
    drained = threading.Event()
    with pins.pin(1) as v:
        assert v == 3  # never below the floor
    with pins.pin(5) as old:
        pins.raise_floor(7)
        with pins.pin(6) as v:
            assert v == 7
        t = threading.Thread(target=lambda: (pins.drain(), drained.set()))
        t.start()
        assert not drained.wait(0.2)  # version 5 is still read
    t.join(timeout=10)
    assert drained.is_set() and old == 5


# -- failure counting ---------------------------------------------------------------
def _ctx(tmp_path):
    ctx = workloads.Ctx(None, seed=1, seconds=1, trace=False, run_dir=str(tmp_path))
    ctx.setup = {"fixtures_s": 0.1, "get_spark_s": 1.0, "warmup_s": 2.0}
    ctx.extra["window_start"] = 0.0
    return ctx


def test_raised_and_wrong_ops_count_as_failures(tmp_path):
    ctx = _ctx(tmp_path)

    def boom():
        raise RuntimeError("boom")

    ok = ctx.run_op("c", "read", "good", lambda: 1, lambda r: None, traced=False)
    raised = ctx.run_op("c", "read", "raised", boom, lambda r: None, traced=False)
    wrong = ctx.run_op("c", "read", "wrong", lambda: 2, lambda r: "bad value", traced=False)
    assert ok.ok and not raised.ok and not wrong.ok
    assert "boom" in raised.error and wrong.error == "bad value"
    m, detail = report.end_to_end(ctx, peak_rss_mb=1.0)
    assert m["error_rate"] == 2 / 3
    assert detail["query_samples"] == 3
    assert m["query_p90_s"] == math.inf  # failures never shorten a timing
    assert m["queries_per_s"] > 0  # only the successful op counts as done


def test_warm_up_ops_are_not_recorded(tmp_path):
    ctx = _ctx(tmp_path)
    ctx.run_op("c", "read", "warm", lambda: 1, lambda r: None, traced=False, record=False)
    assert ctx.records == []
