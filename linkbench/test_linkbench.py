"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest linkbench -q -p no:cacheprovider
"""

import pytest

from linkbench.run import unit_of
from linkbench.stats import Ledger, percentile, summarize, tail_percentile
from linkbench.trace import Span, Tracer, self_time


def _span(i, start, end, parent=None):
    return Span(id=i, name=f"s{i}", parent=parent, pass_id="p0",
                start=start, end=end)


def test_self_time_subtracts_union_of_children():
    parent = _span(0, 0.0, 10.0)
    spans = [parent,
             _span(1, 1.0, 3.0, parent=0),
             _span(2, 2.0, 5.0, parent=0),    # overlaps span 1
             _span(3, 7.0, 8.0, parent=0),
             _span(4, 7.5, 9.0, parent=3)]    # grandchild: not subtracted twice
    assert self_time(parent, spans) == pytest.approx(10.0 - 4.0 - 1.0)
    assert self_time(spans[3], spans) == pytest.approx(1.0 - 0.5)
    assert self_time(spans[4], spans) == pytest.approx(1.5)


def test_self_time_clips_children_to_the_parent():
    parent = _span(0, 2.0, 4.0)
    spans = [parent, _span(1, 1.0, 3.0, parent=0), _span(2, 3.5, 6.0, parent=0)]
    assert self_time(parent, spans) == pytest.approx(2.0 - 1.0 - 0.5)


def test_tracer_records_nesting_and_pass_ids():
    tr = Tracer()
    tr.enabled = True
    with tr.span("pagerank", "p1"):
        with tr.span("checkpoint.write", "p1"):
            pass
    with tr.span("components", "p2"):
        pass
    names = [(s.name, s.parent, s.pass_id, s.layer) for s in tr.spans]
    assert names == [("pagerank", None, "p1", "pagerank"),
                     ("checkpoint.write", 0, "p1", "checkpoint"),
                     ("components", None, "p2", "components")]
    assert all(s.end >= s.start for s in tr.spans)


def test_tracer_disabled_records_nothing_and_wrap_undoes():
    class Owner:
        def write(self, x):
            return x + 1

    tr = Tracer()
    undo = tr.wrap(Owner, "write", "checkpoint.write")
    assert Owner().write(1) == 2 and tr.spans == []
    tr.enabled = True
    with tr.span("pagerank", "p0"):
        Owner().write(1)
    assert [(s.name, s.parent, s.pass_id) for s in tr.spans] == [
        ("pagerank", None, "p0"), ("checkpoint.write", 0, "p0")]
    undo()
    Owner().write(1)
    assert len(tr.spans) == 2


@pytest.mark.parametrize("n, want", [
    (1, None), (10, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (999, 95.0), (1000, 99.0), (10_000, 99.9)])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_summarize_reports_median_tail_and_count():
    values = [float(v) for v in range(1, 101)]
    s = summarize(values)
    assert s == {"n": 100, "median": 50.5, "tail_pct": 90.0, "tail": 90.0}
    assert sum(v > s["tail"] for v in values) == 10
    assert summarize([3.0, 1.0, 2.0]) == {"n": 3, "median": 2.0,
                                           "tail_pct": None, "tail": None}
    assert percentile([5.0, 1.0, 3.0], 50) == 3.0


def test_ledger_exception_counts_one_failed_op_and_propagates():
    led = Ledger()
    with led.op(("p0", "pagerank")):
        pass
    with pytest.raises(ValueError):
        with led.op(("p0", "components")):
            raise ValueError("boom")
    assert (led.attempted, led.failed) == (2, 1)
    assert "ValueError: boom" in led.failures[("p0", "components")]


def test_ledger_failed_check_counts_one_failed_op():
    led = Ledger()
    with led.op(("p0", "pagerank")):
        pass
    led.check(("p0", "pagerank"), True, "ok")
    assert (led.attempted, led.failed) == (1, 0)
    led.check(("p0", "pagerank"), False, "ranks differ")
    led.check(("p0", "pagerank"), False, "ranks differ again")
    assert (led.attempted, led.failed) == (1, 1)
    led.check(("p1", "triangles"), False, "count differs")
    assert (led.attempted, led.failed) == (2, 2)


def test_units_follow_metric_suffixes():
    assert [unit_of(n) for n in (
        "setup_s", "pagerank.sweep_edges_per_s", "driver_py_peak_rss_mb",
        "pages.shuffle_write_bytes", "pagerank.sweeps")] == [
        "s", "1/s", "MB", "bytes", "count"]
