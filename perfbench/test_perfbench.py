"""Unit tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import run  # noqa: E402
from spans import Span, Tracer  # noqa: E402
from stats import median, quantile, self_time, tail, tail_percentile, valid_name  # noqa: E402
from tests.compare import canonical  # noqa: E402
from workloads import ROUTES, WORKLOADS, same_rows  # noqa: E402


@pytest.fixture(scope="module")
def spec():
    return run.load_spec()


# ------------------------------------------------------------ tail rule


@pytest.mark.parametrize(
    "n, pct",
    [(1, 50.0), (19, 50.0), (20, 50.0), (40, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, pct):
    assert tail_percentile(n) == pytest.approx(pct)
    if pct > 50.0:
        assert n * (1 - pct / 100.0) == pytest.approx(10.0)


def test_tail_reports_value_percentile_and_count():
    values = [float(v) for v in range(1, 101)]
    value, pct, n = tail(values)
    assert (pct, n) == (90.0, 100)
    assert value == pytest.approx(quantile(values, 0.9))
    assert sum(v > value for v in values) == 10


def test_tail_of_thin_sample_is_the_median():
    values = [5.0, 1.0, 3.0]
    assert tail(values) == (3.0, 50.0, 3)
    assert median(values) == 3.0


def test_tail_of_nothing_is_an_error():
    with pytest.raises(ValueError):
        tail([])


# ------------------------------------------------------------ self time


def test_self_time_subtracts_merged_children():
    # (1, 3) and (2, 4) overlap: they cover 3 units, not 4; (8, 12) is
    # clipped to the parent's end and covers 2
    assert self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0), (8.0, 12.0)]) == pytest.approx(5.0)


def test_self_time_without_children_is_the_duration():
    assert self_time(2.0, 7.5, []) == pytest.approx(5.5)


def test_self_time_ignores_children_outside_the_span():
    assert self_time(0.0, 1.0, [(2.0, 3.0), (-2.0, -1.0)]) == pytest.approx(1.0)


def test_tracer_self_ms_counts_direct_children_only():
    t = Tracer()
    t.spans = [
        Span(0, "runner.process_range", 0.0, None, "chunk-0", end=1.0),
        Span(1, "ingest.parse_custom_json", 0.1, 0, "chunk-0", end=0.3),
        Span(2, "runner.write", 0.4, 0, "chunk-0", end=0.9),
        Span(3, "runner.write.inner", 0.5, 2, "chunk-0", end=0.6),
    ]
    root = t.spans[0]
    assert t.self_ms(root) == pytest.approx(300.0)
    assert [s.sid for s in t.within(root, "runner.write")] == [2, 3]
    assert t.total_ms(root, "ingest.") == pytest.approx(200.0)


def test_tracer_nests_spans_and_restores_wrapped_functions():
    class Layer:
        @staticmethod
        def call(x):
            return x + 1

    t = Tracer()
    t.wrap(Layer, "call", "layer.call")
    table = {"k": lambda: Layer.call(1)}
    t.wrap(table, "k", "layer.outer")
    with t.span("op"):
        assert table["k"]() == 2
    assert [(s.name, s.parent) for s in t.spans] == [
        ("op", None), ("layer.outer", 0), ("layer.call", 1)
    ]
    t.unwrap_all()
    assert Layer.call.__name__ == "call" and not hasattr(Layer.call, "__wrapped__")
    assert table["k"]() == 2 and len(t.spans) == 3


# ------------------------------------------------------------ result check

_TS = datetime.datetime(2024, 1, 2, 3, 4, 5, 678)
_ROWS = [
    (1, 0.1234567, "a", _TS, None),
    (2, float("nan"), "b", None, b"\x01"),
    (2, 1e-7, None, _TS, b"\x02"),
]


def test_same_rows_matches_the_tests_compare_canonicalization():
    # columns in another order, rows reversed, floats off in the 7th place,
    # an int column collected as floats
    cols_b = ["e", "d", "c", "b", "a"]
    rows_b = [(e, d, c, b + 4e-8 if isinstance(b, float) else b, float(a))
              for a, b, c, d, e in reversed(_ROWS)]
    assert canonical(list("abcde"), _ROWS) == canonical(cols_b, rows_b)
    assert same_rows(list("abcde"), _ROWS, cols_b, rows_b)


@pytest.mark.parametrize("change", [
    lambda r: r[:-1],
    lambda r: r + r[:1],
    lambda r: [(9,) + r[0][1:]] + r[1:],
    lambda r: [r[0][:1] + (0.123458,) + r[0][2:]] + r[1:],
    lambda r: [r[0][:3] + (_TS + datetime.timedelta(seconds=1),) + r[0][4:]] + r[1:],
])
def test_same_rows_sees_a_changed_result(change):
    assert not same_rows(list("abcde"), _ROWS, list("abcde"), change(list(_ROWS)))


def test_same_rows_counts_duplicates_and_empty_results():
    assert not same_rows(["a"], [(1,), (1,), (2,)], ["a"], [(1,), (2,), (2,)])
    assert same_rows(["a"], [], ["a"], [])
    assert not same_rows(["a"], [], ["b"], [])


# ------------------------------------------------------------ names


@pytest.mark.parametrize("name", ["setup_s", "serve.handler_p50_ms.get_poll", "a-b.c_9"])
def test_valid_names(name):
    assert valid_name(name)


@pytest.mark.parametrize("name", ["", "_lead", ".lead", "has space", "slash/x", "é", "x" * 65])
def test_invalid_names(name):
    assert not valid_name(name)


def test_every_declared_name_uses_the_charset(spec):
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(valid_name(n) for n in names)
    assert len(names) == len(set(names))


# ------------------------------------------------------------ agreement


def test_every_declared_workload_exists(spec):
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_per_layer_names_are_what_the_declared_workloads_emit(spec):
    emitted = set().union(*(WORKLOADS[w["name"]].LAYERS for w in spec["workloads"]))
    assert {m["name"] for m in spec["per_layer"]} == emitted
    assert {f"serve.handler_p50_ms.{r}" for r in ROUTES} <= emitted
    # the undeclared bulk sync measures no layer the declared set lacks
    assert set(WORKLOADS["sync-bulk"].LAYERS) <= emitted


def test_setup_metric_is_seconds_and_has_the_widest_bound(spec):
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


@pytest.mark.parametrize("trace", [0, 1])
def test_result_line_carries_exactly_the_declared_metrics(spec, trace):
    kind = "per_layer" if trace else "end_to_end"
    values = {m["name"]: 1.5 for m in spec[kind]}
    line = run.result_line(spec, trace, values, attempted=4, failed=0)
    out = json.loads(line)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["attempted"] == 4 and out["failed"] == 0
    assert list(out["metrics"]) == [m["name"] for m in spec[kind]]
    for m in spec[kind]:
        assert out["metrics"][m["name"]] == {"value": 1.5, "unit": m["unit"]}


def test_result_line_refuses_a_missing_end_to_end_metric(spec):
    values = {m["name"]: 1.0 for m in spec["end_to_end"][1:]}
    with pytest.raises(KeyError):
        run.result_line(spec, 0, values, attempted=1, failed=0)


def test_a_failure_makes_the_result_incorrect(spec):
    values = {m["name"]: 1.0 for m in spec["end_to_end"]}
    out = json.loads(run.result_line(spec, 0, values, attempted=10, failed=1))
    assert out["correct"] is False and out["failed"] == 1
