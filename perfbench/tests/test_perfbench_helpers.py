"""Unit tests for the benchmark's helpers. No Spark needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

from spans import Span, Tracer, self_time, union_length  # noqa: E402
from sparkstats import parse_metric  # noqa: E402


def span(i, start, end, parent=None, kind="entry"):
    return Span(id=i, name=f"s{i}", kind=kind, parent=parent, run="r", start=start, end=end)


# -- union of job spans (spark.driver_gap_s) -------------------------------

def test_union_of_disjoint_and_overlapping_intervals():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 4)]) == 3.0
    assert union_length([(0, 3), (1, 2), (2.5, 5)]) == 5.0
    assert union_length([(4, 6), (0, 2), (1, 5)]) == 6.0


def test_union_counts_touching_intervals_once():
    assert union_length([(0, 1), (1, 2)]) == 2.0


def test_union_is_clipped_to_the_span():
    # jobs that started before or ended after the span count only inside it
    assert union_length([(-1, 1), (3, 10)], lo=0, hi=5) == 3.0
    assert union_length([(6, 7)], lo=0, hi=5) == 0.0


def test_driver_gap_is_wall_not_covered_by_jobs():
    pass_span = span(0, 10.0, 20.0, kind="pass")
    jobs = [(11.0, 13.0), (12.0, 14.0), (18.0, 21.0)]
    gap = pass_span.duration - union_length(jobs, pass_span.start, pass_span.end)
    assert gap == pytest.approx(5.0)  # 10..11 and 14..18


# -- span self time --------------------------------------------------------

def test_self_time_subtracts_children_once():
    parent = span(0, 0.0, 10.0)
    kids = [span(1, 1.0, 4.0, 0), span(2, 3.0, 6.0, 0), span(3, 8.0, 9.0, 0)]
    assert self_time(parent, kids) == pytest.approx(4.0)  # 0..1, 6..8, 9..10
    assert self_time(parent, []) == pytest.approx(10.0)


def test_tracer_nests_spans_and_sums_self_time_by_kind():
    calls = itertools.count()

    def mark():  # Spark's next (job id, stage id), advancing on every call
        n = next(calls)
        return n, 2 * n

    t = Tracer("run", mark)
    with t.span("pass", "pass") as p:
        with t.span("x", "entry", p) as e:
            with t.span("build", "build", e):
                pass
            with t.span("exec", "exec", e):
                pass
    assert [s.parent for s in t.spans] == [None, 0, 1, 1]
    assert {s.run for s in t.spans} == {"run"}
    assert t.spans[2].jobs == (2, 3) and t.spans[2].stages == (4, 6)
    assert t.spans[3].jobs == (4, 5) and t.spans[3].stages == (8, 10)
    assert t.spans[0].jobs == (0, 7)
    total = sum(t.self_times().values())
    assert total == pytest.approx(t.spans[0].duration)


# -- rendered SQL metric strings -------------------------------------------

@pytest.mark.parametrize(
    "text, value",
    [
        ("1240.0 B", 1240.0),
        ("0.0 B", 0.0),
        ("total (min, med, max (stageId: taskId))\n4.6 MiB (1812.3 KiB, 2.8 MiB, 2.8 MiB (stage 3.0: task 3))",
         4.6 * 2 ** 20),
        ("total (min, med, max (stageId: taskId))\n1.5 GiB (1.0 KiB, 2.0 KiB, 3.0 KiB (stage 1.0: task 9))",
         1.5 * 2 ** 30),
        ("538 ms", 0.538),
        ("total (min, med, max (stageId: taskId))\n1.1 s (538 ms, 542 ms, 542 ms (stage 3.0: task 2))", 1.1),
        ("2.5 m", 150.0),
        ("1,240", 1240.0),
        ("7", 7.0),
    ],
)
def test_parse_rendered_sql_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_parse_rejects_unknown_units():
    with pytest.raises(ValueError):
        parse_metric("3 parsecs")
    with pytest.raises(ValueError):
        parse_metric("n/a")


# -- BENCHMARK.json matches the runner --------------------------------------

def test_benchmark_json_names_what_the_runner_reports():
    import run
    from workloads import ALL_ENTRIES, WORKLOADS

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    layers = {**run.LAYER_UNITS, **{f"{n}.wall_s": "s" for n in ALL_ENTRIES}}
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers
