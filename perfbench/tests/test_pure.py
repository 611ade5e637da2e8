"""Spark-free tests of the benchmark's own code. Run from the repository
root with ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import json
import os
import random
import re

import pytest

from perfbench import stats
from perfbench.trace import Tracer
from perfbench.workloads import (
    END_TO_END,
    N_QUERIES,
    PER_LAYER,
    POLITE_DRIP,
    RECRAWL_CHURN,
    WORKLOADS,
    invalidation_sample,
    is_listing,
    queries_for,
)

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.mark.parametrize("w", list(WORKLOADS.values()), ids=list(WORKLOADS))
def test_queries_are_a_function_of_the_seed(w):
    assert queries_for(w, 7) == queries_for(w, 7)
    assert queries_for(w, 7) != queries_for(w, 8)
    q = queries_for(w, 7)
    assert q == sorted(set(q)) and len(q) == N_QUERIES


def test_narrow_queries_are_disjoint_and_broad_ones_share_children():
    narrow = queries_for(POLITE_DRIP, 3)
    assert all(re.fullmatch(r"gpu\d{5}", x) for x in narrow)
    broad = queries_for(RECRAWL_CHURN, 3)
    bases = [x for x in broad if re.fullmatch(r"gpu\d{4}", x)]
    subs = [x for x in broad if re.fullmatch(r"gpu\d{5}", x)]
    assert len(bases) == len(subs) == N_QUERIES // 2
    # each sub-prefix lies inside the first 50 results of its base query
    assert all(s[:7] in bases and s[7] in "01234" for s in subs)


def test_invalidation_sample_is_seeded_and_skips_repeats():
    fetched = [f"https://a.example/search?q={i}" for i in range(30)] + [
        f"https://a.example/prod?id={i}" for i in range(30)]
    already = {fetched[0], fetched[40]}
    a = invalidation_sample(random.Random(5), fetched, already, 10)
    b = invalidation_sample(random.Random(5), fetched, already, 10)
    assert a == b and len(a) == 10 and not already & set(a)
    assert sum(is_listing(u) for u in a) == 5
    # one kind short: top up from the other
    only_listing = fetched[:30]
    c = invalidation_sample(random.Random(5), only_listing, set(), 10)
    assert len(c) == 10 and all(is_listing(u) for u in c)


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert stats.tail(list(range(10))) is None
    xs = list(range(100))
    random.Random(1).shuffle(xs)
    pct, value, n = stats.tail(xs)
    assert (pct, n) == (90.0, 100)
    assert sum(x > value for x in xs) == 10
    pct, value, n = stats.tail(list(range(11)))
    assert value == 0 and sum(x > value for x in range(11)) == 10
    assert pct == pytest.approx(100 / 11)


def test_spread_is_quartile_distance_over_median():
    assert stats.spread([10.0] * 10) == 0.0
    assert stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(
        (8.25 - 2.75) / 5.5)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},   # overlaps 1
        {"id": 3, "parent": 0, "start": 8.0, "end": 12.0},  # clipped at 10
        {"id": 4, "parent": 2, "start": 2.5, "end": 3.5},
    ]
    got = stats.self_times(spans)
    assert got[0] == pytest.approx(10 - (4 + 2))
    assert got[1] == pytest.approx(2.0)
    assert got[2] == pytest.approx(2.0)
    assert got[3] == pytest.approx(4.0)
    assert got[4] == pytest.approx(1.0)


def test_tracer_links_children_to_parents():
    tr = Tracer("r")
    with tr.span("outer") as outer:
        with tr.span("inner", outer["id"]) as inner:
            inner["rows_out"] = 3
    assert [s["name"] for s in tr.spans] == ["outer", "inner"]
    assert tr.spans[1]["parent"] == 0 and tr.spans[1]["rows_out"] == 3
    assert all(s["run"] == "r" and s["end"] >= s["start"] for s in tr.spans)
    assert tr.spans[0]["start"] <= tr.spans[1]["start"] <= tr.spans[1]["end"] <= tr.spans[0]["end"]


def test_metric_names_are_well_formed():
    for name in [*END_TO_END, *PER_LAYER]:
        assert stats.METRIC_NAME.fullmatch(name), name
    with pytest.raises(ValueError, match="bad metric name"):
        stats.record(True, 1, 0, {"no spaces": (1.0, "s")})
    with pytest.raises(ValueError, match="not finite"):
        stats.record(True, 1, 0, {"x": (float("nan"), "s")})


def test_record_fits_the_limit_with_full_precision_values():
    worst = -1.2345678901234567e-05  # the longest repr a float gets
    for names in (END_TO_END, PER_LAYER):
        line = stats.record(True, 10**6, 10**6, {k: (worst, u) for k, u in names.items()})
        assert len(line.encode()) <= stats.RECORD_LIMIT_BYTES
        assert json.loads(line)["metrics"][next(iter(names))]["value"] == worst
    too_many = {f"m{i:03d}": (worst, "s") for i in range(40)}
    with pytest.raises(ValueError, match="bytes"):
        stats.record(True, 1, 0, too_many)


def test_benchmark_json_matches_the_code():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        w.name: w.why for w in WORKLOADS.values()}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert all(len(w["why"]) <= 200 for w in spec["workloads"])
