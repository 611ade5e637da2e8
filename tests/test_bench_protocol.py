"""The bench harness's pure parts, pinned without Spark.

The noise-defence sampling policy (VERDICT r4 item 1): a co-tenant spike
must not own the official median, a genuinely slow query must not waste
retries, and the retry budget must bound worst-case sample count. Also the
event-log aggregation behind ``bench.py --engine`` and
``tools/profile_scaling.py``, the N→4N scaling legs derived from the core
count, and the correctness-record rotation of the query registry."""

from __future__ import annotations

import json
import os
import re
import statistics

from bench import (
    aggregate_event_log,
    leg_heap_mb,
    sample_with_retry,
    scaling_legs,
    stage_seconds_by_description,
    warm_until_stable,
)
from price_crawler_spark.entry_queries import QUERIES, rotation_order

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _scripted(seq):
    it = iter(seq)
    return lambda: next(it)


def test_tight_samples_never_retry():
    runs, extra = sample_with_retry(_scripted([4.2, 4.4, 4.3]), 3, 4)
    assert runs == [4.2, 4.4, 4.3] and extra == 0


def test_single_spike_is_pushed_out_of_the_median():
    """The r4 failure mode verbatim: samples 4.76/25.01/11.57 put 11.57 in
    the official record while the quiet box measured 4.2 s. Two clean
    retries must restore a capacity-consistent median."""
    runs, extra = sample_with_retry(
        _scripted([4.76, 25.01, 11.57, 4.8, 4.8]), 3, 4
    )
    assert extra == 2
    med = statistics.median(runs)
    assert med == 4.8  # no longer contradicts min=4.76 by >1.5×
    assert med <= 1.5 * min(runs)


def test_slow_but_consistent_query_keeps_its_median():
    """Slowness alone is not noise: 3 consistent 30 s samples retry
    nothing and record 30 s."""
    runs, extra = sample_with_retry(_scripted([30.0, 31.0, 30.5]), 3, 4)
    assert extra == 0 and statistics.median(runs) == 30.5


def test_retry_budget_bounds_worst_case():
    """A box that stays loaded exhausts max_extra and stops — the artifact
    then shows median > 1.5×min WITH all samples, which is exactly the
    honest record (noise visible, not hidden)."""
    runs, extra = sample_with_retry(
        _scripted([4.0, 20.0, 20.0] + [20.0] * 4), 3, 4
    )
    assert extra == 4 and len(runs) == 7
    assert statistics.median(runs) > 1.5 * min(runs)  # honestly still noisy


def test_warmup_deepens_while_jit_still_improving():
    """The measured bloom_seen_path cold sequence: each pass improves >20%
    on the previous, so warming continues to the cap and the samples that
    follow start at steady state."""
    seq = [8.92, 5.52, 2.89, 2.39, 2.0]
    it = iter(seq)
    warms = warm_until_stable(lambda: next(it), max_warm=4)
    assert warms == [8.92, 5.52, 2.89, 2.39]  # capped at 4
    assert next(it) == 2.0  # first real sample is the warm one


def test_stable_query_stops_after_two_warmups():
    it = iter([4.2, 4.1, 4.0, 4.0])
    warms = warm_until_stable(lambda: next(it), max_warm=4)
    assert warms == [4.2, 4.1]  # 4.1 > 0.8*4.2 -> already stable


def test_warmup_stops_when_improvement_plateaus():
    it = iter([10.0, 6.0, 5.5, 5.4])
    warms = warm_until_stable(lambda: next(it), max_warm=6)
    assert warms == [10.0, 6.0, 5.5]  # 5.5 > 0.8*6.0 -> stop


def _stage_event(kind, stage, submitted_s, **extra):
    info = {"Stage ID": stage, "Stage Attempt ID": 0, "Stage Name": f"s{stage}\nat x",
            "Number of Tasks": 2, "Submission Time": int(submitted_s * 1000)}
    info.update(extra)
    return {"Event": kind, "Stage Info": info}


def _task_end(stage, run_ms, gc_ms, written):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": gc_ms,
                             "Executor CPU Time": run_ms * 10**6,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
                             "Shuffle Read Metrics": {"Local Bytes Read": 1_000_000,
                                                      "Remote Bytes Read": 0}}}


def test_aggregate_event_log_groups_stages_by_description(tmp_path):
    """Two stages under two job descriptions keep their TaskEnd sums; a
    stage submitted before ``t_min`` is dropped with its tasks."""
    events = []
    for stage, at, desc in ((0, 90.0, "wave:fetch"), (1, 100.0, "wave:fetch"),
                            (2, 101.0, "commit:pending")):
        events.append({**_stage_event("SparkListenerStageSubmitted", stage, at),
                       "Properties": {"spark.job.description": desc}})
        events.append(_task_end(stage, 1500, 100, 2_000_000))
        events.append(_task_end(stage, 500, 0, 0))
        events.append(_stage_event("SparkListenerStageCompleted", stage, at,
                                   **{"Completion Time": int((at + 2.5) * 1000)}))
    log = "\n".join(json.dumps(e) for e in events) + "\n{truncated"
    (tmp_path / "local-1").write_text(log)
    (tmp_path / "local-2.inprogress").write_text("")

    stages = aggregate_event_log(str(tmp_path), t_min=95.0)
    assert [s["description"] for s in stages] == ["wave:fetch", "commit:pending"]
    s1 = stages[0]
    assert s1["name"] == "s1" and s1["tasks"] == 2 and s1["wall_s"] == 2.5
    assert (s1["run_s"], s1["max_task_s"], s1["gc_s"], s1["cpu_s"]) == (2.0, 1.5, 0.1, 2.0)
    assert (s1["sh_write_mb"], s1["sh_read_mb"]) == (2.0, 2.0)
    assert stage_seconds_by_description(stages) == {
        "commit:pending": {"stages": 1, "wall_s": 2.5, "run_s": 2.0},
        "wave:fetch": {"stages": 1, "wall_s": 2.5, "run_s": 2.0},
    }


def test_scaling_legs_follow_the_core_count():
    assert scaling_legs(4) == (1, 4, 64)
    assert scaling_legs(32) == (8, 32, 512)
    assert scaling_legs(2) == (1, 4, 64)


def test_leg_heap_prefill_fits_in_ram():
    for mem_mb in (4_096, 16_070, 64_000, 256_000):
        heap, prefill = leg_heap_mb(mem_mb)
        assert prefill < heap <= 24 * 1024 and prefill < mem_mb
    assert leg_heap_mb(256_000) == (24 * 1024, 20 * 1024)


def test_rotation_puts_the_oldest_checked_queries_first(tmp_path):
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({"a": {}, "b": {}, "c": {}}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({"a": {}, "c": {}, "gone": {}}))
    (tmp_path / "CORRECTNESS_r02_notes.json").write_text(json.dumps({"b": {}}))
    assert rotation_order(["a", "b", "c", "d"], str(tmp_path)) == ["d", "b", "a", "c"]


def test_rotation_with_no_records_keeps_registration_order(tmp_path):
    names = list(QUERIES)[::-1]
    assert rotation_order(names, str(tmp_path)) == names


def test_registry_leads_with_the_queries_the_last_round_skipped():
    """With the repo's records, the queries missing from the newest
    correctness record come first, and the registry is only reordered."""
    rounds = [f for f in os.listdir(REPO) if re.fullmatch(r"CORRECTNESS_r\d+\.json", f)]
    with open(os.path.join(REPO, max(rounds, key=lambda f: int(f[13:-5])))) as f:
        checked = json.load(f)
    names = list(QUERIES)
    skipped = [n for n in names if n not in checked]
    assert sorted(rotation_order(names)) == sorted(names)
    assert names[: len(skipped)] == skipped
