"""Tests of the benchmark's own logic: seeded inputs, output checkers and
the tracer's time arithmetic. No Spark session is needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import json
import os
import statistics
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import lake  # noqa: E402
import replay  # noqa: E402
import sweep  # noqa: E402
from tracer import Span, aggregate_spans, covered, uncovered  # noqa: E402


def _initial(n=3000):
    return {
        k: (k % 97 + 1, "FOP"[k % 3], 100.0 + (k % 13) * 0.25, "1-URGENT")
        for k in range(1, 4 * n, 4)
    }


# --- same seed, same inputs ------------------------------------------------------


def test_replay_inputs_are_seeded():
    def flat(seed):
        history, timed = replay.make_inputs(seed, 2)
        return [(r.page, r.body) for r in [history] + timed]

    assert flat(7) == flat(7)
    assert flat(7) != flat(8)


def test_lake_script_is_seeded():
    def flat(seed):
        script, model = lake.make_script(seed, _initial())
        return [(s.kind, s.sql, s.strategy, s.source) for s in script], model.rows

    assert flat(3) == flat(3)
    assert flat(3)[0] != flat(4)[0]


# --- the inputs cover the quirks they are meant to ---------------------------------


def test_replay_inputs_cover_the_fixture_quirks():
    history, (timed,) = replay.make_inputs(11)
    want = replay.expected_doc([history, timed], timed)
    assert [r["rank"] for r in want["cutlets"]] == [1] * 5  # >= 6 tied at rank 1
    tally = Counter(f["killer"] for f in timed.frags if f["killer"] and not f["is_tk"])
    assert sum(1 for n in tally.values() if n == max(tally.values())) >= 6
    assert any(f["killer"] is None for f in timed.frags)
    assert any(f["distance"] is None for f in timed.frags)
    assert sorted({s for s, _n, _sl in timed.players.values()}) == [1, 2]
    renamed = [p for p in timed.players if p in history.players
               and timed.players[p][1] != history.players[p][1]]
    assert renamed
    died_before = {f["victim"] for f in history.frags}
    alive_here = set(timed.players) - {f["victim"] for f in timed.frags}
    assert alive_here & died_before  # excluded by the cross-replay NOT IN
    survivors = {s["id_from_json"] for s in want["survivors"]}
    assert not survivors & died_before


# --- each checker rejects a corrupted output ----------------------------------------


def _doc_as_drained(want):
    doc = copy.deepcopy(want)
    doc["replay"] = json.dumps(doc["replay"], ensure_ascii=False)
    doc["survivors"] = list(reversed(doc["survivors"]))  # row order is free
    return doc


def test_replay_checker_accepts_the_expectation_and_rejects_corruption():
    history, (timed,) = replay.make_inputs(5)
    want = replay.expected_doc([history, timed], timed)
    assert replay.check_doc(_doc_as_drained(want), want) == []

    bad = _doc_as_drained(want)
    bad["cutlets"][0]["kills"] += 1
    assert replay.check_doc(bad, want)
    bad = _doc_as_drained(want)
    bad["survivors"].pop()
    assert replay.check_doc(bad, want)
    bad = _doc_as_drained(want)
    bad["ls"][0]["distance"] = None
    assert replay.check_doc(bad, want)
    bad = _doc_as_drained(want)
    bad["replay"] = bad["replay"].replace("Altis & Stratis", "Altis &amp; Stratis")
    assert replay.check_doc(bad, want)


def test_lake_checker_rejects_corrupted_reads():
    script, model = lake.make_script(9, _initial())
    sel = next(s for s in script if s.kind == "select_filtered")
    good = list(sel.expect.elements())
    assert lake._check_read(sel, good) == ""
    k, c, st, p, pr = good[0]
    assert lake._check_read(sel, [(k, c, st, p + 0.25, pr)] + good[1:])
    assert lake._check_read(sel, good[1:])

    agg = next(s for s in script if s.kind == "select")
    rows = [(s, *v) for s, v in agg.expect.items()]
    assert lake._check_read(agg, rows) == ""
    s0, n, sc, sk = rows[0]
    assert lake._check_read(agg, [(s0, n - 1, sc, sk)] + rows[1:])

    changes = next(s for s in script if s.kind == "table_changes")
    changes.expect = next(d for d in model.diffs if d[0] or d[1])
    deleted, inserted = changes.expect
    rows = [("delete", *r) for r in deleted.elements()] + [("insert", *r) for r in inserted.elements()]
    assert lake._check_read(changes, rows) == ""
    assert lake._check_read(changes, rows[:-1])


def test_lake_model_applies_statements():
    init = _initial(1000)
    script, model = lake.make_script(2, init)
    kinds = {s.kind for s in script}
    assert {k for k, _ in lake.WRITES} | {k for k, _ in lake.READS} == kinds
    assert len(model.diffs) == len(lake.WRITES)
    assert model.rows != init


def test_sweep_hash_is_order_insensitive_and_rejects_corruption():
    cols = ["b", "a"]
    rows = [(1, "x"), (2, "y")]
    h = sweep.canonical_hash(cols, rows)
    assert sweep.canonical_hash(["a", "b"], [("y", 2), ("x", 1)]) == h
    assert sweep.canonical_hash(cols, [(1, "x"), (2, "z")]) != h
    assert sweep.canonical_hash(cols, rows[:1]) != h


# --- tracer arithmetic ------------------------------------------------------------------


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, [(1, 3), (2, 5), (8, 12), (-4, -1)]) == 6
    assert covered(0, 10, []) == 0


def test_self_and_gap_time_on_a_synthetic_timeline():
    # op [0, 10]: child A [1, 4], child B [6, 9]; jobs [2, 3], [5, 7], [8, 8.5]
    assert uncovered((0, 10), [(1, 4), (6, 9)]) == 4  # self time
    assert uncovered((0, 10), [(2, 3), (5, 7), (8, 8.5)]) == 6.5  # gap time


def test_hd_median():
    import common

    assert common.hd_median([4.0]) == 4.0
    assert abs(common.hd_median([1.0, 3.0]) - 2.0) < 1e-9
    assert abs(common.hd_median([1.0, 2.0, 3.0, 10.0, 11.0]) - 4.8) < 0.5
    # a gap in the middle of the sample: when one op crosses it, the sample
    # median jumps across the whole gap, the estimate by far less
    before, after = [1.0] * 9 + [2.0] * 9, [1.0] * 8 + [2.0] * 10
    assert statistics.median(after) - statistics.median(before) == 0.5
    assert 0 < common.hd_median(after) - common.hd_median(before) < 0.2


def test_aggregate_spans_attributes_jobs_and_self_time():
    spans = [
        Span("op", None, 0.0, 10.0, jobs=[1]),
        Span("a", 0, 1.0, 4.0, jobs=[2]),
        Span("a", 1, 2.0, 3.0, jobs=[3]),  # recursive call, counted once
        Span("b", 0, 6.0, 9.0, jobs=[4]),
        Span("warm", None, -5.0, -1.0, jobs=[5], timed=False),  # set-up: left out
    ]
    jobs = {
        1: dict(iv=(0.5, 0.9), stages=1, tasks=4, failed_tasks=0),
        2: dict(iv=(1.0, 1.5), stages=2, tasks=8, failed_tasks=1),
        3: dict(iv=(2.0, 2.5), stages=1, tasks=1, failed_tasks=0),
        4: dict(iv=(6.0, 8.0), stages=1, tasks=2, failed_tasks=0),
        5: dict(iv=(-4.0, -2.0), stages=1, tasks=2, failed_tasks=0),
    }
    sql = {2: dict(shuffle_bytes=100, scan_rows=7), 4: dict(shuffle_bytes=5, scan_rows=3)}
    agg = aggregate_spans(spans, jobs, sql)
    assert agg["op"]["jobs"] == 4 and agg["op"]["self_s"] == 4.0
    assert abs(agg["op"]["gap_s"] - (10 - 0.4 - 0.5 - 0.5 - 2.0)) < 1e-9
    assert agg["a"]["calls"] == 1 and agg["a"]["s"] == 3.0 and agg["a"]["jobs"] == 2
    assert agg["a"]["self_s"] == 2.0 and agg["a"]["gap_s"] == 2.0
    assert agg["a"]["shuffle_bytes"] == 100 and agg["op"]["scan_rows"] == 10
    assert abs(agg["spark"].pop("job_s") - 3.4) < 1e-9
    assert agg["spark"] == dict(jobs=4, stages=5, tasks=15, failed_tasks=1)
    assert "warm" not in agg


def test_benchmark_json_names_the_metrics_run_py_prints():
    import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
