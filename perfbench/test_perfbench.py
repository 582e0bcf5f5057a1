"""Tests of the benchmark's own code (no Spark session needed).

Run from the repository root::

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen, stats  # noqa: E402
from perfbench import metrics as M  # noqa: E402
from perfbench.trace import Span, Tracer, covered, self_times  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- seeded inputs ---------------------------------------------------------


def test_same_seed_same_nightly_inputs():
    a = gen.nightly_batches(7, 3, 2000, 100)
    b = gen.nightly_batches(7, 3, 2000, 100)
    for x, y in zip(a, b):
        assert x.events.equals(y.events)
        assert (x.malformed, x.late, x.days) == (y.malformed, y.late, y.days)
    c = gen.nightly_batches(8, 3, 2000, 100)
    assert not a[0].events.equals(c[0].events)


def test_nightly_ground_truth_is_planted():
    batches = gen.nightly_batches(3, 4, 5000, 100, malformed_frac=0.02, late_frac=0.05)
    for b in batches:
        assert b.malformed == int(gen.is_malformed(b.events["props"]).sum())
        assert b.malformed > 0
        days = (b.events["ts"] - gen.EPOCH_DAY0).dt.days
        # the late rows are exactly the previous day's rows in the batch
        assert int((days == b.day - 1).sum()) == b.late
        assert set(days.unique()) == set(b.days)
    assert batches[0].late == 0 and all(b.late > 0 for b in batches[1:])
    ids = [i for b in batches for i in b.events["event_id"]]
    assert len(ids) == len(set(ids))


def test_same_seed_same_stream_and_requests():
    e1 = gen.stream_events(5, 3000)
    e2 = gen.stream_events(5, 3000)
    assert e1.equals(e2)
    assert 0 < int(gen.is_malformed(e1["props"]).sum()) < 100
    assert gen.serve_requests(5, 50) == gen.serve_requests(5, 50)
    assert gen.serve_requests(5, 50) != gen.serve_requests(6, 50)


def test_same_seed_same_corpus_and_planted_dups():
    a = gen.corpus(11, 300, 20, 20, 30)
    b = gen.corpus(11, 300, 20, 20, 30)
    assert a.docs.equals(b.docs)
    assert a.exact_pairs == b.exact_pairs and a.near_pairs == b.near_pairs
    assert a.boilerplate_ids == b.boilerplate_ids
    text = a.docs.set_index("doc_id")["text"]
    norm = lambda t: " ".join(t.lower().split())  # noqa: E731
    for keep, copy in a.exact_pairs:
        assert norm(text[keep]) == norm(text[copy])
    for base, var, j in a.near_pairs:
        assert j == gen.jaccard(text[base], text[var])
        assert 0.6 < j < 1.0
    assert sorted(a.docs["doc_id"]) == list(range(len(a.docs)))


# -- reporting rules -------------------------------------------------------


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(19) is None
    assert stats.tail_percentile(20) is None  # p75 leaves 5 beyond
    assert stats.tail_percentile(40) == 75.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(200) == 95.0
    assert stats.tail_percentile(1000) == 99.0
    assert stats.tail_percentile(10000) == 99.9
    for n in range(1, 3000, 7):
        p = stats.tail_percentile(n)
        if p is not None:
            rank = -(-int(p * 10) * n // 1000)
            assert n - rank >= stats.MIN_BEYOND


def test_summarize_and_percentile():
    vals = list(range(1, 101))
    s = stats.summarize(vals)
    assert s == {"n": 100, "p50": 50.5, "tail_p": 90.0, "tail": 90}
    assert stats.summarize([3.0]) == {"n": 1, "p50": 3.0, "tail_p": None, "tail": None}
    assert stats.summarize([])["n"] == 0
    assert stats.percentile([5, 1, 3], 50) == 3
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_quarter_medians_split_the_window():
    samples = [(t, float(t)) for t in range(0, 100)]
    q1, q4 = stats.quarter_medians(samples, 0.0, 100.0)
    assert q1 == 12.0 and q4 == 87.0
    assert stats.quarter_medians([], 0.0, 1.0) == (None, None)


# -- spans -----------------------------------------------------------------


def _span(i, start, end, parent=None):
    return Span(i, f"l{i}.x", start, end, parent, "r", "t")


def test_covered_merges_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(4, 4)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 4.0, parent=1),
        _span(3, 3.0, 6.0, parent=1),  # overlaps its sibling (another thread)
        _span(4, 1.5, 2.0, parent=2),
        _span(5, 8.0, 9.0, parent=1),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)
    assert sum(st.values()) == pytest.approx(10.0 + 1.0)  # the overlap counts twice


def test_max_backlog_counts_lead_in_reads_and_stays_in_the_window():
    from perfbench.ingest_serve import max_backlog

    due = [0.1 * i for i in range(100)]  # 10 events/s over 0..9.9 s
    # (start, events read through the trigger); the lead-in triggers at
    # 0.5 s and 2.0 s read everything due by then
    trig = [(0.5, 6), (2.0, 21), (3.0, 31), (4.0, 41), (7.0, 71), (9.95, 100)]
    # window [2.5, 8]: at 3.0, 31 due - 21 read = 10; at 4.0, 41 - 31 = 10;
    # at 7.0, 71 - 41 = 30; the 9.95 trigger is outside the window
    assert max_backlog(due, trig, 2.5, 8.0) == 30
    assert max_backlog(due, trig, 2.5, 5.0) == 10
    # unordered input gives the same answer
    assert max_backlog(due, list(reversed(trig)), 2.5, 8.0) == 30
    assert max_backlog(due, trig, 20.0, 30.0) == 0


def test_read_through_sums_partition_offsets():
    from types import SimpleNamespace

    from perfbench.trace import read_through

    def prog(end):
        return SimpleNamespace(sources=[SimpleNamespace(endOffset=end)])

    assert read_through(prog('{"0": 12, "1": 9}')) == 21
    assert read_through(prog('{"events": {"0": 4, "1": 5}}')) == 9
    assert read_through(prog("{'0': 42, '1': 26}")) == 68
    assert read_through(prog("not json")) is None
    assert read_through(prog('{"logOffset": 3}')) is None  # a file source's log index
    assert read_through(SimpleNamespace(sources=[])) is None


def test_tracer_records_parents_and_is_free_when_off():
    off = Tracer(False, "r")
    with off.span("a.b"):
        pass
    assert off.spans == []
    tr = Tracer(True, "r")
    with tr.span("outer.x"):
        with tr.span("inner.y"):
            pass
    inner, outer = tr.spans
    assert inner.parent == outer.id and outer.parent is None
    assert inner.layer == "inner" and tr.layer_self_time().keys() == {"outer", "inner"}


def test_patched_wraps_and_restores():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    tr = Tracer(True, "r")
    orig = Mod.f
    with tr.patched([(Mod, "f", "mod.f")]):
        assert Mod.f(1) == 2
    assert Mod.f is orig
    assert [s.name for s in tr.spans] == ["mod.f"]


# -- metric catalogue ------------------------------------------------------


def test_benchmark_json_matches_the_emitted_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]}
    assert e2e == {n: (u, b, bd) for n, u, b, bd in M.END_TO_END}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert layer == dict(M.per_layer())
    assert len(layer) == len(M.per_layer()) <= 128
    assert {w["name"] for w in spec["workloads"]} == {
        "nightly_batch", "ingest_serve", "corpus_dedup"
    }
    assert set(M.SPAN_SUMS) | set(M.TRIGGER_PHASES) <= set(layer)


def test_every_workload_reports_every_end_to_end_metric():
    from perfbench.corpus_dedup import CorpusDedup
    from perfbench.ingest_serve import IngestServe
    from perfbench.nightly import Nightly

    for cls in (Nightly, IngestServe, CorpusDedup):
        for method in ("generate", "warmup", "timed", "check", "end_to_end", "report_lines",
                       "trace_targets", "trace_extras", "layer_extras"):
            assert callable(getattr(cls, method)), (cls.__name__, method)
    wanted = {n for n, *_ in M.END_TO_END} - {"setup_s", "heap_live_mb"}
    n = Nightly(ctx=None)
    n.batches = gen.nightly_batches(1, 3, 100, 10)
    got = n.end_to_end({"day_s": [9.0, 2.0, 3.0], "fresh_s": [5.0, 0.6, 0.7]})
    assert set(got) == wanted
    assert got["latency_ms"] == 2500.0  # the cold first day is left out
    i = IngestServe(ctx=None)
    got = i.end_to_end({
        "serve_s": {"page": [0.1], "seek": [0.2], "count": [0.3]},
        "lag_s": [1.0, 2.0],
    })
    assert set(got) == wanted
    c = CorpusDedup(ctx=None)
    c.corpus = gen.corpus(1, 50, 2, 2, 3)
    got = c.end_to_end({"batch_s": [2.0], "inc_s": [1.0]})
    assert set(got) == wanted
    assert all(v > 0 for v in got.values())
