"""Tests of the benchmark's own code (no Spark needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import stats  # noqa: E402
from tracing import Span, parse_event_log, self_times, span_attrs, union_length  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _inputs(seed: int):
    rng = np.random.default_rng(seed)
    events = gen.events_table(rng, 500, 40, 1.2)
    docs, pairs = gen.documents(rng, 60, dup_rate=0.1, vocab_size=300, s=1.1)
    emb, x = gen.embeddings(rng, 120, dim=8, clusters=4, noise=0.3)
    calls = [gen.small_call(seed, i) for i in range(3)]
    return events, docs, pairs, emb, gen.exact_topk(x, np.array([0, 5]), 3), calls


def test_generator_same_seed_same_inputs():
    a, b = _inputs(7), _inputs(7)
    for ta, tb in zip(a[:2], b[:2]):
        assert ta.equals(tb)
    assert a[2] == b[2] and a[3].equals(b[3]) and a[4] == b[4]
    for (da, la, ga), (db, lb, gb) in zip(a[5], b[5]):
        assert np.array_equal(da, db) and la == lb and ga == gb


def test_generator_other_seed_other_inputs():
    a, b = _inputs(7), _inputs(8)
    assert not a[0].equals(b[0])
    assert not a[1].equals(b[1])
    assert not a[3].equals(b[3])
    assert not np.array_equal(a[5][0][0], b[5][0][0]) or a[5][0][2] != b[5][0][2]


def test_small_calls_blocks_ask_every_seed_for_the_same_work():
    for seed in (1, 2):
        block = [gen.small_call(seed, i) for i in range(len(gen.CALL_DESIGN))]
        shapes = sorted((d.shape[0] if lay == "row" else d.shape[1], d.size, len(lags)) for d, lay, lags in block)
        assert shapes == sorted((s, s * n, k) for s, n, k in gen.CALL_DESIGN)
        assert all(len(set(lags)) == len(lags) and max(lags) <= 10 for _, _, lags in block)


def test_generated_events_order_and_hot_key():
    rng = np.random.default_rng(3)
    tbl = gen.events_table(rng, 5_000, 100, 1.2)
    ts = tbl.column("ts").to_numpy()
    assert (np.diff(ts.astype("int64")) >= 0).all()
    props = gen.event_props(tbl, 1.2)
    assert props["rows"] == 5_000 and props["keys"] <= 100
    assert props["hot_key_share"] > 0.1  # the Zipf head is one hot series


def test_planted_pairs_carry_true_jaccard():
    rng = np.random.default_rng(11)
    docs, pairs = gen.documents(rng, 100, dup_rate=0.1, vocab_size=500, s=1.1)
    texts = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    assert len(pairs) == 10
    for a, b, j in pairs:
        assert j == gen.jaccard(texts[a], texts[b])
        assert 0.0 < j <= 1.0


def test_shingles_match_program_tokenization():
    assert gen.shingles("A b, C d!") == {"a b c", "b c d"}
    assert gen.shingles("one two") == {"one two"}
    assert gen.jaccard("a b c d", "a b c e") == pytest.approx(1 / 3)


def test_exact_topk_excludes_self_and_orders_by_cosine():
    x = np.array([[1, 0], [0.9, 0.1], [0, 1], [0.5, 0.5]], dtype=np.float32)
    assert gen.exact_topk(x, np.array([0]), 2) == {0: [1, 3]}


@pytest.mark.parametrize(
    "n, want",
    [(1000, 99), (999, 95), (200, 95), (199, 90), (100, 90), (99, 75), (40, 75), (39, None), (5, None)],
)
def test_tail_percentile_has_ten_samples_beyond(n, want):
    assert stats.tail_rank(n) == want


def test_summary_reports_median_tail_and_count():
    s = stats.summary(list(range(1, 101)))
    assert s["n"] == 100 and s["p50"] == 50.5
    assert s["p90"] == pytest.approx(np.percentile(range(1, 101), 90))
    assert set(stats.summary([1.0, 2.0, 3.0])) == {"n", "p50"}


def test_union_length_merges_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert union_length([], 0, 1) == 0


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span(0, "root", 0.0, 10.0, None, "w", "r"),
        Span(1, "a", 1.0, 4.0, 0, "w", "r"),
        Span(2, "b", 3.0, 6.0, 0, "w", "r"),  # overlaps a: 1..6 covered
        Span(3, "c", 2.0, 3.0, 1, "w", "r"),  # grandchild: counts against a only
        Span(4, "d", 9.0, 12.0, 0, "w", "r"),  # runs past its parent: clipped
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10 - 5 - 1)
    assert got[1] == pytest.approx(3 - 1)
    assert got[2] == pytest.approx(3)
    assert got[3] == pytest.approx(1)


def test_event_log_parser_on_captured_log():
    """A captured log trimmed to two jobs: a labelled mapInPandas job
    (EWMA scan) and one micro-batch of a stateful streaming query, whose
    description names the query, not a span."""
    with open(os.path.join(DATA, "tiny_eventlog.json")) as fh:
        jobs, stages = parse_event_log(fh)
    assert [j.id for j in jobs] == [1, 3]
    assert jobs[0].description == "operators.ewma.scan #0"
    ewma, micro = stages[2], stages[5]
    assert ewma.tasks == 1 and ewma.exec_run_ms == 1812
    assert ewma.python_ms == 1667 and ewma.to_python_bytes == 520 and ewma.from_python_bytes == 936
    assert micro.tasks == 2 and micro.exec_run_ms == 685 + 742
    assert micro.state_commit_ms == 82 + 71 and micro.state_rows == 2

    spans = [
        Span(0, "operators.ewma.scan", 1792219584.8, 1792219586.8, None, "w", "r"),
        Span(1, "streaming.lag_stream", 1792219588.9, 1792219590.1, None, "w", "r"),
    ]
    attrs = span_attrs(spans, jobs, stages)
    assert attrs[0]["jobs"] == 1 and attrs[0]["tasks"] == 1
    assert attrs[0]["python_s"] == pytest.approx(1.667)
    assert attrs[0]["driver_s"] == pytest.approx(2.0 - (1792219586.684 - 1792219584.811), abs=1e-6)
    # the micro-batch job is unlabelled: attributed by submission time
    assert attrs[1]["jobs"] == 1 and attrs[1]["tasks"] == 2
    assert attrs[1]["state_commit_ms"] == 153


@pytest.mark.parametrize("seconds, pass_s, want", [(8, 4.5, 2), (8, 6.5, 1), (4, 3.0, 1), (8, 1.76, 5), (1, 20, 1)])
def test_pass_count_depends_on_the_budget_only(seconds, pass_s, want):
    import harness

    assert harness.passes_for(seconds, pass_s) == want
