"""Tests for the benchmark's own helpers (no Spark session needed).

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import re
import sys
import time
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import corpus as C  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402
from spans import Tracer  # noqa: E402
from pyspark_minhash_lsh_spark.functions.text import tokens_local  # noqa: E402

SMALL = C.CorpusParams(docs=400, vocab=500)


def test_generator_is_deterministic_per_seed():
    a = C.generate(SMALL, 7)
    b = C.generate(SMALL, 7)
    c = C.generate(SMALL, 8)
    assert a.texts == b.texts
    assert np.array_equal(a.family, b.family) and np.array_equal(a.source, b.source)
    assert a.texts != c.texts
    # a longer corpus extends the same stream: its prefix is the short corpus
    longer = C.generate(C.CorpusParams(docs=500, vocab=500), 7)
    assert longer.texts[:400] == a.texts


def test_generator_plants_families():
    corpus = C.generate(SMALL, 3)
    pairs = corpus.planted_pairs()
    assert 0.1 < len(pairs) / SMALL.docs < 0.3
    for child, src in pairs:
        assert src < child
        assert corpus.family[child] == corpus.family[src]
        assert corpus.texts[child] != corpus.texts[src]
    fresh = [i for i in range(SMALL.docs) if corpus.source[i] < 0]
    assert all(corpus.family[i] == i for i in fresh)


def test_words_are_single_engine_tokens():
    corpus = C.generate(SMALL, 1)
    words = [C.word(i) for i in range(SMALL.vocab)]
    assert len(set(words)) == SMALL.vocab
    for toks, text in zip(corpus.tokens[:50], corpus.texts[:50]):
        assert tokens_local(text) == [words[t] for t in toks]


def test_truth_jaccard_matches_tokens_local_shingles():
    corpus = C.generate(SMALL, 5)
    pairs = corpus.planted_pairs()[:40]
    got = C.true_jaccard(corpus, pairs)
    for (a, b), j in zip(pairs, got):
        ta, tb = tokens_local(corpus.texts[a]), tokens_local(corpus.texts[b])
        sa = {(x, y) for x, y in zip(ta, ta[1:])}
        sb = {(x, y) for x, y in zip(tb, tb[1:])}
        assert j == pytest.approx(len(sa & sb) / len(sa | sb))
    # planted 5% edits keep families well above unrelated pairs
    assert got.mean() > 0.6
    assert C.true_jaccard(corpus, [(0, 1), (2, 3)]).max() < 0.3


@pytest.mark.parametrize("n, pct", [
    (9, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
    (999, 90.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_needs_ten_samples_beyond(n, pct):
    assert M.supported_tail(n) == pct
    if pct is not None:
        assert round(n * (100 - pct) / 100, 9) >= M.TAIL_MIN_BEYOND


def test_latency_summary_and_percentile():
    xs = [float(i) for i in range(1, 101)]
    s = M.latency_summary(xs)
    assert s["n"] == 100 and s["tail_pct"] == 90.0
    assert s["tail_ms"] == pytest.approx(np.percentile(xs, 90) * 1e3)
    assert s["p50_ms"] == pytest.approx(50.5e3)
    assert "tail_pct" not in M.latency_summary(xs[:15])


def test_metric_names_match_contract_and_benchmark_json():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    pat = re.compile(r"^[A-Za-z0-9_.-]+$")
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    names = list(e2e) + list(layer) + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert pat.match(name) and M.NAME_RE.match(name), name
    assert {w["name"] for w in spec["workloads"]} == set(W.WORKLOADS)


def test_wrong_results_count_as_failures():
    tally = M.Tally()
    tally.record("dedup", M.check_ids_once(range(4), [0, 1, 2, 3]))
    tally.record("dedup", M.check_ids_once(range(4), [0, 1, 1, 3]))
    tally.record("dedup", M.check_ids_once(range(4), [0, 1, 2]))
    tally.record("topk", M.check_exact_copy([(5, 1.0), (9, 0.8)], 5))
    tally.record("topk", M.check_exact_copy([(4, 1.0), (5, 1.0)], 5))
    tally.record("topk", M.check_exact_copy([(4, 0.9), (5, 0.9)], 5))
    tally.record("topk", M.check_same_rows([(1, 0.5)], [(1, 0.5)]))
    tally.record("topk", M.check_same_rows([(1, 0.5)], [(2, 0.5)]))
    tally.record("topk", M.check_ranked([(1, 0.4), (2, 0.9)]))
    assert tally.attempted == 9
    assert tally.failed == 5
    assert tally.failed_frac == pytest.approx(5 / 9)


def test_judge_query_flags_a_wrong_exact_copy_and_counts_recall():
    corpus = C.generate(SMALL, 2)
    ctx = W.Ctx(None, None, corpus, SMALL.docs, W.QueryStream(corpus, 2), "")
    exact = W.Query(corpus.texts[3], "exact", 3)
    assert W.judge_query(ctx, exact, [(3, 1.0)], "r") is None
    assert W.judge_query(ctx, exact, [(7, 0.6), (3, 0.5)], "r") is not None
    edit = W.Query("x", "edit", 3)
    W.judge_query(ctx, edit, [(3, 0.8)], "r")
    W.judge_query(ctx, edit, [(9, 0.8)], "r")
    assert ctx.hits["r"] == [1, 2]


def test_query_stream_is_seeded_and_mixed():
    corpus = C.generate(SMALL, 4)
    qa, qb = W.QueryStream(corpus, 4), W.QueryStream(corpus, 4)
    xs = [qa.make(SMALL.docs) for _ in range(300)]
    assert xs == [qb.make(SMALL.docs) for _ in range(300)]
    kinds = [q.kind for q in xs]
    # dealt in cycles of ten: every 10 queries hold exactly the 70/10/20 mix
    assert (kinds.count("edit"), kinds.count("exact"), kinds.count("novel")) == (210, 30, 60)
    assert kinds[:10] != kinds[10:20]


class _FakeContext:
    """The two SparkContext calls a tracer makes per span."""

    def setJobGroup(self, *args):
        pass

    def setLocalProperty(self, *args):
        pass


def test_around_spans_calls_and_restores_them():
    class Engine:
        def work(self):
            time.sleep(0.02)
            return 7

    original = Engine.work
    tracer = Tracer(_FakeContext(), enabled=True)
    with tracer.span("dedup.op") as op, tracer.around([(Engine, "work", "dedup.work_call")]):
        assert Engine().work() == 7
        time.sleep(0.01)
    assert Engine.work is original
    (call,) = tracer.by_name("dedup.work_call")
    assert call.parent == op.sid and op.children == [call.sid]
    # the operation's own time excludes the spanned call, and is never negative
    assert 0.0 <= tracer.self_time(op) < op.duration - 0.015
    with Tracer(_FakeContext(), enabled=False).around([(Engine, "work", "x")]):
        assert Engine.work is original
