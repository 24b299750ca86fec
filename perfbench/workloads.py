"""The closed-loop workloads (one client each) and the traced sweep.

Every timed call goes through ``Tracer.span`` so the untraced and traced
runs execute the same code; a disabled tracer only reads the clock.

Sizes are chosen so one untraced run (JVM start, set-up, ``--seconds`` of
measurement, checks) takes about a minute on a 4-core host.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark_minhash_lsh_spark import MinHashLSH, MinHashLSHModel
from pyspark_minhash_lsh_spark.operators import dedup as dedup_ops
from pyspark_minhash_lsh_spark.functions.hashing import (
    lsh_band_keys_local,
    minhash_query_signature_local,
)
from pyspark_minhash_lsh_spark.operators.dedup import (
    connected_components,
    minhash_dedup,
)
from pyspark_minhash_lsh_spark.operators.lsh_serving import (
    LshServingIndex,
    pruned_postings,
    save_serving_index,
)

from corpus import Corpus, TokenSource, shingle_count, true_jaccard
from metrics import (
    Tally,
    check_exact_copy,
    check_ids_once,
    check_ranked,
    check_same_rows,
    first_failure,
)
from spans import Tracer

THRESHOLD = 0.8          # dedup / join similarity threshold
PRECISION_J = 0.7        # an output pair is "right" at true Jaccard >= this
TOPN = 10
BAND_PARTITIONS = 64
APPEND_DOCS = 1_000
APPEND_EVERY = 4         # serve: queries between two appends
MAX_APPENDS = 10         # append batches generated up front
BATCH_QUERIES = 2_000
PARITY_EVERY = 8         # serve: every 8th query is checked against the in-session plan
# 70% edited copies, 10% exact copies, 20% novel text, dealt in shuffled
# cycles of ten so every run sees the same mix however many queries it makes
QUERY_KINDS = ("edit",) * 7 + ("exact",) + ("novel",) * 2
DEDUP_WARMUPS = 2        # dedup operations run before timing
SERVE_WARMUPS = 6        # serve: queries run before timing (plus one append)

#: the public calls ``minhash_dedup`` makes; a traced dedup operation spans
#: each, so ``dedup.rest_s`` is the time the call spends outside them
DEDUP_CALLS = (
    (MinHashLSH, "fit", "minhash_lsh.fit_call"),
    (MinHashLSHModel, "approx_similarity_join", "minhash_lsh.join_call"),
    (dedup_ops, "connected_components", "dedup.cc_call"),
)


@dataclass
class Query:
    text: str
    kind: str            # "edit" | "exact" | "novel"
    doc: "int | None"    # the doc an edit/exact query copies


class QueryStream:
    """Seeded query generator, independent of the corpus stream."""

    def __init__(self, corpus: Corpus, seed: int) -> None:
        self.corpus = corpus
        self.src = TokenSource(np.random.default_rng([seed, 1]), corpus.params.vocab)
        self.rng = self.src.rng
        self.kinds: list = []

    def make(self, live_docs: int) -> Query:
        if not self.kinds:
            self.kinds = list(self.rng.permutation(QUERY_KINDS))
        kind = self.kinds.pop()
        if kind == "edit":
            return self.edit_of(live_docs)
        if kind == "exact":
            return self.copy_of(0, live_docs)
        return Query(self.src.text(self.src.fresh(self.corpus.params)), "novel", None)

    def edit_of(self, live_docs: int) -> Query:
        d = int(self.rng.integers(live_docs))
        toks = self.src.edit(self.corpus.tokens[d], self.corpus.params.edit_frac)
        return Query(self.src.text(toks), "edit", d)

    def copy_of(self, lo: int, hi: int) -> Query:
        d = int(self.rng.integers(lo, hi))
        return Query(self.corpus.texts[d], "exact", d)


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    corpus: Corpus            # base docs plus the serve append batches
    n_docs: int               # base corpus size
    queries: QueryStream
    work: str
    df: object = None         # the base corpus, read back from parquet
    tally: Tally = field(default_factory=Tally)
    times: dict = field(default_factory=lambda: defaultdict(list))
    counts: dict = field(default_factory=lambda: defaultdict(list))
    hits: dict = field(default_factory=lambda: defaultdict(lambda: [0, 0]))

    def frame(self, lo: int, hi: int, id_col: str = "doc_id"):
        pdf = pd.DataFrame({id_col: np.arange(lo, hi, dtype=np.int64),
                            "text": self.corpus.texts[lo:hi]})
        return self.spark.createDataFrame(pdf)

    def hit(self, name: str, ok: bool) -> None:
        h = self.hits[name]
        h[0] += int(ok)
        h[1] += 1

    def span(self, name: str, op: "int | None" = None):
        return self.tracer.span(name, op)

    def timed_op(self, name: str, fn):
        """Run one operation; an exception is a failed operation, not a
        crashed run (its traceback line goes to the tally)."""
        try:
            return fn()
        except Exception as e:  # the loop must keep running; failure is recorded
            self.tally.record(name, f"raised {type(e).__name__}: {str(e)[:200]}")
            return None


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def top_rows(df, id_col: str = "doc_id") -> list:
    return [(r[id_col], r["jaccard"]) for r in df.collect()]


def judge_query(ctx: Ctx, q: Query, rows: list, recall_key: str) -> "str | None":
    if q.kind == "edit":
        ctx.hit(recall_key, q.doc in {i for i, _ in rows})
    return first_failure(
        check_ranked(rows, TOPN),
        check_exact_copy(rows, q.doc) if q.kind == "exact" else None,
    )


# -- dedup ----------------------------------------------------------------------

def dedup_truth(ctx: Ctx) -> list:
    pairs = [(a, b) for a, b in ctx.corpus.planted_pairs() if a < ctx.n_docs]
    tj = true_jaccard(ctx.corpus, pairs)
    return [p for p, j in zip(pairs, tj) if j >= THRESHOLD]


def dedup_once(ctx: Ctx, truth: list, op: "int | None" = None):
    """One timed dedup operation, checked; returns its span."""
    ctx.spark.catalog.clearCache()
    with ctx.span("dedup.minhash_dedup_s", op) as s, ctx.tracer.around(DEDUP_CALLS):
        out = minhash_dedup(ctx.df, threshold=THRESHOLD)
        noop(out)
    ctx.times["dedup_op"].append(s.duration)
    pdf = out.select("doc_id", "component").toPandas()
    reason = check_ids_once(range(ctx.n_docs), pdf["doc_id"])
    if reason is None:
        comp = dict(zip(pdf["doc_id"].tolist(), pdf["component"].tolist()))
        hits = sum(comp[a] == comp[b] for a, b in truth)
        ctx.hits["dedup_recall"] = [hits, len(truth)]
        pdf["family"] = ctx.corpus.family[pdf["doc_id"].to_numpy()]
        g = pdf.groupby("component")["family"].agg(["size", "nunique"])
        multi = g[g["size"] > 1]
        ctx.hits["dedup_mixed_cluster_frac"] = [int((multi["nunique"] > 1).sum()), len(multi)]
    ctx.tally.record("dedup", reason)
    return s


def dedup_split(ctx: Ctx) -> tuple:
    """The work of one ``minhash_dedup`` broken into its public calls, each
    materialized in its own span: returns the edge list and the labelled
    non-singleton nodes, both collected."""
    ctx.spark.catalog.clearCache()
    with ctx.span("minhash_lsh.fit_s"):
        model = MinHashLSH().fit(ctx.df)
        noop(model.index)
    with ctx.span("minhash_lsh.join_s"):
        noop(model.approx_similarity_join(THRESHOLD))
    with ctx.span("minhash_lsh.candidates_count_s"):
        ctx.counts["minhash_lsh.candidate_pairs"].append(
            model.approx_similarity_join(0.0).count())
    with ctx.span("dedup.edges_materialize_s"):
        edges = (model.approx_similarity_join(THRESHOLD)
                 .select("id_a", "id_b").localCheckpoint(eager=True))
    with ctx.span("dedup.cc_s"):
        comp = connected_components(edges)
        noop(comp)
    pairs, nodes = edges.toPandas(), comp.toPandas()
    model.unpersist()
    return pairs, nodes


def dedup_traced(ctx: Ctx, truth: list) -> None:
    """One dedup operation with its own public calls spanned
    (``DEDUP_CALLS``), then the same work split into materialized public
    calls (``dedup_split``) for the per-call costs. Inside ``minhash_dedup``
    the join runs lazily within connected components, so the split's spans
    are not a partition of the fused call: ``dedup.rest_s`` comes from the
    fused call's own spans."""
    op = ctx.tracer.new_op()
    with ctx.span("bench.dedup_op", op):
        fused = dedup_once(ctx, truth, op)
        pairs, nodes = dedup_split(ctx)
    n_pairs = len(pairs)
    ctx.counts["minhash_lsh.pairs_out"].append(n_pairs)
    ctx.counts["dedup.edges"].append(n_pairs)
    ctx.counts["dedup.components"].append(
        ctx.n_docs - len(nodes) + nodes["component"].nunique())
    if n_pairs:
        tj = true_jaccard(ctx.corpus, zip(pairs["id_a"].tolist(), pairs["id_b"].tolist()))
        ctx.counts["minhash_lsh.pair_precision"].append(float((tj >= PRECISION_J).mean()))
    ctx.counts["dedup.rest_s"].append(ctx.tracer.self_time(fused))


def warm_split(ctx: Ctx) -> None:
    """Untimed pass of ``dedup_split``, so the traced split runs on warm
    plans like the fused operation."""
    with ctx.tracer.paused():
        dedup_split(ctx)
    ctx.counts.pop("minhash_lsh.candidate_pairs", None)


def dedup_prepare(ctx: Ctx) -> dict:
    return {"truth": dedup_truth(ctx)}


def dedup_setup(ctx: Ctx, state: dict) -> None:
    for _ in range(DEDUP_WARMUPS):
        ctx.spark.catalog.clearCache()
        noop(minhash_dedup(ctx.df, threshold=THRESHOLD))


def dedup_step(ctx: Ctx, state: dict, traced: bool) -> None:
    if traced:
        ctx.timed_op("dedup", lambda: dedup_traced(ctx, state["truth"]))
    else:
        ctx.timed_op("dedup", lambda: dedup_once(ctx, state["truth"]))


# -- serve ----------------------------------------------------------------------

def fit_model(ctx: Ctx):
    with ctx.span("minhash_lsh.fit_s"):
        model = MinHashLSH().fit(ctx.df)
        noop(model.index)
    return model


def artifact_files(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


class Serve:
    """Serving artifact plus an in-session mirror model of the same docs
    (the base fit extended with ``add_documents`` on every append), which
    the parity check compares against."""

    def __init__(self, ctx: Ctx, model, path: str) -> None:
        self.ctx = ctx
        self.path = path
        with ctx.span("lsh_serving.save_s"):
            save_serving_index(model, path, band_partitions=BAND_PARTITIONS)
        with ctx.span("lsh_serving.load_s"):
            self.srv = LshServingIndex.load(ctx.spark, path)
        self.mirror = model
        self.live = ctx.n_docs
        self.batches = 0
        self.since_append = 0
        self.after_append = False
        self.parity: list = []   # (query, served rows, mirror model at query time)
        self.seen = 0

    def append(self) -> None:
        ctx = self.ctx
        if self.batches >= MAX_APPENDS:
            return
        lo = ctx.n_docs + self.batches * APPEND_DOCS
        batch = ctx.frame(lo, lo + APPEND_DOCS)
        with ctx.span("lsh_serving.append_s") as s:
            self.srv.append(batch)
        ctx.times["append"].append(s.duration)
        ctx.counts["lsh_serving.artifact_files"].append(artifact_files(self.path))
        self.mirror = self.mirror.add_documents(batch)
        self.batches += 1
        self.live = lo + APPEND_DOCS
        self.after_append = True
        ctx.tally.record("append", None)

    def query(self, traced: bool) -> None:
        ctx = self.ctx
        if self.after_append:
            lo = self.live - APPEND_DOCS
            q = ctx.queries.copy_of(lo, self.live)
        else:
            q = ctx.queries.make(self.live)
        op = ctx.tracer.new_op()
        with ctx.span("bench.topk_op", op) as s:
            with ctx.span("lsh_serving.topk_plan_s"):
                plan = self.srv.topk(q.text, n=TOPN)
            with ctx.span("lsh_serving.topk_exec_s"):
                rows = top_rows(plan)
        ctx.times["topk"].append(s.duration)
        if self.after_append:
            ctx.times["first_after_append"].append(s.duration)
            self.after_append = False
        if traced:
            self._layer_counts(q)
        reason = judge_query(ctx, q, rows, "recall_at_10")
        self.seen += 1
        if self.seen % PARITY_EVERY == 0:
            self.parity.append((q, rows, self.mirror, reason))
        else:
            ctx.tally.record("topk", reason)

    def _layer_counts(self, q: Query) -> None:
        ctx = self.ctx
        c = self.srv.lsh.config
        sig = minhash_query_signature_local(q.text, c.shingle_size, c.num_hashes, c.seed)
        keys = lsh_band_keys_local(sig, c.num_bands, c.rows_per_band)
        ctx.counts["lsh_serving.band_partitions_touched"].append(
            len({k % BAND_PARTITIONS for k in keys}))
        bands = ctx.spark.read.parquet(self.path + "/bands")
        ctx.counts["lsh_serving.candidates_per_query"].append(
            pruned_postings(bands, keys, BAND_PARTITIONS)
            .select("doc_id").distinct().count())

    def step(self, traced: bool) -> None:
        if self.since_append == APPEND_EVERY:
            self.ctx.timed_op("append", self.append)
            self.since_append = 0
        self.ctx.timed_op("topk", lambda: self.query(traced))
        self.since_append += 1

    def check_parity(self) -> None:
        """Deferred checks: served rows equal the in-session plan's rows."""
        for q, rows, mirror, reason in self.parity:
            want = top_rows(mirror.approx_nearest_neighbors_plan(
                q.text, n=TOPN, use_band_keys=True, with_text=False))
            self.ctx.tally.record("topk", first_failure(reason, check_same_rows(rows, want)))
        self.parity = []


def serve_setup(ctx: Ctx, state: dict) -> None:
    state["model"] = fit_model(ctx)
    state["serve"] = serve = Serve(ctx, state["model"], os.path.join(ctx.work, "artifact"))
    with ctx.tracer.paused():
        for i in range(SERVE_WARMUPS):
            if i == SERVE_WARMUPS // 2:
                serve.append()
            serve.query(traced=False)


def serve_step(ctx: Ctx, state: dict, traced: bool) -> None:
    state["serve"].step(traced)


def serve_finish(ctx: Ctx, state: dict) -> None:
    state["serve"].check_parity()


# -- search ---------------------------------------------------------------------

@dataclass
class Batch:
    queries: list
    df: object


def query_batch(ctx: Ctx, live: int) -> Batch:
    qs = [ctx.queries.make(live) for _ in range(BATCH_QUERIES)]
    pdf = pd.DataFrame({"query_id": np.arange(BATCH_QUERIES, dtype=np.int64),
                        "text": [q.text for q in qs]})
    return Batch(qs, ctx.spark.createDataFrame(pdf))


def batch_op(ctx: Ctx, model, batch: Batch) -> None:
    with ctx.span("minhash_lsh.batch_ann_s") as s:
        noop(model.approx_nearest_neighbors_batch(batch.df, n=TOPN, with_text=False))
    ctx.times["batch"].append(s.duration)


def single_op(ctx: Ctx, model) -> None:
    q = ctx.queries.make(ctx.n_docs)
    op = ctx.tracer.new_op()
    with ctx.span("bench.ann_op", op) as s:
        with ctx.span("minhash_lsh.ann_plan_s"):
            plan = model.approx_nearest_neighbors(q.text, n=TOPN, with_text=False)
        with ctx.span("minhash_lsh.ann_exec_s"):
            rows = top_rows(plan)
    ctx.times["ann"].append(s.duration)
    ctx.tally.record("ann", judge_query(ctx, q, rows, "search_recall_at_10"))


def verify_batch(ctx: Ctx, model, batch: Batch) -> "str | None":
    """Collect one batch result (untimed) and check every query's rows."""
    pdf = model.approx_nearest_neighbors_batch(
        batch.df, n=TOPN, with_text=False).toPandas()
    by_q = {qid: g.sort_values("rank") for qid, g in pdf.groupby("query_id")}
    bad = None
    for qid, q in enumerate(batch.queries):
        g = by_q.get(qid)
        rows = [] if g is None else list(zip(g["doc_id"].tolist(), g["jaccard"].tolist()))
        ranks = [] if g is None else g["rank"].tolist()
        reason = first_failure(
            None if ranks == list(range(1, len(ranks) + 1)) else f"ranks {ranks}",
            judge_query(ctx, q, rows, "search_recall_at_10"),
        )
        if reason is not None and bad is None:
            bad = f"query {qid}: {reason}"
    return bad


def search_step(ctx: Ctx, state: dict) -> None:
    ctx.timed_op("batch_ann", lambda: batch_op(ctx, state["model"], state["batch"]))
    ctx.timed_op("ann", lambda: single_op(ctx, state["model"]))


def search_finish(ctx: Ctx, state: dict) -> None:
    """Batch ops are checked once, on a collected re-run of the same batch;
    every timed batch op shares that verdict."""
    reason = verify_batch(ctx, state["model"], state["batch"])
    for _ in ctx.times["batch"]:
        ctx.tally.record("batch_ann", reason)


# -- traced sweep ---------------------------------------------------------------

def hashing_probe(ctx: Ctx, batch: Batch) -> None:
    lsh = MinHashLSH()
    with ctx.span("hashing.transform_s") as s:
        noop(lsh.transform(ctx.df))
    shingles = shingle_count(ctx.corpus.texts[:ctx.n_docs])
    ctx.counts["hashing.shingles_per_s"].append(shingles / s.duration)
    with ctx.span("hashing.query_transform_s"):
        noop(lsh.transform(batch.df, id_col="query_id"))


def batch_candidates(ctx: Ctx, model, batch: Batch) -> None:
    every = model.approx_nearest_neighbors_batch(batch.df, n=2**31 - 1, with_text=False)
    ctx.counts["minhash_lsh.batch_candidates_per_query"].append(
        every.count() / BATCH_QUERIES)


def sweep(ctx: Ctx, workload: str, state: dict) -> None:
    """Traced runs report every layer metric on every workload: the layers
    this workload's loop does not exercise get one pass each here. The
    in-session search calls (batch and single-string ANN) have no workload
    of their own and are swept on every traced run. Dedup goes last: it
    clears Spark's cache, which holds the fitted index the others query."""
    model = state.get("model") or fit_model(ctx)
    search = {"model": model, "batch": query_batch(ctx, ctx.n_docs)}
    with ctx.tracer.paused():
        batch_op(ctx, model, search["batch"])  # warm-up
        single_op(ctx, model)
    ctx.times["batch"].clear()
    ctx.times["ann"].clear()
    ctx.hits.pop("search_recall_at_10", None)
    for _ in range(2):
        search_step(ctx, search)
    search_finish(ctx, search)
    batch_candidates(ctx, model, search["batch"])
    hashing_probe(ctx, search["batch"])
    if workload != "serve":
        serve = Serve(ctx, model, os.path.join(ctx.work, "artifact"))
        for _ in range(2):
            serve.step(traced=True)
        serve.since_append = APPEND_EVERY
        serve.step(traced=True)
        serve.check_parity()
    if workload != "dedup":
        warm_split(ctx)
        ctx.timed_op("dedup", lambda: dedup_traced(ctx, dedup_truth(ctx)))


def no_prepare(ctx: Ctx) -> dict:
    return {}


#: name -> (prepare, setup, step, finish). ``prepare`` builds benchmark-side
#: inputs and is not charged to set-up; ``setup`` holds the engine's set-up
#: calls and warm-up operations.
WORKLOADS = {
    "dedup": (dedup_prepare, dedup_setup, dedup_step, None),
    "serve": (no_prepare, serve_setup, serve_step, serve_finish),
}


def run_loop(ctx: Ctx, workload: str, state: dict, seconds: float, op: str,
             trace: bool = False) -> dict:
    """Closed loop: the next operation starts when the previous one ends;
    at least one step runs even if the budget is already spent. With
    ``trace``, every third step is traced, so traced and untraced steps see
    the same warm-up and artifact growth (a period of three, not two, so
    serve's append on every ``APPEND_EVERY``-th step lands in both kinds).
    Returns the ``op`` samples each kind of step took, keyed by whether it
    was traced."""
    step = WORKLOADS[workload][2]
    samples: dict = {False: [], True: []}
    deadline = time.perf_counter() + seconds
    steps = 0
    while steps < 1 + trace or time.perf_counter() < deadline:
        traced = trace and steps % 3 == 1
        ctx.tracer.enabled = traced
        n = len(ctx.times[op])
        step(ctx, state, traced)
        samples[traced] += ctx.times[op][n:]
        steps += 1
    ctx.tracer.enabled = trace
    return samples
