"""The two workloads, their set-up, and the probes the traced run adds.

Every workload is a closed loop with one client: the next call is sent only
after the previous one returned. Timed regions hold only the engine call;
input generation and oracle checks run outside them.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from collections import defaultdict
from itertools import islice

from lucene_spark.corpus import corpus_df, make_corpus, make_query_set
from lucene_spark.index.builder import IndexBuilder, IndexConfig
from lucene_spark.index.compaction import compact
from lucene_spark.index.reader import IndexReader
from lucene_spark.search import plan as P
from lucene_spark.search.kernel import eval_node, topk_local
from lucene_spark.search.searcher import IndexSearcher
from lucene_spark.streaming.index_stream import StreamingIndexer

from perfbench import inputs
from perfbench.checks import KEY, plan_terms, same_topk

CORES = 4                 # local[CORES] serves the load
SHUFFLE_PARTITIONS = 8
DOCS = 2000               # bulk corpus, both workloads
CFG = IndexConfig(partitions=4, num_buckets=4, termdict_partitions=2, analyzer="code")
SETUP_REPS = 3            # set-ups per run; setup_s is their median
INGEST_DOCS = 100         # docs per micro-batch commit
MIN_COMMITS = 2           # timed commits per run, at least
FRESH_BATCH = 200         # query instances in the batch after each commit
SCALING_BATCH = 500       # query instances in the c1/c4 batch pass
PROBE_QUERIES = [("index*", 10), ("quer?", 10), ("term~1", 10),
                 ("[index TO merge]", 10), ("index AND writer", 10), ("license", 10)]
MULTI_TERM = (P.PrefixNode, P.RegexpNode, P.FuzzyNode, P.TermRangeNode)


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def bytes_written(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes in files that are new or changed size between two listings."""
    return sum(n for p, n in after.items() if before.get(p) != n)


class Run:
    """State of one benchmark run: the session, the index, the oracle
    (a checks.TruthProcess), the timed samples and the operation counts."""

    def __init__(self, spark, tracer, truth, work: str, seed: int, seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.idx = os.path.join(work, "index")
        self.src_dir = os.path.join(work, "corpus")
        self.truth = truth
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.phases: list[dict] = []
        self.bulk_bytes = 0       # source content bytes of the bulk corpus
        self.ingest_written = 0
        self.ingested_bytes = 0
        self.compaction_written = 0
        self.next_batch_id = 0
        self._own: dict[str, tuple[float, IndexSearcher]] = {}
        self._plans: dict[tuple[float, str], P.Node] = {}

    # ---- operations ----------------------------------------------------
    def call(self, name: str, fn):
        """One engine call at the loop boundary: timed, traced, counted.
        A raised error counts as a failed operation and the loop goes on.
        Returns (result or None, seconds or None)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                out = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.fail(f"{name} raised")
            return None, None
        return out, time.perf_counter() - t0

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what)

    def check(self, ok: bool, what: str) -> None:
        """A wrong result of an operation already counted as attempted."""
        if not ok:
            self.fail(what)

    # ---- oracle side ---------------------------------------------------
    def own_searcher(self, role: str) -> tuple[float, IndexSearcher]:
        """(snapshot, searcher): a searcher of the run's own for `role` on
        the current snapshot, reopened after each commit or compaction, so
        the served searcher's caches stay as the workload left them."""
        snap = os.path.getmtime(os.path.join(self.idx, "manifest.json"))
        if role not in self._own or self._own[role][0] != snap:
            self._own[role] = (snap, IndexSearcher(IndexReader(self.spark, self.idx)))
        return self._own[role]

    def plan(self, q: str) -> P.Node:
        """The expanded plan of `q` over the current snapshot (the plan the
        repo's parity tests hand to the oracle)."""
        snap, planner = self.own_searcher("plan")
        if (snap, q) not in self._plans:
            self._plans[snap, q] = planner._plan(q)
        return self._plans[snap, q]

    def verify_topk(self, q: str, k: int, got) -> None:
        want = self.truth.topk(self.plan(q), k)
        self.check(same_topk(got, want), f"top-{k} of {q!r} differs from the oracle")

    def verify_count(self, q: str, got) -> None:
        self.check(got == self.truth.count(self.plan(q)), f"count of {q!r} differs from the oracle")

    def docstats(self, searcher):
        cols = KEY + ["doc_id", "doclen", "sha256"]
        return searcher.reader.docstats().select(*cols).toPandas()


def _rows(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def _by_query(rows) -> dict[str, list[tuple[int, float]]]:
    out: dict[str, list] = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out[r["query_id"]].append((int(r["doc_id"]), float(r["score"])))
    return out


# ---- set-up ---------------------------------------------------------------
def setup(run: Run) -> IndexSearcher:
    """Write the seeded corpus, then build the index and open a searcher
    SETUP_REPS times. Set-up time is the build plus the open."""
    spark = run.spark
    corpus_df(spark, DOCS, seed=run.seed, partitions=CFG.partitions) \
        .write.mode("overwrite").parquet(run.src_dir)
    src = spark.read.parquet(run.src_dir)
    total, builds = [], []
    for _ in range(SETUP_REPS):
        run.tracer.new_request()
        t0 = time.perf_counter()
        run.attempted += 1
        with run.tracer.span("builder.build"):
            manifest = IndexBuilder(spark, CFG).build(src, run.idx, overwrite=True)
        t1 = time.perf_counter()
        with run.tracer.span("reader.open"):
            searcher = IndexSearcher(IndexReader(spark, run.idx))
        total.append(time.perf_counter() - t0)
        builds.append(t1 - t0)
        run.phases.append(manifest["phases"])
    run.samples["setup"] = total
    run.samples["build"] = builds
    pdf = make_corpus(DOCS, run.seed)
    run.bulk_bytes = int(pdf["content"].str.encode("utf-8").str.len().sum())
    bad = run.truth.add_rows(pdf, run.docstats(searcher))
    run.check(bad == 0, f"{bad} docstats rows disagree with the source after the build")
    return searcher


# ---- search_single ----------------------------------------------------------
def search_single(run: Run, searcher: IndexSearcher, traced_every: int = 0) -> None:
    """One warm-up round of the call stream, then single search() and
    count() calls over the prebuilt index until the run's time is up.
    With traced_every=2, every other search and every other count is
    traced, and a traced search is followed by its layer decomposition;
    the others stay untraced, so both kinds share the same index state
    and warm-up.

    The warm-up round is the first in this JVM and its Python workers to
    search and count. On the VM in README.md the first search and count
    took about 1.5x and 6x the median, and searches kept getting faster over
    the first dozen calls. The round is checked but neither timed nor
    traced, so a run's median does not depend on how many calls fit in
    its time."""
    done = []
    stream = inputs.single_stream(run.seed)
    tracer = run.tracer
    was_enabled, tracer.enabled = tracer.enabled, False
    for op, q, k in islice(stream, len(inputs.SINGLE_ROUND)):
        out, _ = _single_call(run, searcher, op, q, k)
        if out is not None:
            done.append((op, q, k, out))
    tracer.enabled = was_enabled
    seen: dict[str, int] = defaultdict(int)      # calls so far, per op
    deadline = time.perf_counter() + run.seconds
    for op, q, k in stream:
        if time.perf_counter() >= deadline:
            break
        traced = bool(traced_every) and seen[op] % traced_every == 0
        seen[op] += 1
        if traced_every:
            tracer.enabled = traced
        tracer.new_request()
        out, dt = _single_call(run, searcher, op, q, k)
        if dt is not None:
            tag = "" if not traced_every else ("_traced" if traced else "_untraced")
            run.samples[op + tag].append(dt)
            done.append((op, q, k, out))
        if traced and op == "search" and out is not None:
            decompose(run, q, k)
    if traced_every:
        tracer.enabled = True
    for op, q, k, out in done:
        if op == "search":
            run.verify_topk(q, k, _rows(out))
        else:
            run.verify_count(q, out)


def _single_call(run: Run, searcher: IndexSearcher, op: str, q: str, k: int):
    if op == "search":
        return run.call("searcher.search", lambda: searcher.search(q, k=k).collect())
    return run.call("searcher.count", lambda: searcher.count(q))


def decompose(run: Run, q: str, k: int) -> None:
    """Time the layers one search() passes through by calling each layer's
    public functions: parse, rewrite, dictionary expansion, term
    statistics, and the scoring kernel over the same plan. The calls go to
    a probe reader of the same snapshot that has seen the same traced
    queries, so its caches are about as warm as the served searcher's.
    The spans share the request of the search they follow."""
    tr = run.tracer
    probe = run.own_searcher("probe")[1]
    reader = probe.reader
    with tr.span("plan.parse"):
        node = probe.parse(q)
    with tr.span("plan.rewrite"):
        node = P.rewrite(P.apply_field(node, reader.default_field, only_default=True))
    terms = plan_terms(node)
    multi = _multi_term_nodes(node)
    if multi:
        with tr.span("reader.expand"):
            for n in multi:
                terms.update((n.field, t) for t in _expand(reader, n))
    if terms:
        with tr.span("reader.term_stats"):
            reader.term_stats(sorted(terms))
    plan = probe._plan(q)
    if isinstance(plan, P.MatchNoneNode):
        return
    ctx, n_post = run.truth.eval_context(plan, k)
    run.attempted += 1
    with tr.span("kernel.eval") as s:
        docs, scores = topk_local(*eval_node(plan, ctx), k)
    s.items = n_post
    got = [(int(d), float(v)) for d, v in zip(docs, scores)]
    run.check(same_topk(got, run.truth.topk(plan, k)), f"kernel top-{k} of {q!r} differs from the oracle")


def _multi_term_nodes(node: P.Node) -> list[P.Node]:
    if isinstance(node, MULTI_TERM):
        return [node]
    if isinstance(node, P.BooleanNode):
        return [m for c in node.clauses for m in _multi_term_nodes(c.node)]
    if isinstance(node, P.DisjunctionMaxNode):
        return [m for c in node.children for m in _multi_term_nodes(c)]
    return []


def _expand(reader: IndexReader, n: P.Node) -> list[str]:
    """The dictionary expansion IndexSearcher performs for a multi-term
    node, with the same arguments."""
    if isinstance(n, P.PrefixNode):
        return reader.expand_prefix(n.prefix, P.MAX_CLAUSE_COUNT, field=n.field)
    if isinstance(n, P.RegexpNode):
        return reader.expand_regexp(n.pattern, P.MAX_CLAUSE_COUNT, field=n.field)
    if isinstance(n, P.FuzzyNode):
        return reader.expand_fuzzy(n.term, n.max_edits, field=n.field)
    return reader.expand_range(n.lower, n.upper, n.include_lower, n.include_upper,
                               P.MAX_CLAUSE_COUNT, field=n.field)


# ---- ingest_search ----------------------------------------------------------
def ingest_cycle(run: Run, indexer: StreamingIndexer, tag: str | None = "") -> tuple | None:
    """Commit one seeded micro-batch, open a fresh searcher on the new
    snapshot, and run one search_many batch and three counts on it; their
    times go to the samples with suffix `tag`, or nowhere if it is None.
    Returns what check_cycle needs to check the snapshot against the
    oracle later, outside the loop's time, or None if the commit failed."""
    spark, b = run.spark, run.next_batch_id
    run.next_batch_id += 1
    pdf = inputs.ingest_rows(run.seed, DOCS, b, INGEST_DOCS)
    batch_df = spark.createDataFrame(pdf)
    batch = inputs.serving_batch(run.seed * 7919 + b, FRESH_BATCH)
    count_qs = inputs.fresh_counts(run.seed, b, DOCS + b * INGEST_DOCS, INGEST_DOCS)
    run.tracer.new_request()
    before = dir_files(run.idx)
    _, commit_s = run.call("stream.process_batch", lambda: indexer.process_batch(batch_df, b))
    if commit_s is None:
        return None
    run.ingest_written += bytes_written(before, dir_files(run.idx))
    run.ingested_bytes += int(pdf["content"].str.encode("utf-8").str.len().sum())
    searcher, _ = run.call("reader.open", lambda: IndexSearcher(IndexReader(spark, run.idx)))
    if searcher is None:
        return None
    rows, batch_s = run.call("searcher.search_many", lambda: searcher.search_many(batch, k=10).collect())
    counts, count_s = [], []
    for q in count_qs:
        n, dt = run.call("searcher.count", lambda: searcher.count(q))
        if dt is not None:
            count_s.append(dt)
            counts.append((q, n))
    if tag is not None:
        run.samples["count" + tag].extend(count_s)
        run.samples["commit" + tag].append(commit_s)
        if batch_s is not None:
            run.samples["fresh_batch" + tag].append(batch_s)
    return b, pdf, run.docstats(searcher), batch, rows, counts


def check_cycle(run: Run, pending: tuple) -> None:
    """Check one commit's snapshot: its docstats hold exactly the rows
    ingested so far, and its batch and counts agree with the oracle.
    Cycles must be checked in commit order."""
    b, pdf, ds, batch, rows, counts = pending
    bad = run.truth.add_rows(pdf, ds) + run.truth.check_docstats(ds)
    run.check(bad == 0, f"{bad} docstats rows disagree after commit {b}")
    if rows is not None:
        got = _by_query(rows)
        for qid, q in batch.items():
            run.verify_topk(q, 10, got.get(qid, []))
    for q, n in counts:
        run.verify_count(q, n)


def compact_round(run: Run) -> IndexSearcher:
    """One compaction round, then a check of the whole index against the
    oracle. With one group allowed per size tier, the round merges as soon
    as the index holds three groups: the bulk group and two commits."""
    before = dir_files(run.idx)
    res, dt = run.call("compaction.compact", lambda: compact(run.spark, run.idx, segs_per_tier=1))
    run.compaction_written = bytes_written(before, dir_files(run.idx))
    if dt is not None:
        run.check(bool(res["merged"]), "compaction merged no groups")
    searcher = IndexSearcher(IndexReader(run.spark, run.idx))
    ds = run.docstats(searcher)
    run.check(run.truth.check_docstats(ds) == 0, "docstats disagree with the oracle after compaction")
    queries = {f"m{qid}": q for qid, q, _ in make_query_set()}
    got = _by_query(searcher.search_many(queries, k=100).collect())
    for qid, q, k in make_query_set():
        run.verify_topk(q, k, got.get(f"m{qid}", [])[:k])
    return searcher


def ingest_search(run: Run, traced_every: int = 0) -> IndexSearcher:
    """One warm-up cycle, then micro-batch commits, each followed by a
    fresh searcher and one search_many batch, until the run's time is up
    (and at least MIN_COMMITS times); then the oracle checks of every
    commit, and one compaction round. With traced_every=2, every other
    timed cycle is traced.

    The warm-up cycle is the first in this JVM and its Python workers to
    commit, search_many and count; its calls took 1.3-1.4x as long as the
    later ones on the VM in README.md. It is checked but neither timed nor
    traced, so a run's median does not depend on how many cycles fit in
    its time."""
    indexer = StreamingIndexer(run.spark, run.idx, CFG)
    was_enabled, run.tracer.enabled = run.tracer.enabled, False
    pending = [ingest_cycle(run, indexer, tag=None)]
    run.tracer.enabled = was_enabled
    if pending[0] is None:
        return compact_round(run)
    deadline = time.perf_counter() + run.seconds
    timed = 0
    while time.perf_counter() < deadline or timed < MIN_COMMITS:
        traced = bool(traced_every) and timed % traced_every == 0
        if traced_every:
            run.tracer.enabled = traced
        tag = "" if not traced_every else ("_traced" if traced else "_untraced")
        out = ingest_cycle(run, indexer, tag)
        if out is None:
            break
        pending.append(out)
        timed += 1
    if traced_every:
        run.tracer.enabled = True
    for p in pending:
        check_cycle(run, p)
    return compact_round(run)


# ---- probes the traced run adds ---------------------------------------------
def probe_searches(run: Run, searcher: IndexSearcher) -> None:
    """Single searches with their layer decomposition, over fixed shapes
    that cover dictionary expansion, boolean and hot-term scoring."""
    for q, k in PROBE_QUERIES:
        run.tracer.new_request()
        out, _ = run.call("searcher.search", lambda: searcher.search(q, k=k).collect())
        if out is not None:
            run.verify_topk(q, k, _rows(out))
            decompose(run, q, k)


def warm_batch(run: Run, searcher: IndexSearcher) -> tuple[float, list]:
    """A warm search_many pass of SCALING_BATCH instances (the second of
    two identical passes): (seconds, rows), checked against the oracle."""
    batch = inputs.serving_batch(run.seed, SCALING_BATCH)
    out = (float("nan"), [])
    for _ in range(2):
        run.tracer.new_request()
        rows, dt = run.call("searcher.search_many", lambda: searcher.search_many(batch, k=10).collect())
        if dt is not None:
            out = (dt, rows)
            got = _by_query(rows)
            for qid, q in batch.items():
                run.verify_topk(q, 10, got.get(qid, []))
    return out

