"""Correctness checks against lucene_spark/oracle.py.

The oracle indexes the same source rows under the engine's own doc_ids, read
from the docstats sidecar. Checks run outside every timed region, and the
oracle lives in a child process of its own (TruthProcess), so its memory
stays out of the driver whose peak RSS the benchmark reports.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import subprocess
import sys
import time

import numpy as np

from lucene_spark.codec.blocks import BLOCK_SIZE, build_block_meta
from lucene_spark.oracle import OracleIndex
from lucene_spark.search import plan as P
from lucene_spark.search.kernel import EvalContext, TermPostings
from lucene_spark.search.similarity import BM25Similarity

KEY = ["repo", "path", "commit"]


def sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def plan_leaves(node: P.Node):
    """The term, term-set and synonym nodes a planned query reads postings for."""
    if isinstance(node, (P.TermNode, P.TermInSetNode, P.SynonymNode)):
        yield node
    elif isinstance(node, P.BooleanNode):
        for c in node.clauses:
            yield from plan_leaves(c.node)
    elif isinstance(node, P.DisjunctionMaxNode):
        for c in node.children:
            yield from plan_leaves(c)
    elif isinstance(node, P.ConstantScoreNode) and node.child is not None:
        yield from plan_leaves(node.child)


def leaf_terms(leaf: P.Node) -> list[tuple[str, str]]:
    return [(leaf.field, leaf.term)] if isinstance(leaf, P.TermNode) \
        else [(leaf.field, t) for t in leaf.terms]


def plan_terms(node: P.Node) -> set[tuple[str, str]]:
    """(field, term) pairs a planned query reads postings for."""
    return {ft for leaf in plan_leaves(node) for ft in leaf_terms(leaf)}


def same_topk(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Identical doc_id order and float32-identical scores."""
    return ([d for d, _ in got] == [d for d, _ in want]
            and all(np.float32(a) == np.float32(b)
                    for (_, a), (_, b) in zip(got, want)))


class _Oracle(OracleIndex):
    """OracleIndex that computes avgdl once per index state (the reference
    sums every doclen for each scored posting) and scores each term once
    per index state. Without the term scores kept, checking one
    300-instance serving batch takes 3.6 s instead of 1.2 s on a 4-vCPU
    Xeon VM, which would add about 12 s to each ingest_search run. The
    oracle's boolean evaluation never mutates a term's score dict."""

    _avgdl = None

    def __init__(self, analyzer: str):
        super().__init__(analyzer=analyzer)
        self._term_scores: dict = {}

    def add(self, doc_id: int, content: str) -> None:
        super().add(doc_id, content)
        self._avgdl = None
        self._term_scores.clear()

    def eval(self, node: P.Node, scored: bool = True):
        if not isinstance(node, P.TermNode):
            return super().eval(node, scored)
        key = (node.term, node.boost, scored)
        if key not in self._term_scores:
            self._term_scores[key] = super().eval(node, scored)
        return self._term_scores[key]

    @property
    def avgdl(self) -> float:
        if self._avgdl is None:
            self._avgdl = OracleIndex.avgdl.fget(self)
        return self._avgdl


class Truth:
    """The oracle over every row the index should hold."""

    def __init__(self):
        self.oracle = _Oracle(analyzer="code")
        self.doc_of: dict[tuple, int] = {}   # source key -> engine doc_id
        self.sha_of: dict[tuple, str] = {}
        self._sim = BM25Similarity()
        self._blocks: dict[str, TermPostings] = {}

    def add_rows(self, source, docstats) -> int:
        """Index new source rows (pandas) under the doc_ids of `docstats`
        (pandas: key columns, doc_id, doclen, sha256). Returns the number
        of rows whose docstats entry is missing or disagrees."""
        ds = docstats.set_index(KEY)
        bad = 0
        for row in source.itertuples(index=False):
            key = (row.repo, row.path, row.commit)
            sha = sha256_hex(row.content)
            if key not in ds.index:
                bad += 1
                continue
            rec = ds.loc[key]
            doc_id = int(rec["doc_id"])
            self.oracle.add(doc_id, row.content)
            self.doc_of[key] = doc_id
            self.sha_of[key] = sha
            if rec["sha256"] != sha or int(rec["doclen"]) != self.oracle.doclen[doc_id]:
                bad += 1
        self._blocks.clear()
        return bad

    def check_docstats(self, docstats) -> int:
        """Every indexed row appears once, under its doc_id and sha256, and
        nothing else appears. Returns the number of disagreeing rows."""
        seen = {}
        for r in docstats.itertuples(index=False):
            seen.setdefault((r.repo, r.path, r.commit), []).append(
                (int(r.doc_id), r.sha256))
        bad = sum(1 for k in seen if k not in self.doc_of)
        for k, doc_id in self.doc_of.items():
            if seen.get(k) != [(doc_id, self.sha_of[k])]:
                bad += 1
        return bad

    def topk(self, plan: P.Node, k: int) -> list[tuple[int, float]]:
        return self.oracle.search(plan, k=k)

    def count(self, plan: P.Node) -> int:
        return self.oracle.count(plan)

    # ---- kernel input, built the way tests/test_kernel_property.py does
    def _term_postings(self, term: str) -> TermPostings | None:
        tp = self._blocks.get(term)
        docs_tf = self.oracle.postings.get(term)
        if tp is None and docs_tf:
            docs = np.array(sorted(docs_tf), dtype=np.int64)
            tfs = np.array([docs_tf[d] for d in docs], dtype=np.int64)
            dls = np.array([self.oracle.doclen[d] for d in docs], dtype=np.int64)
            tp = TermPostings(docs, tfs, dls, *build_block_meta(docs, tfs, dls, BLOCK_SIZE))
            self._blocks[term] = tp
        return tp

    def eval_context(self, plan: P.Node, k: int) -> tuple[EvalContext, int]:
        """Kernel context holding the postings of `plan`, and the number of
        postings it holds."""
        ora, sim = self.oracle, self._sim
        postings, weights, syn, fields = {}, {}, {}, set()
        for leaf in plan_leaves(plan):
            for f, t in leaf_terms(leaf):
                fields.add(f)
                tp = self._term_postings(t)
                if tp is not None:
                    postings[(f, t)] = tp
            if isinstance(leaf, P.TermNode) and ora.df(leaf.term):
                weights[((leaf.field, leaf.term), leaf.boost)] = \
                    sim.weight(ora.df(leaf.term), ora.doc_count, leaf.boost)
            elif isinstance(leaf, P.SynonymNode):
                df = max((ora.df(t) for t in leaf.terms), default=0)
                if df:
                    syn[((leaf.field, leaf.terms), leaf.boost)] = sim.weight(df, ora.doc_count, leaf.boost)
        avgdl = sim.avgdl(sum(ora.doclen.values()), ora.doc_count)
        ctx = EvalContext(postings=postings, weights=weights, syn_weights=syn,
                          avgdl={f: avgdl for f in fields}, sim=sim, k=k)
        return ctx, sum(tp.docs.size for tp in postings.values())

    def peak_rss_mb(self) -> float:
        with open("/proc/self/status") as fh:
            return next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:")) / 1024


def _serve(inp, out) -> None:
    """The child's loop: answer pickled (method, args) requests on `inp`
    with a Truth, on `out`, until a None request says stop."""
    truth = Truth()
    while (msg := pickle.load(inp)) is not None:
        name, args = msg
        try:
            reply = (True, getattr(truth, name)(*args))
        except Exception as e:           # the caller re-raises it
            reply = (False, f"{type(e).__name__}: {e}")
        pickle.dump(reply, out, pickle.HIGHEST_PROTOCOL)
        out.flush()


def serve_stdio() -> None:
    """The child's entry point: requests on stdin, replies on the original
    stdout; whatever else the child prints goes to stderr."""
    out = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)
    _serve(sys.stdin.buffer, out)


class TruthProcess:
    """A Truth in a child process, started with subprocess so that nothing
    else (no multiprocessing resource tracker) is left behind. Each method
    call is pickled over the child's stdin and blocks until it answers on
    its stdout; `seconds` sums that waiting."""

    def __init__(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        self._proc = subprocess.Popen(
            [sys.executable, "-c", "from perfbench.checks import serve_stdio; serve_stdio()"],
            cwd=root, stdin=subprocess.PIPE, stdout=subprocess.PIPE)
        self.seconds = 0.0

    def __getattr__(self, name: str):
        if not callable(getattr(Truth, name, None)):
            raise AttributeError(name)

        def call(*args):
            t0 = time.perf_counter()
            pickle.dump((name, args), self._proc.stdin, pickle.HIGHEST_PROTOCOL)
            self._proc.stdin.flush()
            ok, value = pickle.load(self._proc.stdout)
            self.seconds += time.perf_counter() - t0
            if not ok:
                raise RuntimeError(f"oracle {name}: {value}")
            return value
        return call

    def close(self) -> None:
        """Stop the child and wait until it has exited."""
        try:
            pickle.dump(None, self._proc.stdin)
            self._proc.stdin.close()
        except OSError:
            pass
        try:
            self._proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait()
        self._proc.stdout.close()
