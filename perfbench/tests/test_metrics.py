"""Metric names: well-formed, declared once, and the same for every seed."""

import re

import numpy as np
import pytest

from perfbench import report
from perfbench.tracing import Span

from conftest import ROOT

SPEC = report.load_spec(ROOT)
PATTERN = re.compile(r"[A-Za-z0-9_.-]+")
CONTRACT = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")     # BENCHMARK.json name rule


def test_declared_names_match_pattern_and_are_unique():
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in SPEC[key]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert all(PATTERN.fullmatch(n) and CONTRACT.fullmatch(n) for n in names)
    assert len(names) == len(set(names))
    assert {m["name"] for m in SPEC["end_to_end"]} >= {"setup_s"}


def fake_run(seed: int, workload: str):
    """Samples and spans shaped like a run's, with seeded values."""
    rng = np.random.default_rng(seed)
    samples = {k: list(rng.uniform(0.1, 2.0, int(rng.integers(3, 30))))
               for k in ("setup", "build", "search", "count", "fresh_batch", "commit")}
    spans, t = [], 0.0
    names = ["builder.build", "reader.open", "plan.parse", "plan.rewrite", "reader.expand",
             "reader.term_stats", "kernel.eval", "searcher.search", "searcher.count",
             "searcher.search_many", "stream.process_batch", "compaction.compact"]
    for i, name in enumerate(names * int(rng.integers(1, 4))):
        d = float(rng.uniform(0.01, 1.0))
        spans.append(Span(id=i, name=name, start=t, end=t + d, request=i // len(names),
                          jobs=list(range(int(rng.integers(0, 5)))), tasks=int(rng.integers(0, 9)),
                          items=int(rng.integers(1, 1000))))
        t += d
    e2e = report.end_to_end(workload, samples, docs_per_build=2000, docs_per_commit=250,
                            index_bytes=int(rng.integers(1, 10**7)), content_bytes=10**7,
                            rss_mb=float(rng.uniform(500, 2000)))
    phases = [{"segments": 1.0, "merge": 2.0, "stats": 0.5}]
    extra = {m["name"]: float(rng.uniform(0, 1)) for m in SPEC["per_layer"]
             if m["name"].split(".")[0] in ("analysis", "codec", "host", "trace", "scaling")
             or m["name"].startswith("compaction.b") or m["name"].endswith("write_amp")}
    return e2e, report.per_layer(spans, phases, extra)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_metric_names_stable_across_seeds(workload):
    (e1, l1), (e2, l2) = fake_run(1, workload), fake_run(2, workload)
    assert set(e1) == set(e2) == {m["name"] for m in SPEC["end_to_end"]}
    assert set(l1) == set(l2) == {m["name"] for m in SPEC["per_layer"]}
    for trace, metrics in ((False, e1), (True, l1)):
        res = report.result(SPEC, trace, metrics, attempted=3, failed=0)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert all(PATTERN.fullmatch(k) for k in res["metrics"])


def test_result_refuses_undeclared_or_unmeasured_metrics():
    e2e, _ = fake_run(3, "search_single")
    with pytest.raises(ValueError):
        report.result(SPEC, False, {**e2e, "extra": 1.0}, attempted=1, failed=0)
    with pytest.raises(ValueError):
        report.result(SPEC, False, {**e2e, "setup_s": float("nan")}, attempted=1, failed=0)


def test_tail_needs_ten_samples_beyond():
    assert report.tail(range(10)) is None
    value, pct, n = report.tail(range(100))
    assert (value, n) == (89, 100) and pct == 90.0
