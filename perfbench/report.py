"""Turn a run's samples and spans into the metrics BENCHMARK.json declares.

Pure functions of their inputs, with no Spark, so the benchmark's own tests
can check them.
"""

from __future__ import annotations

import json
import math
import os
import statistics

DECOMPOSED = ("plan.parse", "plan.rewrite", "reader.expand", "reader.term_stats", "kernel.eval")


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else float("nan")


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else float("nan")


def tail(xs) -> tuple[float, float, int] | None:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it, or None with fewer than eleven samples."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return None
    return xs[n - 11], 100.0 * (n - 10) / n, n


def end_to_end(workload: str, samples: dict, *, docs_per_build: int, docs_per_commit: int,
               index_bytes: int, content_bytes: int, rss_mb: float) -> dict[str, float]:
    """search_single reads are search() calls and its writes are bulk
    builds after the first (the first in a JVM pays one-time compilation);
    ingest_search reads are the first search_many batch after each commit
    and its writes are process_batch commits."""
    single = workload == "search_single"
    read = samples["search"] if single else samples["fresh_batch"]
    write_s = median(samples["build"][1:]) if single else median(samples["commit"])
    return {
        "setup_s": median(samples["setup"]),
        "read_p50_ms": 1000 * median(read),
        "count_p50_ms": 1000 * median(samples["count"]),
        "write_docs_per_s": (docs_per_build if single else docs_per_commit) / write_s,
        "index_bytes_per_input_byte": index_bytes / content_bytes,
        "peak_rss_mb": rss_mb,
    }


def orchestration_ms(spans) -> list[float]:
    """Per traced search(): its wall time minus the parse, rewrite,
    expansion, term-statistics and kernel times measured for the same
    query (the spans sharing its request)."""
    by_req: dict[int, list] = {}
    for s in spans:
        by_req.setdefault(s.request, []).append(s)
    out = []
    for group in by_req.values():
        searches = [s for s in group if s.name == "searcher.search"]
        parts = [s for s in group if s.name in DECOMPOSED]
        if len(searches) == 1 and parts:
            out.append(1000 * (searches[0].seconds - sum(p.seconds for p in parts)))
    return out


def per_layer(spans, phases: list[dict], extra: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics from the traced run's spans, the builds' own
    phase timings, and the probe results in `extra`."""
    def named(name):
        return [s for s in spans if s.name == name]

    def ms(name):
        return 1000 * median(s.seconds for s in named(name))

    builds, kernel = named("builder.build"), named("kernel.eval")
    search, count = named("searcher.search"), named("searcher.count")
    calls = search + count
    out = {
        "builder.segments_s": median(p["segments"] for p in phases),
        "builder.merge_s": median(p["merge"] for p in phases),
        "builder.stats_s": median(p["stats"] for p in phases),
        "builder.spark_jobs": median(len(s.jobs) for s in builds),
        "builder.spark_tasks": median(s.tasks for s in builds),
        "reader.open_ms": ms("reader.open"),
        "reader.term_stats_ms": ms("reader.term_stats"),
        "reader.expand_ms": ms("reader.expand"),
        "plan.parse_ms": ms("plan.parse"),
        "plan.rewrite_ms": ms("plan.rewrite"),
        "kernel.us_per_query": 1e6 * median(s.seconds for s in kernel),
        "kernel.postings_per_s": sum(s.items for s in kernel) / sum(s.seconds for s in kernel),
        "searcher.jobs_per_search": mean(len(s.jobs) for s in search),
        "searcher.tasks_per_search": mean(s.tasks for s in search),
        "searcher.jobs_per_batch": mean(len(s.jobs) for s in named("searcher.search_many")),
        "searcher.job_call_ratio": sum(1 for s in calls if s.jobs) / len(calls),
        "searcher.orchestration_ms": median(orchestration_ms(spans)),
        "stream.commit_s": median(s.seconds for s in named("stream.process_batch")),
        "compaction.s": median(s.seconds for s in named("compaction.compact")),
    }
    out.update(extra)
    return out


def result(spec: dict, trace: bool, metrics: dict[str, float], *, attempted: int, failed: int) -> dict:
    """The last stdout line. Raises if the metrics are not exactly the
    declared ones or a value is not a finite number."""
    declared = spec["per_layer" if trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(metrics) != set(units):
        raise ValueError(f"metrics {sorted(set(metrics) ^ set(units))} differ from BENCHMARK.json")
    bad = [k for k, v in metrics.items() if not math.isfinite(v)]
    if bad:
        raise ValueError(f"metrics {bad} were not measured")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
