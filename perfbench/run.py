"""sparkfts benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload search_single --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Load comes from this one driver process on
Spark local[4]; the traced run adds a local[1] JVM for the scaling ratios.
Every result is checked against lucene_spark/oracle.py outside the timed
regions; the oracle runs in a child process, so peak_rss_mb (the driver JVM
plus this Python driver) holds none of its memory. With --trace 0 the last stdout line carries the end-to-end metrics
of BENCHMARK.json; with --trace 1 it carries the per-layer metrics and the
spans are written to .perfbench_out/. All scratch files live under
.perfbench_work/ and are removed at exit. Every process the run starts,
and every process those leave behind, has ended before it exits.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cpu_ticks() -> tuple[int, int]:
    """(all ticks, steal ticks) from /proc/stat."""
    with open("/proc/stat") as fh:
        v = list(map(int, fh.readline().split()[1:9]))
    return sum(v), v[7]


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set sizes (VmHWM) of `pids`."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return kb / 1024


def configure_env(work: str) -> None:
    """Keep Spark, its Python workers and every temp file inside `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


SPARK_CONF = {
    # a fixed heap and young generation, so the JVM's resident size
    # follows retained memory rather than adaptive heap sizing
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC -Xms2g -Xmn512m",
    # job and stage history the tracer reads back after the run
    "spark.ui.retainedJobs": "20000",
    "spark.ui.retainedStages": "50000",
}


def stop_spark(spark) -> None:
    """Stop the session, then its JVM, and wait until the JVM has exited
    (it exits when its stdin closes)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a process
    orphaned below it (a Python worker that outlives its JVM, say) is
    re-parented here, where reap_all() waits for it."""
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def live_children() -> list[int]:
    """Pids of the running (not zombie) children of this process."""
    me, out = str(os.getpid()), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                state, ppid = fh.read().rsplit(")", 1)[1].split()[:2]
        except (OSError, ValueError):
            continue
        if ppid == me and state != "Z":
            out.append(int(d))
    return out


def reap_all(grace: float = 5.0) -> None:
    """Return once no process below this one is left. Exited children are
    reaped; one still running after `grace` seconds gets SIGTERM, and
    SIGKILL after twice that."""
    t0 = time.monotonic()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        kids = live_children()
        if not kids:
            return
        late = time.monotonic() - t0
        if late > grace:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL if late > 2 * grace else signal.SIGTERM)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def c1_side(run, work: str) -> dict:
    """Run perfbench/scaling.py in its own local[1] JVM and wait for it.
    It runs in a process group of its own, so a timeout also stops its JVM."""
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "scaling.py"),
           "--src", run.src_dir, "--work", os.path.join(work, "c1"), "--seed", str(run.seed)]
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, err = p.communicate(timeout=100)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    if p.returncode != 0:
        sys.stderr.write(err[-4000:])
        raise RuntimeError("local[1] scaling run failed")
    return json.loads(out.strip().splitlines()[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")
    if not os.path.isdir(os.path.join(ROOT, "lucene_spark")):
        print(f"no lucene_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import report

    spec = report.load_spec(ROOT)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work)
    from perfbench.checks import TruthProcess

    adopt_orphans()
    # a SIGTERM unwinds through the finally blocks below, like an error
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    try:
        truth = TruthProcess()
        try:
            return measure(args, spec, work, truth)
        finally:
            truth.close()
    finally:
        reap_all()
        shutil.rmtree(work, ignore_errors=True)


def measure(args, spec: dict, work: str, truth) -> int:
    from lucene_spark import get_spark

    from perfbench import report, workloads as W
    from perfbench.tracing import Tracer

    trace = bool(args.trace)
    single = args.workload == "search_single"
    os.sync()        # write back what earlier processes left dirty, before timing
    ticks0 = cpu_ticks()
    wall = [("start", time.perf_counter())]
    spark = get_spark(f"perfbench-{args.workload}", master=f"local[{W.CORES}]",
                      shuffle_partitions=W.SHUFFLE_PARTITIONS, extra_conf=SPARK_CONF)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark.sparkContext, enabled=trace)
        run = W.Run(spark, tracer, truth, work, args.seed, args.seconds)
        wall.append(("session", time.perf_counter()))
        searcher = W.setup(run)
        wall.append(("setup", time.perf_counter()))
        if trace:
            c4_batch = W.warm_batch(run, searcher)
        if single:
            W.search_single(run, searcher, traced_every=2 if trace else 0)
        else:
            searcher = W.ingest_search(run, traced_every=2 if trace else 0)
        wall.append(("workload", time.perf_counter()))
        index_bytes = sum(W.dir_files(run.idx).values())
        content_bytes = run.bulk_bytes + run.ingested_bytes
        if trace:
            extra = probe_layers(run, searcher, single, c4_batch, work, wall)
        jvm_rss = peak_rss_mb([spark.sparkContext._gateway.proc.pid])
        python_rss = peak_rss_mb([os.getpid()])
        oracle_rss = truth.peak_rss_mb()
    finally:
        stop_spark(spark)
    wall.append(("stop", time.perf_counter()))
    ticks1 = cpu_ticks()
    steal = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])

    def e2e(tag: str) -> dict[str, float]:
        return report.end_to_end(
            args.workload, tagged(run.samples, tag), docs_per_build=W.DOCS, docs_per_commit=W.INGEST_DOCS,
            index_bytes=index_bytes, content_bytes=content_bytes, rss_mb=jvm_rss + python_rss)

    untraced = e2e("_untraced")
    lines = [f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}",
             "wall_s " + " ".join(f"{b[0]}={b[1] - a[1]:.1f}" for a, b in zip(wall, wall[1:]))
             + f" (oracle waits {truth.seconds:.1f})"]
    if trace:
        traced = e2e("_traced")
        for k in ("read_p50_ms", "count_p50_ms", "write_docs_per_s"):
            lines.append(f"side_by_side {k} untraced={untraced[k]:.4f} traced={traced[k]:.4f}")
        extra["host.steal_frac"] = steal
        extra["trace.overhead_ratio"] = traced["read_p50_ms"] / untraced["read_p50_ms"]
        metrics = report.per_layer(tracer.spans, run.phases, extra)
        lines.extend(f"self_s {layer}={sec:.4f}" for layer, sec in sorted(tracer.layer_self_seconds().items()))
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"),
                     {"metrics": metrics, "untraced": untraced, "traced": traced})
    else:
        metrics = untraced
    s = tagged(run.samples, "_untraced")
    read = s["search"] if single else s["fresh_batch"]
    t = report.tail(read)
    lines.append(f"samples read={len(read)} count={len(s['count'])} setup={len(s['setup'])}"
                 + (f" read_tail_ms={1000 * t[0]:.4f} at p{t[1]:.1f} of n={t[2]}" if t
                    else " read_tail_ms=n/a (<11 samples)"))
    lines.append(f"host steal_frac={steal:.4f}")
    lines.append(f"peak rss_mb jvm={jvm_rss:.0f} python={python_rss:.0f} (measured); "
                 f"oracle process={oracle_rss:.0f} (not measured)")
    write = s["build"] if single else s["commit"]
    for kind, xs in (("setup", s["setup"]), ("read", read), ("count", s["count"]), ("write", write)):
        lines.append(f"each_s {kind} " + " ".join(f"{x:.3f}" for x in xs))
    lines.extend(f"FAILED {p}" for p in run.problems)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    lines.extend(f"{k} = {v:.6g} {units[k]}" for k, v in sorted(metrics.items()))
    res = report.result(spec, trace, metrics, attempted=run.attempted, failed=run.failed)
    print("\n".join(lines))
    print(json.dumps(res))
    return 0


def probe_layers(run, searcher, single: bool, c4_batch: tuple, work: str, wall: list) -> dict[str, float]:
    """The traced run's additions after the workload: single searches with
    their decomposition, the analysis and codec probes, commits and a
    compaction for search_single, and the local[1] side of the scaling
    ratios. Returns the per-layer metrics that do not come from spans."""
    from perfbench import layers, report, scaling, workloads as W

    extra = {}
    W.probe_searches(run, searcher)
    for metrics, bad in (layers.analysis_probe(run.tracer, run.seed),
                         layers.codec_probe(run.tracer, searcher.reader, run.seed)):
        extra.update(metrics)
        run.attempted += 1
        run.check(bad == 0, f"{bad} mismatches in a layer probe")
    if single:
        indexer = W.StreamingIndexer(run.spark, run.idx, W.CFG)
        for _ in range(W.MIN_COMMITS):
            pending = W.ingest_cycle(run, indexer, tag=None)
            if pending is not None:
                W.check_cycle(run, pending)
        W.compact_round(run)
    wall.append(("probes", time.perf_counter()))
    c1 = c1_side(run, work)
    wall.append(("local1", time.perf_counter()))
    run.attempted += 1
    run.check(c1["digest"] == scaling.batch_digest(c4_batch[1]), "local[1] batch result differs from local[4]")
    run.tracer.attribute_jobs()
    extra.update({
        "compaction.bytes_rewritten": run.compaction_written,
        "compaction.write_amp": (run.ingest_written + run.compaction_written) / run.ingested_bytes,
        "scaling.build_eff": c1["build_s"] / (W.CORES * report.median(run.samples["build"][1:])),
        "scaling.batch_eff": c1["batch_s"] / (W.CORES * c4_batch[0]),
    })
    return extra


def tagged(samples: dict, tag: str) -> dict:
    """Samples of one kind. A traced run's loop tags each sample _traced or
    _untraced; an untraced run's samples carry no tag, and set-up samples
    never do."""
    out = defaultdict(list, samples)
    for k, v in samples.items():
        if k.endswith(tag):
            out[k[: -len(tag)]] = v
    return out


if __name__ == "__main__":
    sys.exit(main())
