"""The local[1] side of the scaling ratios, in a JVM of its own.

Two SparkSessions with different masters in one Python process share a JVM
gateway, so run.py starts this script as a child process. After a small
warm-up build it builds the parent's corpus once, repeats the parent's warm
search_many pass, and prints one JSON line: build seconds, batch seconds
and a digest of the batch result.

    python3 perfbench/scaling.py --src DIR --work DIR --seed N
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time


def batch_digest(rows) -> str:
    key = sorted((r["query_id"], int(r["rank"]), int(r["doc_id"]), float(r["score"])) for r in rows)
    return hashlib.sha256(repr(key).encode()).hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from lucene_spark import get_spark
    from lucene_spark.corpus import corpus_df
    from lucene_spark.index.builder import IndexBuilder
    from lucene_spark.index.reader import IndexReader
    from lucene_spark.search.searcher import IndexSearcher

    from perfbench import inputs
    from perfbench.run import SPARK_CONF, stop_spark
    from perfbench.workloads import CFG, SCALING_BATCH, SHUFFLE_PARTITIONS

    spark = get_spark("perfbench-c1", master="local[1]", shuffle_partitions=SHUFFLE_PARTITIONS,
                      extra_conf=SPARK_CONF)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        idx = os.path.join(args.work, "index")
        # a small first build pays the JVM's one-time compilation
        IndexBuilder(spark, CFG).build(corpus_df(spark, 200, seed=args.seed), idx, overwrite=True)
        t0 = time.perf_counter()
        IndexBuilder(spark, CFG).build(spark.read.parquet(args.src), idx, overwrite=True)
        build_s = time.perf_counter() - t0
        searcher = IndexSearcher(IndexReader(spark, idx))
        batch = inputs.serving_batch(args.seed, SCALING_BATCH)
        for _ in range(2):
            t0 = time.perf_counter()
            rows = searcher.search_many(batch, k=10).collect()
            batch_s = time.perf_counter() - t0
        print(json.dumps({"build_s": build_s, "batch_s": batch_s, "digest": batch_digest(rows)}))
    finally:
        stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
