"""Layer probes that need no Spark job while timed: analysis and codec.

Each probe times a layer's public functions on fixed seeded input, inside a
span, and checks the layer's output.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from lucene_spark.analysis import get_analyzer
from lucene_spark.codec.vbyte import decode_postings, encode_postings
from lucene_spark.corpus import make_corpus_rows
from lucene_spark.oracle import oracle_tokenize

REPS = 3
CODEC_ROWS = 2000         # postings rows per codec pass


def analysis_probe(tracer, seed: int, n_docs: int = 300) -> tuple[dict, int]:
    """tokens/s of the `code` analyzer over a seeded doc sample. Returns
    (metrics, mismatching docs against the oracle tokenizer)."""
    rng = np.random.default_rng([seed, 3])
    sample = make_corpus_rows(rng.integers(0, 1 << 30, n_docs), seed)["content"]
    an = get_analyzer("code")
    times = []
    for _ in range(REPS):
        with tracer.span("analysis.tokenize_series"):
            t0 = time.perf_counter()
            toks = an.tokenize_series(sample)
            times.append(time.perf_counter() - t0)
    n_tokens = int(sum(len(t) for t in toks))
    bad = sum(1 for text, got in zip(sample, toks) if list(got) != oracle_tokenize(text, "code"))
    return {"analysis.tokens_per_s": n_tokens / statistics.median(times)}, bad


def codec_probe(tracer, reader, seed: int) -> tuple[dict, int]:
    """Decode and re-encode a seeded sample of CODEC_ROWS postings rows of
    the built index. Returns (metrics, rows that do not round-trip)."""
    pdf = reader.postings().select("term", "part_id", "slice", "doc_blob", "tf_blob", "dl_blob") \
        .toPandas().sort_values(["term", "part_id", "slice"])
    pdf = pdf.sample(n=min(CODEC_ROWS, len(pdf)), random_state=seed)
    blobs = list(zip(pdf["doc_blob"], pdf["tf_blob"], pdf["dl_blob"]))
    n_bytes = sum(len(a) + len(b) + len(c) for a, b, c in blobs)
    dec_t, enc_t = [], []
    for _ in range(REPS):
        with tracer.span("codec.decode_postings"):
            t0 = time.perf_counter()
            decoded = [decode_postings(a, b, c) for a, b, c in blobs]
            dec_t.append(time.perf_counter() - t0)
        with tracer.span("codec.encode_postings"):
            t0 = time.perf_counter()
            encoded = [encode_postings(d, t, l) for d, t, l in decoded]
            enc_t.append(time.perf_counter() - t0)
    bad = sum(1 for e, b in zip(encoded, blobs) if tuple(map(bytes, e)) != tuple(map(bytes, b)))
    n_postings = sum(d.size for d, _, _ in decoded)
    mb = n_bytes / 1e6
    return {
        "codec.decode_mb_per_s": mb / statistics.median(dec_t),
        "codec.encode_mb_per_s": mb / statistics.median(enc_t),
        "codec.bytes_per_posting": n_bytes / max(1, n_postings),
    }, bad
