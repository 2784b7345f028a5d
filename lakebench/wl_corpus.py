"""corpus_dedup: text features plus exact, MinHash-LSH and n-gram Jaccard
dedup over a seeded corpus. No versioned table is involved."""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import functions as F

from cdk_datalake_ingest_upeu_spark.operators.dedup import exact_dedup, minhash_lsh_pairs, ngram_jaccard_pairs
from cdk_datalake_ingest_upeu_spark.operators.scratch import release_scratch
from cdk_datalake_ingest_upeu_spark.operators.text import add_text_features
from cdk_datalake_ingest_upeu_spark.sources import read_raw_parquet, write_raw_parquet

import checks
import gen
import harness

DOCS = 6_000
# Zipfian vocabulary skewed enough that a handful of trigrams land in far
# more than the n-gram operator's posting cap (several hundred documents
# above it at this size), so its hot-shingle path runs; the run checks it
CORPUS = {"vocab": 50_000, "zipf_s": 1.15, "length": (20, 60)}
SHINGLE_CAP = 256  # ngram_jaccard_pairs' default max_shingle_df
SETUP_REPS = 3
# Warm-up: the cold first pass is mostly compilation, so it runs on a small
# corpus; a full-size pass follows. Pass time still falls slowly for many
# passes after that, so a run times at least MIN_PASSES: with a count that
# varied between 3 and 4, the median sat at different points of that slope.
WARMUP_DOCS = 1_000
MIN_PASSES = 3
MINHASH_THRESHOLD = 0.7  # the operator's default
NGRAM_THRESHOLD = 0.5


def land(spark, src: str, raw: str) -> int:
    """Set-up: land the generated corpus into the raw zone and scan it."""
    write_raw_parquet(read_raw_parquet(spark, src), raw)
    return read_raw_parquet(spark, raw).agg(F.sum(F.length("text"))).collect()[0][0]


def dedup_pass(spark, tracer, path: str, op_s: dict[str, list[float]]) -> dict:
    """One full pass; every result is collected inside its span, and each
    operator's wall time is appended to ``op_s``."""

    def step(name, fn):
        with tracer.span(name):
            took, out = harness.timed(fn)
        op_s.setdefault(name, []).append(took)
        return out

    docs = step("sources.read_raw", lambda: read_raw_parquet(spark, path))
    tokens = step("text.features", lambda: add_text_features(docs).agg(F.sum("n_tokens_ws")).collect()[0][0])
    kept = step("dedup.exact", lambda: [r[0] for r in exact_dedup(docs).select("doc_id").collect()])
    minhash = step(
        "dedup.minhash",
        lambda: [tuple(r) for r in minhash_lsh_pairs(docs).select("id_a", "id_b", "jaccard").collect()],
    )
    ngram = step(
        "dedup.ngram",
        lambda: [
            tuple(r)
            for r in ngram_jaccard_pairs(docs, threshold=NGRAM_THRESHOLD).select("id_a", "id_b", "jaccard").collect()
        ],
    )
    release_scratch()
    return {"token_total": tokens, "exact_kept": kept, "minhash": minhash, "ngram": ngram}


def run(spark, tracer, *, seed: int, seconds: float, work: Path) -> dict:
    corpus = gen.corpus(seed, docs=DOCS, **CORPUS)
    src = str(work / "generated")
    gen.write_table(corpus.table(), src, rows_per_file=DOCS // 4)
    # a pass whose input never reaches the hot-shingle path does not
    # measure what this workload is for: every pass then fails
    hot = checks.hot_shingles(corpus.texts, SHINGLE_CAP)
    problems = [] if hot else [f"corpus has no trigram in more than {SHINGLE_CAP} documents"]
    want_chars = sum(len(t) for t in corpus.texts)
    setup_s = []
    failed = 0
    for rep in range(SETUP_REPS):
        path = str(work / f"raw{rep}")
        took, chars = harness.timed(land, spark, src, path)
        setup_s.append(took)
        if chars != want_chars:
            failed += 1
            problems.append(f"landed corpus has {chars} characters, expected {want_chars}")

    harness.log("setup done")
    small = gen.corpus(seed + 7919, docs=WARMUP_DOCS, **CORPUS)
    gen.write_table(small.table(), str(work / "warmup"), rows_per_file=WARMUP_DOCS // 4)
    warm = [harness.timed(dedup_pass, spark, tracer, p, {})[0] for p in (str(work / "warmup"), path)]

    harness.log(f"warm-up done: {[round(w, 2) for w in warm]}")
    tracer.start()
    passes: list[float] = []
    op_s: dict[str, list[float]] = {}
    outputs = []
    t_start = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_start < seconds:
        took, out = harness.timed(dedup_pass, spark, tracer, path, op_s)
        passes.append(took)
        outputs.append(out)
    rss = harness.peak_rss_mb()

    harness.log(f"timed passes done: {[round(p, 2) for p in passes]}")
    texts = dict(zip(corpus.doc_ids, corpus.texts))
    planted = checks.planted_pairs(corpus.exact_groups, corpus.near_clusters)
    for out in outputs:
        found = checks.check_corpus(
            texts, planted, minhash_threshold=MINHASH_THRESHOLD, ngram_threshold=NGRAM_THRESHOLD, **out
        )
        failed += bool(found) or not hot
        problems += found
    harness.log("checks done")
    tail = harness.tail_percentile(passes)
    return {
        "setup_s": harness.p50(setup_s),
        "op_p50_ms": harness.p50(passes) * 1000,
        "work_per_s": DOCS * len(passes) / sum(passes),
        "peak_rss_mb": rss,
        "samples": len(passes),
        "attempted": SETUP_REPS + len(passes),
        "failed": failed,
        "problems": problems,
        "detail": {
            "dedup.docs_per_s": (DOCS * len(passes) / sum(passes), "1/s"),
            "dedup.pass_p50_s": (harness.p50(passes), "s"),
            "dedup.pass_tail_s": (tail[1] if tail else None, "s", f"p{tail[0]}" if tail else "n<20"),
            "dedup.passes": (len(passes), "count"),
            **{f"{name}.p50_s": (harness.p50(v), "s") for name, v in op_s.items()},
            "dedup.planted_pairs": (len(planted), "count"),
            "dedup.hot_shingles": (hot, "count"),
        },
        "counters": {
            "dedup.ngram.pairs_out": len(outputs[-1]["ngram"]),
            "dedup.minhash.pairs_out": len(outputs[-1]["minhash"]),
        },
    }
