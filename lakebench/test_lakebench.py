"""Tests of the benchmark's own code (no Spark needed):

    python3 -m pytest lakebench -q
"""

from __future__ import annotations

import json
from pathlib import Path

import pyarrow as pa
import pytest

import checks
import gen
import harness
import run
import spans


def _files(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


def _write_inputs(seed: int, root: Path) -> dict[str, bytes]:
    replica = gen.cdc_replica(seed, base_rows=500, batches=4, batch_rows=200)
    gen.write_table(pa.concat_tables([replica.base, *replica.batches]), str(root / "replica"), rows_per_file=300)
    gen.write_table(gen.corpus(seed, docs=300, vocab=2000).table(), str(root / "corpus"), rows_per_file=100)
    return _files(root)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _write_inputs(7, tmp_path / "a")
    b = _write_inputs(7, tmp_path / "b")
    c = _write_inputs(8, tmp_path / "c")
    assert a and a == b
    assert a.keys() == c.keys() and a != c


@pytest.mark.parametrize("n,p", [(20, 50), (40, 75), (100, 90), (57, 82), (1000, 99)])
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    samples = [float(i) for i in range(n, 0, -1)]
    got_p, value = harness.tail_percentile(samples)
    assert got_p == p
    assert sum(s > value for s in samples) >= 10
    # one percentile higher would leave fewer than ten samples beyond it
    rank_next = -(-(p + 1) * n // 100)
    assert n - rank_next < 10


def test_tail_percentile_needs_twenty_samples():
    assert harness.tail_percentile([1.0] * 19) is None


class _FakeContext:
    def setJobGroup(self, group, description):
        pass

    def setLocalProperty(self, key, value):
        pass


class _FakeSession:
    sparkContext = _FakeContext()


@pytest.mark.parametrize("traced", [False, True])
def test_tracer_records_only_the_timed_loop(traced):
    tracer = spans.Tracer(_FakeSession(), "w", traced=traced)
    with tracer.span("setup.call"):
        tracer.count("setup.count", 1)
    tracer.start()
    with tracer.span("layer.op"):
        with tracer.span("layer.inner"):
            tracer.count("layer.count", 2)
    if traced:
        assert [(c.name, c.depth) for c in tracer.calls] == [("layer.inner", 1), ("layer.op", 0)]
        assert dict(tracer.counters) == {"layer.count": 2}
    else:
        assert tracer.calls == [] and not tracer.counters


# -- correctness checks fail on corrupted outputs -------------------------------


@pytest.fixture(scope="module")
def replica():
    r = gen.cdc_replica(3, base_rows=300, batches=3, batch_rows=120)
    return pa.concat_tables([r.base, *r.batches])


def test_ingest_check_accepts_the_model(replica):
    assert checks.check_ingest(replica, checks.ingest_model_rows(replica)) == []


def test_ingest_check_rejects_corruption(replica):
    good = checks.ingest_model_rows(replica)
    changed = list(good)
    row = list(changed[5])
    row[2] = "CLOSED" if row[2] != "CLOSED" else "OPEN"
    changed[5] = tuple(row)
    assert checks.check_ingest(replica, changed)
    assert checks.check_ingest(replica, good[1:])
    tomb = next(r for r in replica.to_pylist() if r["is_deleted"])
    resurrected = good + [(tomb["order_id"],) + good[0][1:]]
    assert checks.check_ingest(replica, resurrected)


@pytest.fixture(scope="module")
def corpus_case():
    c = gen.corpus(5, docs=240, vocab=3000, length=(20, 40))
    texts = dict(zip(c.doc_ids, c.texts))
    sets = {d: checks.shingle_set(t) for d, t in texts.items()}
    ids = sorted(texts)
    pairs = [
        (a, b, round(checks.jaccard(sets[a], sets[b]), 6))
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if checks.jaccard(sets[a], sets[b]) >= 0.5
    ]
    first = {}
    for d in ids:
        first.setdefault(" ".join(checks.normalized_tokens(texts[d])), d)
    out = {
        "token_total": sum(len(checks.normalized_tokens(t)) for t in texts.values()),
        "exact_kept": sorted(first.values()),
        "minhash": [p for p in pairs if p[2] >= 0.7],
        "ngram": pairs,
    }
    planted = checks.planted_pairs(c.exact_groups, c.near_clusters)
    return texts, planted, out


def _check_corpus(texts, planted, out):
    return checks.check_corpus(texts, planted, minhash_threshold=0.7, ngram_threshold=0.5, **out)


def test_corpus_has_planted_pairs_above_the_threshold(corpus_case):
    texts, planted, out = corpus_case
    assert planted
    assert {(a, b) for a, b, _ in out["ngram"]} & planted
    assert _check_corpus(texts, planted, out) == []


def test_corpus_check_rejects_corruption(corpus_case):
    texts, planted, out = corpus_case
    hit = next(p for p in out["ngram"] if (p[0], p[1]) in planted)
    far = next((a, b) for a in texts for b in texts if a < b and (a, b) not in planted)
    for field, value in [
        ("ngram", [p for p in out["ngram"] if p != hit]),  # a planted pair missed
        ("ngram", out["ngram"] + [(far[0], far[1], 0.9)]),  # a pair below the threshold
        ("minhash", out["minhash"] + [(far[0], far[1], 0.9)]),
        ("token_total", out["token_total"] + 1),
        ("exact_kept", out["exact_kept"][1:]),
    ]:
        assert _check_corpus(texts, planted, {**out, field: value}), field


def test_hot_shingles_counts_trigrams_above_the_cap():
    texts = ["a b c d", "A b c", "a b c x", "x y z"]
    assert checks.hot_shingles(texts, 2) == 1  # "a b c" is in three documents
    assert checks.hot_shingles(texts, 3) == 0


def test_benchmark_corpus_reaches_the_hot_shingle_path():
    import wl_corpus

    texts = gen.corpus(11, docs=wl_corpus.DOCS, **wl_corpus.CORPUS).texts
    assert checks.hot_shingles(texts, wl_corpus.SHINGLE_CAP) > 0


# -- BENCHMARK.json names exactly the metrics the command prints ------------------


def test_benchmark_json_matches_the_command():
    spec = json.loads((harness.ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == run.per_layer_metrics()
    assert spec["command"] == ["python3", "lakebench/run.py"] and spec["paths"] == ["lakebench"]
