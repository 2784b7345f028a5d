"""Correctness models, independent of the package under test.

Each check takes the generated inputs plus what the program returned
and answers with a list of problems (empty means correct). None of them
touches Spark, so the tests can feed them corrupted outputs directly.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
from collections import Counter
from decimal import Decimal

import duckdb
import pyarrow as pa

# -- ingest_cdc: DuckDB model of the stage table ------------------------------------

INGEST_MODEL_SQL = """
WITH latest AS (
    SELECT * FROM replica
    QUALIFY row_number() OVER (PARTITION BY order_id ORDER BY updated_at DESC) = 1
)
SELECT
    order_id,
    CASE WHEN customer_code IS NULL OR trim(customer_code) IN ('', 'None', 'NULL', 'null')
         THEN 'UNKNOWN' ELSE trim(customer_code) END AS customer_code,
    CASE WHEN status = 'N' THEN 'NEW' WHEN status IN ('P', 'S') THEN 'OPEN'
         WHEN status = 'C' THEN 'CLOSED' ELSE status END AS status,
    TRY_CAST(amount AS DECIMAL(12, 2)) AS amount,
    TRY_CAST(qty AS INTEGER) AS qty,
    TRY_CAST(discount AS DOUBLE) AS discount,
    CAST(try_strptime(order_date, '%Y%m%d') AS DATE) AS order_date,
    CASE WHEN period_month IS NULL OR period_year IS NULL THEN '190001'
         ELSE CAST(period_year AS VARCHAR) || lpad(CAST(period_month AS VARCHAR), 2, '0') END AS period,
    CASE WHEN gift_flag = 'T' THEN 'T' ELSE 'F' END AS gift_flag,
    concat_ws('|', coalesce(trim(region), ''), coalesce(trim(city), '')) AS location,
    updated_at
FROM latest
WHERE is_deleted = 0
"""


def _canon(value):
    if isinstance(value, (Decimal, dt.date, dt.datetime)):
        return str(value)
    if isinstance(value, float):
        return repr(value)
    return value


def content_hash(rows) -> str:
    """Order-independent hash of a row set."""
    lines = sorted(json.dumps([_canon(v) for v in row]) for row in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def ingest_model_rows(replica: pa.Table) -> list[tuple]:
    con = duckdb.connect()
    try:
        con.register("replica", replica)
        return con.execute(INGEST_MODEL_SQL).fetchall()
    finally:
        con.close()


def check_ingest(replica: pa.Table, stage_rows: list[tuple]) -> list[str]:
    """The stage table must hold exactly the latest non-tombstoned
    version of every key, transformed."""
    expected = ingest_model_rows(replica)
    if content_hash(expected) == content_hash(stage_rows):
        return []
    want = {r[0]: r for r in expected}
    got = {r[0]: r for r in stage_rows}
    problems = [f"stage table has {len(got)} keys ({len(stage_rows)} rows), model has {len(want)}"]
    for k in sorted(set(want) | set(got)):
        if [_canon(v) for v in want.get(k, ())] != [_canon(v) for v in got.get(k, ())]:
            problems.append(f"key {k}: model {want.get(k)} != stage {got.get(k)}")
            break
    return problems


# -- corpus_dedup -----------------------------------------------------------------


def normalized_tokens(text: str) -> list[str]:
    return text.lower().split()


def shingle_set(text: str, n: int = 3) -> frozenset[str]:
    toks = normalized_tokens(text)
    if len(toks) < n:
        return frozenset([" ".join(toks)] if toks else [])
    return frozenset(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    union = len(a | b)
    return len(a & b) / union if union else 0.0


def hot_shingles(texts, cap: int) -> int:
    """Number of shingles in more than ``cap`` documents: the ones an
    n-gram index with that posting cap must drop and account for."""
    df: Counter = Counter()
    for text in texts:
        df.update(shingle_set(text))
    return sum(1 for n in df.values() if n > cap)


def planted_pairs(exact_groups, near_clusters) -> set[tuple[int, int]]:
    out = set()
    for group in list(exact_groups) + list(near_clusters):
        for i, a in enumerate(group):
            for b in group[i + 1 :]:
                if a != b:
                    out.add((min(a, b), max(a, b)))
    return out


def check_corpus(
    texts: dict[int, str],
    planted: set[tuple[int, int]],
    *,
    token_total: int,
    exact_kept: list[int],
    minhash: list[tuple[int, int, float]],
    minhash_threshold: float,
    ngram: list[tuple[int, int, float]],
    ngram_threshold: float,
) -> list[str]:
    problems: list[str] = []
    want_tokens = sum(len(normalized_tokens(t)) for t in texts.values())
    if token_total != want_tokens:
        problems.append(f"text features count {token_total} tokens, expected {want_tokens}")
    first: dict[str, int] = {}
    for doc_id in sorted(texts):
        first.setdefault(" ".join(normalized_tokens(texts[doc_id])), doc_id)
    if sorted(exact_kept) != sorted(first.values()):
        problems.append(f"exact_dedup kept {len(exact_kept)} docs, expected {len(first)}")
    shingles: dict[int, frozenset] = {}

    def jac(a: int, b: int) -> float:
        for d in (a, b):
            if d not in shingles:
                shingles[d] = shingle_set(texts[d])
        return jaccard(shingles[a], shingles[b])

    for name, pairs, t in (("minhash", minhash, minhash_threshold), ("ngram", ngram, ngram_threshold)):
        bad = [(a, b, j) for a, b, j in pairs if a >= b or jac(a, b) < t or abs(jac(a, b) - j) > 1e-6]
        if bad:
            problems.append(f"{name}: {len(bad)} reported pairs fail the recomputed Jaccard, e.g. {bad[0]}")
    found = {(a, b) for a, b, _ in ngram}
    missed = [p for p in sorted(planted) if jac(*p) >= ngram_threshold and p not in found]
    if missed:
        problems.append(f"ngram: missed {len(missed)} planted pairs above the threshold, e.g. {missed[0]}")
    return problems
