"""Seeded input generators.

Everything here is plain numpy/pyarrow: the program under test only
ever sees the parquet files these functions write, and the same seed
always yields byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1)
BATCH_GAP_S = 3600  # idle time between two change batches
BATCH_SPAN_S = 1800  # change rows of one batch fall inside this window

# Raw OLTP-replica columns: string-typed the way an extract lands them,
# so the light transform has real casting work to do.
RAW_SCHEMA = pa.schema(
    [
        ("order_id", pa.int64()),
        ("customer_code", pa.string()),
        ("status", pa.string()),
        ("amount", pa.string()),
        ("qty", pa.string()),
        ("discount", pa.string()),
        ("order_date", pa.string()),
        ("period_month", pa.int32()),
        ("period_year", pa.int32()),
        ("gift_flag", pa.string()),
        ("region", pa.string()),
        ("city", pa.string()),
        ("updated_at", pa.timestamp("us")),
        ("is_deleted", pa.int32()),
    ]
)

_STATUSES = np.array(["N", "P", "S", "C", "X"])
_REGIONS = np.array(["north", "south", " east ", "west", "", None], dtype=object)
_CITIES = np.array(["lima", "cusco", "arequipa", "piura ", None], dtype=object)
_FLAGS = np.array(["T", "F", "Y", None], dtype=object)


def recent_skewed(
    rng: np.random.Generator, n_keys: int, size: int, a: float = 1.2, block: int = 64
) -> np.ndarray:
    """Key indices in ``[0, n_keys)`` Zipf-skewed towards the newest
    (highest) index. Zipf ranks pick blocks of ``block`` consecutive
    keys (block 1 holds the newest keys), a uniform draw picks the key
    inside the block; ranks past the oldest key wrap around."""
    ranks = (rng.zipf(a, size) - 1) * block + rng.integers(0, block, size)
    return (n_keys - 1 - ranks % n_keys).astype(np.int64)


@dataclass
class CdcReplica:
    """Base snapshot plus change batches of one replicated OLTP table."""

    base: pa.Table
    batches: list[pa.Table]

    def batch_window(self, i: int) -> tuple[dt.datetime, dt.datetime]:
        """Half-open wall-clock window that holds every row of batch ``i``."""
        start = EPOCH + dt.timedelta(seconds=(i + 1) * (BATCH_GAP_S + BATCH_SPAN_S))
        return start, start + dt.timedelta(seconds=BATCH_SPAN_S)

    def base_window(self) -> tuple[dt.datetime, dt.datetime]:
        return EPOCH, EPOCH + dt.timedelta(seconds=BATCH_SPAN_S)


def _raw_rows(rng: np.random.Generator, keys: np.ndarray, stamps: np.ndarray, deleted: np.ndarray) -> pa.Table:
    n = len(keys)
    cents = rng.integers(100, 5_000_000, n)
    amount = np.array(["%s.%s" % (c // 100, str(c % 100).zfill(2)) for c in cents.tolist()], dtype=object)
    amount[rng.random(n) < 0.01] = "n/a"
    qty = rng.integers(1, 50, n).astype(str).astype(object)
    qty[rng.random(n) < 0.01] = "?"
    discount = np.array(["%.3f" % d for d in (rng.integers(0, 400, n) / 1000).tolist()], dtype=object)
    days = rng.integers(0, 730, n)
    order_date = np.array(
        [(dt.date(2022, 1, 1) + dt.timedelta(days=int(d))).strftime("%Y%m%d") for d in days],
        dtype=object,
    )
    order_date[rng.random(n) < 0.01] = "NA"
    month = rng.integers(1, 13, n).astype(np.int32)
    year = rng.integers(2020, 2025, n).astype(np.int32)
    month_null = rng.random(n) < 0.02
    cust = np.array(["  C%05d " % c for c in rng.integers(0, 20000, n).tolist()], dtype=object)
    cust_odd = rng.random(n)
    cust[cust_odd < 0.02] = "NULL"
    cust[(cust_odd >= 0.02) & (cust_odd < 0.03)] = "   "
    cust[(cust_odd >= 0.03) & (cust_odd < 0.04)] = None
    return pa.table(
        {
            "order_id": pa.array(keys, pa.int64()),
            "customer_code": pa.array(cust, pa.string()),
            "status": pa.array(_STATUSES[rng.integers(0, len(_STATUSES), n)], pa.string()),
            "amount": pa.array(amount, pa.string()),
            "qty": pa.array(qty, pa.string()),
            "discount": pa.array(discount, pa.string()),
            "order_date": pa.array(order_date, pa.string()),
            "period_month": pa.array(month, pa.int32(), mask=month_null),
            "period_year": pa.array(year, pa.int32()),
            "gift_flag": pa.array(_FLAGS[rng.integers(0, len(_FLAGS), n)], pa.string()),
            "region": pa.array(_REGIONS[rng.integers(0, len(_REGIONS), n)], pa.string()),
            "city": pa.array(_CITIES[rng.integers(0, len(_CITIES), n)], pa.string()),
            "updated_at": pa.array(stamps, pa.timestamp("us")),
            "is_deleted": pa.array(deleted.astype(np.int32), pa.int32()),
        },
        schema=RAW_SCHEMA,
    )


def _stamps(rng: np.random.Generator, start: dt.datetime, n: int) -> np.ndarray:
    """``n`` distinct, increasing timestamps inside one batch window,
    each half a second off the whole second so that no row ever sits on
    a generated predicate boundary (those are rendered to the second)."""
    offsets = np.sort(rng.choice(BATCH_SPAN_S - 2, size=n, replace=False)) + 1
    micros = offsets * 1_000_000 + 500_000
    base = np.datetime64(start, "us")
    return base + micros.astype("timedelta64[us]")


def cdc_replica(
    seed: int,
    *,
    base_rows: int,
    batches: int,
    batch_rows: int,
    new_key_frac: float = 0.2,
    tombstone_frac: float = 0.05,
) -> CdcReplica:
    """Seeded CDC replica: ``base_rows`` keys, then ``batches`` change
    batches. Updates pick existing keys Zipf-skewed to the most recent
    ones, so hot keys get several versions inside one batch; about
    ``tombstone_frac`` of change rows are deletes."""
    rng = np.random.default_rng([seed, 1])
    if batch_rows > BATCH_SPAN_S - 2:
        raise ValueError("batch_rows exceeds the distinct stamps one window holds")
    base_keys = np.arange(base_rows, dtype=np.int64)
    base_stamps = np.datetime64(EPOCH, "us") + (
        np.arange(base_rows) * (BATCH_SPAN_S * 1_000_000 // base_rows) + 500_000
    ).astype("timedelta64[us]")
    base = _raw_rows(rng, base_keys, base_stamps, np.zeros(base_rows, bool))
    out = []
    next_key = base_rows
    replica = CdcReplica(base, out)
    for i in range(batches):
        new = rng.random(batch_rows) < new_key_frac
        keys = recent_skewed(rng, next_key, batch_rows)
        n_new = int(new.sum())
        keys[new] = np.arange(next_key, next_key + n_new)
        next_key += n_new
        deleted = (~new) & (rng.random(batch_rows) < tombstone_frac)
        start, _ = replica.batch_window(i)
        out.append(_raw_rows(rng, keys, _stamps(rng, start, batch_rows), deleted))
    return replica


def write_table(table: pa.Table, path: str, *, rows_per_file: int | None = None) -> list[str]:
    """Write ``table`` as one or more deterministic snappy parquet files."""
    os.makedirs(path, exist_ok=True)
    step = rows_per_file or max(1, table.num_rows)
    files = []
    for i, off in enumerate(range(0, max(1, table.num_rows), step)):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(off, step), f, compression="snappy")
        files.append(f)
    return files


# -- document corpus ------------------------------------------------------------


@dataclass
class Corpus:
    doc_ids: list[int]
    texts: list[str]
    exact_groups: list[list[int]]  # planted exact-duplicate groups (doc ids)
    near_clusters: list[list[int]]  # planted near-duplicate clusters (doc ids)

    def table(self) -> pa.Table:
        return pa.table(
            {"doc_id": pa.array(self.doc_ids, pa.int64()), "text": pa.array(self.texts, pa.string())}
        )


def _vocabulary(size: int) -> np.ndarray:
    """Fixed word list, rank order = list order: only the sampling
    depends on the seed, so every seed has the same frequency structure
    (and the same number of shingles near the n-gram posting cap)."""
    return np.array([f"t{np.base_repr(i, 36).lower()}" for i in range(size)])


def corpus(
    seed: int,
    *,
    docs: int,
    vocab: int = 20000,
    zipf_s: float = 1.1,
    exact_frac: float = 0.05,
    near_frac: float = 0.08,
    cluster_size: int = 3,
    max_edits: int = 4,
    length: tuple[int, int] = (40, 120),
) -> Corpus:
    """Seeded corpus over a Zipfian vocabulary (so hot shingles exist),
    with planted exact duplicates (case/whitespace variants of one text)
    and near-duplicate clusters (copies that differ by a few token
    edits)."""
    rng = np.random.default_rng([seed, 2])
    words = _vocabulary(vocab)
    weights = 1.0 / np.arange(1, len(words) + 1) ** zipf_s
    weights /= weights.sum()
    n_exact = int(docs * exact_frac)
    n_near = int(docs * near_frac)
    n_orig = docs - n_exact - n_near
    lengths = rng.integers(length[0], length[1] + 1, n_orig)
    tokens = rng.choice(len(words), size=int(lengths.sum()), p=weights)
    originals: list[list[str]] = []
    off = 0
    for k in lengths.tolist():
        originals.append(words[tokens[off : off + k]].tolist())
        off += k
    texts = [" ".join(t) for t in originals]
    exact_groups: list[list[int]] = []
    for _ in range(n_exact):
        src = int(rng.integers(0, n_orig))
        toks = list(originals[src])
        toks[0] = toks[0].upper()
        texts.append("  ".join(toks) + " ")
        exact_groups.append([src, len(texts) - 1])
    near_clusters: list[list[int]] = []
    while len(texts) < docs:
        src = int(rng.integers(0, n_orig))
        members = [src]
        for _ in range(min(cluster_size - 1, docs - len(texts))):
            toks = list(originals[src])
            for _ in range(int(rng.integers(1, max_edits + 1))):
                pos = int(rng.integers(0, len(toks)))
                op = int(rng.integers(0, 3))
                word = str(words[int(rng.choice(len(words), p=weights))])
                if op == 0:
                    toks[pos] = word
                elif op == 1:
                    toks.insert(pos, word)
                elif len(toks) > 3:
                    del toks[pos]
            texts.append(" ".join(toks))
            members.append(len(texts) - 1)
        near_clusters.append(members)
    order = rng.permutation(docs)  # planted copies must not sit next to their source
    ids = np.empty(docs, np.int64)
    ids[order] = np.arange(docs)
    remap = ids.tolist()
    shuffled = [""] * docs
    for old, new in enumerate(remap):
        shuffled[new] = texts[old]
    return Corpus(
        doc_ids=list(range(docs)),
        texts=shuffled,
        exact_groups=[[remap[i] for i in g] for g in exact_groups],
        near_clusters=[[remap[i] for i in c] for c in near_clusters],
    )
