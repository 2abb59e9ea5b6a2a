"""Seeded synthetic inputs with the schema and value shapes of the engine's
TPC-H-like fixture tables.

The same ``(seed, sf)`` always yields the same tables, and each table
draws from its own random stream, so a workload can generate only the
tables it reads.  Row counts depend on ``sf`` only (``lineitem`` varies
by a fraction of a percent because each order draws 1-7 lines), so runs
with different seeds do the same amount of work on different values.

Deliberate differences from the fixture corpus:

* ``(l_orderkey, l_linenumber)`` is unique, as in TPC-H, so the
  incremental workload can check "exactly the distinct keys delivered";
* ``documents`` has 500 rows at every scale, in twenty chains of 25
  near-duplicates whose duplicate graph is the same for every seed (see
  ``_near_dup_corpus``).  The fixtures draw every document from 31 words,
  so most long documents are near-duplicates of each other and the
  graph's shape changes from seed to seed.  The DuckDB oracles of the
  near-duplicate queries grow quadratically with the corpus (the l2
  oracle alone takes ~30 s on the 5000-document fixture on a 4-core
  host).
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = (["en", "de", "es", "fr", "zh"], [0.41, 0.1475, 0.1475, 0.1475, 0.1475])

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
N_DOCUMENTS = 500
CHAIN = 25  # documents per near-duplicate chain
DOC_TOKENS = 24  # distinct tokens per document
DOC_VOCAB = [f"{w}{i}" for i in range(65) for w in VOCAB][:2000]
EMBED_DIM = 64

_EPOCH = np.datetime64("1970-01-01", "D")


def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    lo = (np.datetime64(start, "D") - _EPOCH).astype(int)
    hi = (np.datetime64(end, "D") - _EPOCH).astype(int)
    days = rng.integers(lo, hi + 1, n)
    return (days.astype("int64") * 86_400_000_000).astype("datetime64[us]")


def _money(lo: float, hi: float, n: int, rng) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(values: list[str], n: int, rng, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _near_dup_corpus(rng) -> list[str]:
    """``N_DOCUMENTS`` texts in chains of ``CHAIN``.  A chain is a
    sequence of ``DOC_TOKENS + CHAIN - 1`` distinct tokens, and its i-th
    document holds the ``DOC_TOKENS`` tokens from position i on (in a
    seeded order), so documents k steps apart have token-set Jaccard
    (24 - k) / (24 + k): 0.92 for neighbours, 0.85 two steps apart.  At
    the engine's 0.9 threshold every chain is a path of 24 near-duplicate
    edges, and chains share no token.  Documents sit at doc ids drawn
    from a fixed permutation, so the labelled graph, and with it the
    connected-components rounds, is the same for every seed; the tokens
    and their order are the seed's."""
    n_chains = N_DOCUMENTS // CHAIN
    pool = rng.permutation(DOC_VOCAB)
    per_chain = DOC_TOKENS + CHAIN - 1
    texts = []
    for c in range(n_chains):
        chain_vocab = pool[c * per_chain:(c + 1) * per_chain]
        for i in range(CHAIN):
            texts.append(" ".join(rng.permutation(chain_vocab[i:i + DOC_TOKENS])))
    layout = np.random.default_rng(0).permutation(N_DOCUMENTS)
    out = [""] * N_DOCUMENTS
    for position, doc_id in enumerate(layout):
        out[doc_id] = texts[position]
    return out


def _rng(seed: int, table: str):
    return np.random.default_rng([seed, zlib.crc32(table.encode())])


def generate(seed: int, sf: float, names=TABLES) -> dict[str, pa.Table]:
    """The catalog tables in ``names`` for scale factor ``sf`` (0.1 ≈
    600k lineitem rows)."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_orders = max(1_500, int(1_500_000 * sf))
    n_events = max(1_000, int(1_000_000 * sf))
    n_vectors = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    if "region" in names:
        out["region"] = pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": REGIONS,
            }
        )
    if "nation" in names:
        out["nation"] = pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        )
    if "customer" in names:
        rng = _rng(seed, "customer")
        out["customer"] = pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
                "c_mktsegment": _pick(SEGMENTS, n_cust, rng),
            }
        )
    if "supplier" in names:
        rng = _rng(seed, "supplier")
        out["supplier"] = pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(-999.99, 9999.99, n_supp, rng),
            }
        )
    if "part" in names:
        rng = _rng(seed, "part")
        part_names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
        out["part"] = pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": _pick(part_names, n_part, rng),
                "p_brand": _pick([f"Brand#{i}" for i in range(1, 26)], n_part, rng),
                "p_type": _pick(PART_TYPES, n_part, rng),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
            }
        )
    if "orders" in names:
        rng = _rng(seed, "orders")
        out["orders"] = pa.table(
            {
                "o_orderkey": np.arange(n_orders, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
                "o_orderstatus": _pick(["O", "P", "F"], n_orders, rng),
                "o_totalprice": _money(1000.0, 500000.0, n_orders, rng),
                "o_orderdate": _days("1995-01-01", "2001-08-01", n_orders, rng),
                "o_orderpriority": _pick(PRIORITIES, n_orders, rng),
            }
        )
    if "lineitem" in names:
        rng = _rng(seed, "lineitem")
        lines = rng.integers(1, 8, n_orders)
        n_li = int(lines.sum())
        orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
        starts = np.repeat(np.cumsum(lines) - lines, lines)
        linenumber = (np.arange(n_li) - starts + 1).astype(np.int32)
        lineitem = pa.table(
            {
                "l_orderkey": orderkey,
                "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
                "l_linenumber": linenumber,
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(900.0, 105000.0, n_li, rng),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": _pick(["A", "N", "R"], n_li, rng),
                "l_linestatus": _pick(["O", "F"], n_li, rng),
                "l_shipdate": _days("1995-01-02", "2001-11-04", n_li, rng),
            }
        )
        # Fixture files store rows in no particular key order.
        out["lineitem"] = lineitem.take(rng.permutation(n_li))
    if "events" in names:
        rng = _rng(seed, "events")
        # Strictly increasing microsecond timestamps over 30 days, so the
        # datetime watermark has exactly one row per value.
        gaps = rng.exponential(1.0, n_events)
        span_us = 30 * 86_400_000_000
        ts = np.cumsum(gaps / gaps.sum() * (span_us - n_events)).astype(np.int64)
        ts += np.arange(n_events) + int(
            (np.datetime64("2024-01-01", "us") - np.datetime64(0, "us")).astype(int)
        )
        out["events"] = pa.table(
            {
                "event_id": np.arange(n_events, dtype=np.int64),
                "ts": ts.astype("datetime64[us]"),
                "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_events).astype(
                    np.int64
                ),
                "event_type": _pick(EVENT_TYPES, n_events, rng),
                "value": np.round(rng.exponential(50.0, n_events), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
            }
        )
    if "documents" in names:
        rng = _rng(seed, "documents")
        texts = _near_dup_corpus(rng)
        out["documents"] = pa.table(
            {
                "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
                "text": texts,
                "lang": _pick(LANGS[0], N_DOCUMENTS, rng, p=LANGS[1]),
                "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        )
    if "embeddings" in names:
        rng = _rng(seed, "embeddings")
        vecs = rng.standard_normal((n_vectors, EMBED_DIM)).astype(np.float32)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        out["embeddings"] = pa.table(
            {
                "vec_id": np.arange(n_vectors, dtype=np.int64),
                "embedding": pa.FixedSizeListArray.from_arrays(
                    pa.array(vecs.reshape(-1)), EMBED_DIM
                ).cast(pa.list_(pa.float32())),
                "label": rng.integers(0, 10, n_vectors).astype(np.int32),
            }
        )
    return out


def write_table(table: pa.Table, path: str) -> int:
    """One parquet file with a single row group, like the fixtures (so a
    scan of one file is one task).  Returns the file size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        table, path, row_group_size=max(1, table.num_rows), compression="snappy"
    )
    return os.path.getsize(path)


def write_catalog(tables: dict[str, pa.Table], sf_dir: str) -> dict[str, int]:
    """Write every table as ``<sf_dir>/<name>.parquet``; returns row
    counts by absolute file path (for rows-scanned accounting)."""
    rows = {}
    for name, table in tables.items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        write_table(table, path)
        rows[os.path.abspath(path)] = table.num_rows
    return rows


def arrival_slices(tbl: pa.Table, column: str, rng, initial_share: float,
                   arrivals: int, redelivery_share: float) -> list[pa.Table]:
    """Cut ``tbl`` by ``column`` into an initial slice of about
    ``initial_share`` of the rows and ``arrivals`` arrival slices at
    seeded points (cuts fall between distinct values, so a value never
    straddles two slices).  Each arrival slice also carries copies of a
    ``redelivery_share`` of the previous slice's rows at its boundary
    value."""
    tbl = tbl.sort_by(column)
    col = tbl.column(column)
    values = np.asarray(col.cast(pa.int64()) if pa.types.is_timestamp(col.type) else col)
    n = len(values)
    shares = initial_share + (1 - initial_share) * np.arange(1, arrivals) / arrivals
    jitter = rng.uniform(-0.02, 0.02, arrivals - 1)
    cuts = [0, int(initial_share * n)] + [int(s * n) for s in shares + jitter] + [n]
    # move each cut to the next change of value
    cuts = [c if c in (0, n) else int(np.searchsorted(values, values[c], "left")) for c in cuts]
    slices = []
    for i in range(len(cuts) - 1):
        part = tbl.slice(cuts[i], cuts[i + 1] - cuts[i])
        if i > 0:
            lo = int(np.searchsorted(values, values[cuts[i] - 1], "left"))
            boundary = tbl.slice(lo, cuts[i] - lo)
            keep = rng.random(boundary.num_rows) < redelivery_share
            keep[0] = True  # at least one re-delivered row per slice
            part = pa.concat_tables([boundary.filter(pa.array(keep)), part])
        slices.append(part)
    return slices
