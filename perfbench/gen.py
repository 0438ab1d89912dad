"""Seeded input generation for the three workloads.

Every table is a function of the seed alone, written as parquet with the
schema the registry reads (``pixie_spark.sources.load_table``). Sizes are
fixed constants so runs with different seeds do the same amount of work.

All generated doubles are multiples of 1/4 (prices, values) or 1/64
(discounts, taxes), so every sum and product the queries take is exact in
binary floating point: Spark and DuckDB then agree bit-for-bit whatever
order they add in, and no seed can land a rounded aggregate on a
half-cent boundary that one engine rounds up and the other down.
"""

from __future__ import annotations

import datetime
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# dashboards: about a twentieth of the sf0.1 testdata tier
N_CUSTOMER = 1500
N_SUPPLIER = 100
N_ORDERS = 5000
N_EVENTS = 8000
N_USERS = 300
# corpus_pipeline
N_DOCS = 600
N_VECS = 500
DIM = 64
# stream_replay
STREAM_USERS = 150
STREAM_BATCH_EVENTS = (150, 350)
STREAM_BATCH_DOCS = (20, 40)

EVENT_TYPES = ["view", "click", "purchase", "signup", "login", "error"]
EVENT_WEIGHTS = [0.30, 0.25, 0.12, 0.08, 0.15, 0.10]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query key window row table stream merge data "
    "big vector join customer index shard token page crawl clean dedup host "
    "link rank split train test model score metric trace span event log "
    "pod node service latency error request path cache state"
).split()

_EPOCH = datetime.datetime(1970, 1, 1)
EVENTS_BASE_US = 1_704_067_200_000_000  # 2024-01-01 UTC
DAY_US = 86_400_000_000


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per table, so adding a table never shifts
    the values of another."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _quarters(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n) * 4) / 4


def _days_us(rng, start: datetime.date, end: datetime.date, n: int) -> np.ndarray:
    lo = (datetime.datetime.combine(start, datetime.time()) - _EPOCH).days
    hi = (datetime.datetime.combine(end, datetime.time()) - _EPOCH).days
    return rng.integers(lo, hi + 1, n).astype("int64") * DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def write_dashboard_tables(seed: int, out_dir: str) -> None:
    """TPC-H-shaped star schema plus the ``events`` table."""
    os.makedirs(out_dir, exist_ok=True)
    _write(
        pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        f"{out_dir}/region.parquet",
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        f"{out_dir}/nation.parquet",
    )
    r = rng(seed, "customer")
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
                "c_nationkey": pa.array(r.integers(0, 25, N_CUSTOMER), pa.int32()),
                "c_acctbal": _quarters(r, -999, 9999, N_CUSTOMER),
                "c_mktsegment": r.choice(
                    ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"],
                    N_CUSTOMER,
                ),
            }
        ),
        f"{out_dir}/customer.parquet",
    )
    r = rng(seed, "supplier")
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
                "s_nationkey": pa.array(r.integers(0, 25, N_SUPPLIER), pa.int32()),
                "s_acctbal": _quarters(r, -999, 9999, N_SUPPLIER),
            }
        ),
        f"{out_dir}/supplier.parquet",
    )
    r = rng(seed, "orders")
    # a tenth of the customers place no order: the left join keeps them
    buyers = r.permutation(N_CUSTOMER)[: N_CUSTOMER * 9 // 10]
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
                "o_custkey": pa.array(r.choice(buyers, N_ORDERS), pa.int64()),
                "o_orderstatus": r.choice(["F", "O", "P"], N_ORDERS),
                "o_totalprice": _quarters(r, 1000, 500000, N_ORDERS),
                "o_orderdate": _ts(
                    _days_us(r, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1), N_ORDERS)
                ),
                "o_orderpriority": r.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    N_ORDERS,
                ),
            }
        ),
        f"{out_dir}/orders.parquet",
    )
    r = rng(seed, "lineitem")
    per_order = r.integers(1, 8, N_ORDERS)
    n = int(per_order.sum())
    order_keys = np.repeat(np.arange(N_ORDERS), per_order)
    line_no = np.concatenate([np.arange(1, k + 1) for k in per_order])
    perm = r.permutation(n)  # files are not sorted by key
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(order_keys[perm], pa.int64()),
                "l_partkey": pa.array(r.integers(0, 2000, n), pa.int64()),
                "l_suppkey": pa.array(r.integers(0, N_SUPPLIER, n), pa.int64()),
                "l_linenumber": pa.array(line_no[perm], pa.int32()),
                "l_quantity": r.integers(1, 51, n).astype("float64"),
                "l_extendedprice": _quarters(r, 900, 105000, n),
                "l_discount": r.integers(0, 7, n) / 64.0,
                "l_tax": r.integers(0, 6, n) / 64.0,
                "l_returnflag": r.choice(["A", "N", "R"], n),
                "l_linestatus": r.choice(["O", "F"], n),
                "l_shipdate": _ts(
                    _days_us(r, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4), n)
                ),
            }
        ),
        f"{out_dir}/lineitem.parquet",
    )
    _write(_events(seed, N_EVENTS, N_USERS, 14), f"{out_dir}/events.parquet")


def _events(seed: int, n: int, users: int, days: int) -> pa.Table:
    r = rng(seed, "events")
    # strictly increasing µs timestamps: (user, ts) is a unique key, so
    # window orders have no ties for the engines to break differently
    gaps = r.integers(1, 2 * days * DAY_US // n, n)
    ts = EVENTS_BASE_US + np.cumsum(gaps)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(r.integers(0, users, n), pa.int64()),
            "event_type": r.choice(EVENT_TYPES, n, p=EVENT_WEIGHTS),
            "value": np.round(r.exponential(50.0, n) * 4) / 4,
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
        }
    )


def _doc_texts(r: np.random.Generator, n: int) -> list[str]:
    """Random-word documents with a fixed duplicate structure, so every
    seed gives the dedup stages the same amount of work: in each block
    of twelve, one document is a near-copy of the one before it (one
    word in 25 replaced: Jaccard well above 0.5 on 5-shingles), one is
    an exact copy of an earlier one, and one is too short for the
    quality gate."""
    texts: list[str] = []
    for i in range(n):
        slot = i % 12
        if slot == 5:
            words = texts[i - 1].split()
            for _ in range(max(1, len(words) // 25)):
                words[int(r.integers(0, len(words)))] = str(r.choice(WORDS))
            texts.append(" ".join(words))
        elif slot == 11:
            texts.append(texts[i - 3])
        elif slot == 9:
            texts.append(" ".join(r.choice(WORDS, int(r.integers(1, 5)))))
        else:
            texts.append(" ".join(r.choice(WORDS, int(r.integers(30, 90)))))
    return texts


def _documents(r: np.random.Generator, ids: np.ndarray, texts: list[str]) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": r.choice(LANGS, len(ids), p=LANG_WEIGHTS),
            "source": [f"src{k}" for k in r.integers(0, 20, len(ids))],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_corpus_tables(seed: int, out_dir: str) -> None:
    """``documents`` and 64-d ``embeddings``, both with planted
    near-duplicates."""
    os.makedirs(out_dir, exist_ok=True)
    r = rng(seed, "documents")
    _write(
        _documents(r, np.arange(N_DOCS), _doc_texts(r, N_DOCS)),
        f"{out_dir}/documents.parquet",
    )
    r = rng(seed, "embeddings")
    vecs = r.standard_normal((N_VECS, DIM))
    # every sixteenth vector is a near-duplicate of the one before it
    for i in range(15, N_VECS, 16):
        vecs[i] = vecs[i - 1] + r.standard_normal(DIM) * 0.3
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
                "embedding": pa.array(
                    list(vecs.astype("float32")), pa.list_(pa.float32())
                ),
                "label": pa.array(r.integers(0, 10, N_VECS), pa.int32()),
            }
        ),
        f"{out_dir}/embeddings.parquet",
    )


STREAM_EVENT_SCHEMA = pa.schema(
    [("user_id", pa.int64()), ("ts", pa.int64()), ("event_type", pa.string()),
     ("value", pa.float64())]
)
STREAM_DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def write_stream_batches(
    seed: int, out_dir: str, n_event_batches: int, n_doc_batches: int
) -> tuple[list[str], list[str]]:
    """Micro-batch files for the replay, staged (not yet visible to any
    stream) under ``out_dir``. Events are in event-time order (``ts`` is
    long ns); the seed fixes every batch boundary. Returns the staged
    event and document file paths in landing order."""
    os.makedirs(out_dir, exist_ok=True)
    r = rng(seed, "stream_events")
    sizes = r.integers(STREAM_BATCH_EVENTS[0], STREAM_BATCH_EVENTS[1] + 1, n_event_batches)
    n = int(sizes.sum())
    ts_ns = (EVENTS_BASE_US + np.cumsum(r.integers(1, 6_000_000, n))) * 1000
    events = pa.table(
        {
            "user_id": pa.array(r.integers(0, STREAM_USERS, n), pa.int64()),
            "ts": pa.array(ts_ns, pa.int64()),
            "event_type": r.choice(EVENT_TYPES, n, p=EVENT_WEIGHTS),
            "value": np.round(r.exponential(50.0, n) * 4) / 4,
        },
        schema=STREAM_EVENT_SCHEMA,
    )
    ev_paths = []
    lo = 0
    for i, k in enumerate(sizes):
        path = f"{out_dir}/events-{i:05d}.parquet"
        _write(events.slice(lo, int(k)), path)
        ev_paths.append(path)
        lo += int(k)
    r = rng(seed, "stream_docs")
    dsizes = r.integers(STREAM_BATCH_DOCS[0], STREAM_BATCH_DOCS[1] + 1, n_doc_batches)
    texts = _doc_texts(r, int(dsizes.sum()))
    doc_paths = []
    lo = 0
    for i, k in enumerate(dsizes):
        path = f"{out_dir}/docs-{i:05d}.parquet"
        ids = np.arange(lo, lo + int(k))
        _write(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts[lo:lo + int(k)]},
                     schema=STREAM_DOC_SCHEMA),
            path,
        )
        doc_paths.append(path)
        lo += int(k)
    return ev_paths, doc_paths


def digest_files(paths: list[str]) -> str:
    """sha256 over the named files' bytes, in the given order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]
