"""Seeded input generator for the benchmark workloads.

Everything the engine reads is made here from one integer seed: the same
seed gives byte-identical parquet, a different seed gives different rows.
The engine receives only the generated files.

Shapes follow FIXTURES.md (star schema, ``events``, ``documents``,
``embeddings``).  Value domains are calibrated on the sf0.1 test data, so
the registry predicates (ship-date cut-offs, event types, ``{"k": n}``
props, language set, vocabulary) select the same shares of rows:

- orders/lineitem dates are uniform days over 1995-01-01..2001-08-01 and
  1995-01-02..2001-11-04, independent of each other;
- ``events.ts`` is sorted with ``event_id`` over 30 days from 2024-01-01,
  ``value`` is exponential with mean 50 rounded to cents, ``props`` is
  ``{"k": n}`` with n uniform in 0..99, about 66 events per user;
- documents draw 10..100 words from a 30-word vocabulary; 5% are an
  earlier document plus the word ``dup`` (near duplicates) and 0.2% repeat
  an earlier document exactly; languages are en 41%, zh/fr/es 15%, de 14%;
- embeddings are unit-norm 64-d gaussians with 10 uniform labels; 2% are
  an earlier vector plus small noise (cosine above 0.99), so
  ``dedup_embedding`` has pairs to find.

The ingest stream is a sequence of JSONEachRow files of ``events`` rows
whose event time advances a fixed number of minutes per file, with a stated share of
replayed ``event_id`` values and of out-of-order event times, both kept
well inside the engine's one-hour dedup watermark.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "fr", "es", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

NEAR_DUP_DOC_SHARE = 0.05
EXACT_DUP_DOC_SHARE = 0.002
NEAR_DUP_VEC_SHARE = 0.02
EMBEDDING_DIM = 64

EVENTS_EPOCH = dt.datetime(2024, 1, 1)
_US = np.timedelta64(1, "us")


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent generator per table, so changing one table's size
    # leaves the others' rows unchanged
    return np.random.default_rng([seed, *stream.encode()])


def _days(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    r = _rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(r.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust),
    })
    r = _rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(r.uniform(-999.99, 9999.99, n_supp)),
    })
    r = _rng(seed, "part")
    keys = np.arange(n_part)
    names = np.char.add(
        np.char.add(np.array(PART_ADJ)[r.integers(0, 8, n_part)], " "),
        np.array(PART_NOUN)[r.integers(0, 8, n_part)],
    )
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(names.tolist(), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    r = _rng(seed, "orders")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(r, ("F", "O", "P"), n_ord),
        "o_totalprice": _cents(r.uniform(1000.0, 500_000.0, n_ord)),
        "o_orderdate": _days(r, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord),
    })
    r = _rng(seed, "lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(r.uniform(900.0, 105_000.0, n_line)),
        "l_discount": _cents(r.uniform(0.0, 0.1, n_line)),
        "l_tax": _cents(r.uniform(0.0, 0.08, n_line)),
        "l_returnflag": _pick(r, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(r, ("F", "O"), n_line),
        "l_shipdate": _days(r, n_line, "1995-01-02", "2001-11-04"),
    })
    return out


def events_table(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "events")
    span_us = 30 * 86_400 * 1_000_000
    ts = np.datetime64(EVENTS_EPOCH, "us") + np.sort(r.integers(0, span_us, n)) * _US
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(n // 66, 1), n), pa.int64()),
        "event_type": _pick(r, EVENT_TYPES, n),
        "value": _cents(r.exponential(50.0, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


def documents_table(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "documents")
    vocab = np.array(VOCAB)
    texts: list[str] = []
    kind = r.random(n)
    for i in range(n):
        if i > 0 and kind[i] < NEAR_DUP_DOC_SHARE:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        elif i > 0 and kind[i] < NEAR_DUP_DOC_SHARE + EXACT_DUP_DOC_SHARE:
            texts.append(texts[int(r.integers(0, i))])
        else:
            texts.append(" ".join(vocab[r.integers(0, len(vocab), r.integers(10, 101))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _pick(r, LANGS, n, p=LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "embeddings")
    x = r.standard_normal((n, EMBEDDING_DIM))
    for i in np.flatnonzero(r.random(n) < NEAR_DUP_VEC_SHARE):
        if i > 0:
            x[i] = x[int(r.integers(0, i))] + r.standard_normal(EMBEDDING_DIM) * 0.05
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), pa.int32()),
    })


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# ingest_search event-file stream
# ---------------------------------------------------------------------------

#: JSON schema the stream reads the landing files with
EVENT_SCHEMA = (
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)


#: event time each landing file covers
MINUTES_PER_FILE = 5
#: rows of a file (after the first) that repeat an already-sent event ...
REPLAY_SHARE = 0.05
#: ... first sent in one of the previous REPLAY_WINDOW_FILES files
REPLAY_WINDOW_FILES = 5
#: rows whose event time is pulled back by up to MAX_DISORDER_S seconds,
#: far inside the one-hour watermark
DISORDER_SHARE = 0.10
MAX_DISORDER_S = 120
STREAM_USERS = 500


def event_files(seed: int, files: int, rows_per_file: int) -> list[list[dict]]:
    """Rows of each landing file, in write order.

    File ``i`` covers event minutes ``[i, i + 1) * MINUTES_PER_FILE``.  A
    replayed row is an exact copy of a row first sent in one of the
    previous ``REPLAY_WINDOW_FILES`` files, so the idempotent key drops it;
    a disordered row's event time is moved back by up to
    ``MAX_DISORDER_S`` seconds."""
    r = _rng(seed, "stream")
    base_us = int(EVENTS_EPOCH.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    file_us = MINUTES_PER_FILE * 60_000_000
    sent: list[list[dict]] = []
    originals: list[list[dict]] = []  # first sending of each file's rows
    next_id = 0
    for i in range(files):
        rows: list[dict] = []
        fresh = rows_per_file
        if i > 0:
            fresh -= int(round(rows_per_file * REPLAY_SHARE))
        offs = np.sort(r.integers(0, file_us, fresh))
        back = np.where(
            r.random(fresh) < DISORDER_SHARE,
            r.integers(0, MAX_DISORDER_S * 1_000_000, fresh), 0,
        )
        users = r.integers(0, STREAM_USERS, fresh)
        types = r.integers(0, len(EVENT_TYPES), fresh)
        values = _cents(r.exponential(50.0, fresh))
        ks = r.integers(0, 100, fresh)
        for j in range(fresh):
            us = base_us + i * file_us + int(offs[j]) - int(back[j])
            rows.append({
                "event_id": next_id,
                "ts": _iso_us(us),
                "user_id": int(users[j]),
                "event_type": EVENT_TYPES[types[j]],
                "value": float(values[j]),
                "props": f'{{"k": {int(ks[j])}}}',
            })
            next_id += 1
        pool = [row for f in originals[-REPLAY_WINDOW_FILES:] for row in f]
        originals.append(list(rows))
        for j in r.choice(len(pool), rows_per_file - fresh, replace=False) if pool else ():
            rows.append(pool[int(j)])
        sent.append(rows)
    return sent


def _iso_us(us: int) -> str:
    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)
    return t.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def file_text(rows: list[dict]) -> str:
    return "".join(json.dumps(row, separators=(",", ":")) + "\n" for row in rows)


def write_landing_file(landing: str, tmp_dir: str, index: int, rows: list[dict]) -> str:
    """Write one file under a temporary name, then rename it into the
    landing directory, so the stream never lists a half-written file."""
    name = f"events-{index:05d}.json"
    tmp = os.path.join(tmp_dir, name)
    with open(tmp, "w") as f:
        f.write(file_text(rows))
    final = os.path.join(landing, name)
    os.rename(tmp, final)
    return name
