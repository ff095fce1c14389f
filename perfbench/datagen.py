"""Seeded input generators.

Two kinds of input, both a pure function of ``(seed, size)``:

* ``write_star_schema`` writes the ten parquet tables the registered queries
  read (``region`` … ``embeddings``), with the column names, types and value
  distributions of the engine's star-schema test data.
* ``write_customer_csv`` writes the all-string customer extract the masking
  pipeline reads: a header plus ``rows`` lines split over several part files.

Everything is drawn from one ``numpy.random.Generator`` per call, so the same
seed always gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def star_schema_sizes(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (lineitem = 6M x sf)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _days(rng, start: np.datetime64, max_day: int, n: int) -> np.ndarray:
    return start + rng.integers(0, max_day, n) * np.timedelta64(1, "D")


def _documents(rng, n: int) -> pa.Table:
    """Random 10-99 word texts over a 30-word vocabulary; 5% of documents
    are near-duplicates (another document's text plus one extra word)."""
    lengths = rng.integers(10, 100, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    dups = rng.choice(n, n // 20, replace=False)
    for i in dups:
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    """Unit vectors around ten labelled centres."""
    centres = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n)
    vecs = centres[labels] * 0.15 + rng.normal(0.0, 1.0, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def star_schema_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n = star_schema_sizes(sf)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    ts = lambda a: pa.array(a, pa.timestamp("us"))  # noqa: E731
    nc, ns, np_, no, nl, ne = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"], n["events"],
    )
    tables = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": i32([i % 5 for i in range(25)]),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(np.arange(nc)),
                "c_name": pa.array(_keyed_names("Customer", nc)),
                "c_nationkey": i32(rng.integers(0, 25, nc)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
                "c_mktsegment": pa.array(_pick(rng, SEGMENTS, nc), pa.string()),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(np.arange(ns)),
                "s_name": pa.array(_keyed_names("Supplier", ns)),
                "s_nationkey": i32(rng.integers(0, 25, ns)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(np.arange(np_)),
                "p_name": pa.array(
                    [f"{a} {b}" for a, b in zip(_pick(rng, PART_ADJ, np_), _pick(rng, PART_NOUN, np_))]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
                "p_type": pa.array(_pick(rng, PART_TYPES, np_), pa.string()),
                "p_size": i32(rng.integers(1, 51, np_)),
                "p_retailprice": pa.array(np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(np.arange(no)),
                "o_custkey": i64(rng.integers(0, nc, no)),
                "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], no), pa.string()),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
                "o_orderdate": ts(_days(rng, _EPOCH_1995, 2400, no)),
                "o_orderpriority": pa.array(_pick(rng, PRIORITIES, no), pa.string()),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(rng.integers(0, no, nl)),
                "l_partkey": i64(rng.integers(0, np_, nl)),
                "l_suppkey": i64(rng.integers(0, ns, nl)),
                "l_linenumber": i32(rng.integers(1, 8, nl)),
                "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, nl)),
                "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
                "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], nl), pa.string()),
                "l_linestatus": pa.array(_pick(rng, ["F", "O"], nl), pa.string()),
                "l_shipdate": ts(_days(rng, _EPOCH_1995 + np.timedelta64(1, "D"), 2500, nl)),
            }
        ),
        "events": pa.table(
            {
                "event_id": i64(np.arange(ne)),
                "ts": ts(
                    _EPOCH_2024
                    + np.cumsum(rng.exponential(30 * _DAY_US / ne, ne)).astype(np.int64)
                    * np.timedelta64(1, "us")
                ),
                "user_id": i64(rng.integers(0, max(1, ne * 15 // 1000), ne)),
                "event_type": pa.array(_pick(rng, EVENT_TYPES, ne), pa.string()),
                "value": pa.array(np.round(rng.exponential(50.0, ne), 2) + 0.01),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
            }
        ),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    return tables


def write_star_schema(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in star_schema_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# --- masking pipeline input -------------------------------------------------

CSV_COLUMNS = ["custkey", "name", "phone", "signup_date", "last_login", "acctbal", "segment"]
DATE_DISTINCT = 2500
ACCTBAL_EMPTY_SHARE = 0.02


def customer_csv_columns(seed: int, rows: int) -> dict[str, np.ndarray]:
    """The CSV's columns as string arrays (``''`` marks an empty field).

    * ``custkey``: unique per row;
    * ``name``: space-padded, so typing's ``trim`` has work;
    * ``phone``: ``NN-NNN-NNN-NNNN``;
    * ``signup_date``: ``yyyy-MM-dd`` over 2,500 distinct days;
    * ``last_login``: ``yyyy-MM-dd HH:mm:ss``, near-unique;
    * ``acctbal``: 2-decimal amounts, about 2% empty;
    * ``segment``: 5 distinct values.
    """
    rng = np.random.default_rng([seed, 2])
    keys = rng.permutation(rows) + 1
    pad_l = rng.integers(0, 3, rows)
    pad_r = rng.integers(0, 3, rows)
    names = np.array(
        [" " * a + f"Customer#{k:09d}" + " " * b for k, a, b in zip(keys, pad_l, pad_r)],
        dtype=object,
    )
    phone_parts = [rng.integers(10, 35, rows)] + [
        rng.integers(100, 1000, rows) for _ in range(2)
    ] + [rng.integers(1000, 10000, rows)]
    phones = np.array(["-".join(map(str, p)) for p in zip(*phone_parts)], dtype=object)
    days = _days(rng, _EPOCH_1995, DATE_DISTINCT, rows).astype("datetime64[D]")
    logins = (
        np.datetime64("2020-01-01T00:00:00", "s")
        + rng.integers(0, 4 * 365 * 86_400, rows) * np.timedelta64(1, "s")
    )
    bal = np.array([f"{v:.2f}" for v in _money(rng, -999.99, 9999.99, rows)], dtype=object)
    bal[rng.random(rows) < ACCTBAL_EMPTY_SHARE] = ""
    return {
        "custkey": keys.astype(str).astype(object),
        "name": names,
        "phone": phones,
        "signup_date": days.astype(str).astype(object),
        "last_login": np.char.replace(logins.astype(str), "T", " ").astype(object),
        "acctbal": bal,
        "segment": _pick(rng, SEGMENTS, rows),
    }


def write_customer_csv(out_dir: str, seed: int, rows: int, parts: int) -> dict:
    """Write the CSV as ``parts`` files under ``out_dir``; returns a summary
    (row count, empty-``acctbal`` count and per-column distinct counts)."""
    os.makedirs(out_dir, exist_ok=True)
    cols = customer_csv_columns(seed, rows)
    # empty balances are written quoted, so the reader keeps them as '' and
    # typing's nullableValues turns them into NULL
    quoted = dict(cols, acctbal=np.where(cols["acctbal"] == "", '""', cols["acctbal"]))
    lines = [",".join(r) for r in zip(*(quoted[c] for c in CSV_COLUMNS))]
    header = ",".join(CSV_COLUMNS)
    bounds = np.linspace(0, rows, parts + 1).astype(int)
    for p in range(parts):
        with open(os.path.join(out_dir, f"part-{p:03d}.csv"), "w") as f:
            f.write(header + "\n")
            f.write("\n".join(lines[bounds[p]: bounds[p + 1]]) + "\n")
    return {
        "rows": rows,
        "acctbal_empty": int((cols["acctbal"] == "").sum()),
        "distinct": {c: len(set(cols[c])) for c in CSV_COLUMNS},
    }
