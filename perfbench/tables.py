"""Seeded generator for the analyst tables the query catalog reads.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one parquet file each, with the column names,
parquet types, value domains and foreign-key fan-outs of the TPC-H-ish
star schema the catalog and its DuckDB oracles are written against:

- row counts scale with ``sf`` (lineitem ~600k rows at sf 0.1);
- 1..7 lineitems per order (mean 4), shipdate 1..95 days after the order;
- documents draw 10..100 words from a 30-word vocabulary, and 5% of them
  are near-copies of an earlier non-copy document (one token dropped,
  ``dup`` appended), so the near-duplicate entries have real work to do;
- embeddings are 64-d float vectors, uniform in +-1/sqrt(3).

Every value comes from ``numpy.random.default_rng(seed)``: the same seed
gives byte-identical tables, a different seed gives different values of
the same shape.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
ETYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "en", "de", "es", "fr", "zh")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()
EMB_DIM = 64
EMB_HALF_WIDTH = 0.5774
_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def row_counts(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(500 * sf / 0.01)),
        "embeddings": max(500, int(500 * (sf / 0.01) ** 0.6)),
    }


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _documents(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    words: list[list[str]] = []
    for i in range(n):
        if i >= 20 and i % 20 == 11:
            base = int(rng.integers(0, i))
            while base % 20 == 11 and base >= 20:
                base = int(rng.integers(0, i))
            copy = list(words[base])
            del copy[int(rng.integers(0, len(copy)))]
            words.append(copy + ["dup"])
        else:
            words.append([VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))])
    text = [" ".join(w) for w in words]
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(text, pa.string()),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    }


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n = row_counts(sf)
    os.makedirs(out_dir, exist_ok=True)
    i32, i64 = np.int32, np.int64

    cols: dict[str, dict[str, pa.Array]] = {}
    cols["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=i32)),
        "r_name": pa.array(REGIONS, pa.string()),
    }
    cols["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=i32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
    }
    nc = n["customer"]
    cols["customer"] = {
        "c_custkey": pa.array(np.arange(nc, dtype=i64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(i32)),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    }
    ns = n["supplier"]
    cols["supplier"] = {
        "s_suppkey": pa.array(np.arange(ns, dtype=i64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(i32)),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, ns)),
    }
    npart = n["part"]
    adj = np.asarray(ADJ, dtype=object)[rng.integers(0, len(ADJ), npart)]
    noun = np.asarray(NOUN, dtype=object)[rng.integers(0, len(NOUN), npart)]
    cols["part"] = {
        "p_partkey": pa.array(np.arange(npart, dtype=i64)),
        "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()),
        "p_type": _pick(rng, PTYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(i32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)),
    }
    no = n["orders"]
    odate = _EPOCH_1995 + rng.integers(0, 2400, no) * _DAY_US
    cols["orders"] = {
        "o_orderkey": pa.array(np.arange(no, dtype=i64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(i64)),
        "o_orderstatus": _pick(rng, ("O", "P", "F"), no),
        "o_totalprice": pa.array(_cents(rng, 1000.0, 499_991.28, no)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    }
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no, dtype=i64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    cols["lineitem"] = {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(i64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(i64)),
        "l_linenumber": pa.array((np.arange(nl) - starts + 1).astype(i32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, 900.0, 104_999.22, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
        "l_linestatus": _pick(rng, ("O", "F"), nl),
        "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 96, nl) * _DAY_US),
    }
    ne = n["events"]
    cols["events"] = {
        "event_id": pa.array(np.arange(ne, dtype=i64)),
        "ts": _ts(np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, ne))),
        "user_id": pa.array(rng.integers(0, max(1, nc // 10), ne).astype(i64)),
        "event_type": _pick(rng, ETYPES, ne),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
    }
    cols["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vecs = rng.uniform(-EMB_HALF_WIDTH, EMB_HALF_WIDTH, (nv, EMB_DIM)).astype(np.float32)
    cols["embeddings"] = {
        "vec_id": pa.array(np.arange(nv, dtype=i64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, nv * EMB_DIM + 1, EMB_DIM, dtype=i32)), pa.array(vecs.ravel())
        ),
        "label": pa.array(rng.integers(0, 10, nv).astype(i32)),
    }

    rows = {}
    for name in TABLES:
        table = pa.table(cols[name])
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
