"""Output checks. Each returns None when the output is right, else a
one-line description of what is wrong.

Catalog entries use the same rule as the repository's oracle gate
(``tests/test_oracle_parity.py``): equal column names, equal row
count, equal pandas dtype kinds and equal values compared as sorted
rows, floats at 9 significant digits.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np


def duck(data_dir: str, names) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v + 0.0:.9g}"
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return repr(v)


def _rows(pdf) -> list[tuple]:
    cols = sorted(pdf.columns)
    return sorted(tuple(_cell(v) for v in r) for r in pdf[cols].itertuples(index=False))


def compare(got, want) -> str | None:
    """Spark result vs DuckDB oracle result (both pandas frames).
    ``want=None`` (no oracle) checks only that rows came back."""
    if want is None:
        return None
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    kinds = {c: (got[c].dtype.kind, want[c].dtype.kind) for c in got.columns}
    diff = {c: k for c, k in kinds.items() if k[0] != k[1]}
    if diff:
        return f"dtype kinds differ (spark, oracle): {diff}"
    for a, b in zip(_rows(got), _rows(want)):
        if a != b:
            return f"first differing row {a} != oracle {b}"
    return None


def plant_wrong(pdf):
    """A copy of a result with one row removed, or one value changed
    when there is a single row: what a wrong answer looks like."""
    if len(pdf) > 1:
        return pdf.iloc[1:].copy()
    out = pdf.copy()
    col = out.columns[0]
    out[col] = out[col].astype(object)
    out.iloc[0, 0] = "planted"
    return out


def sync_result(got: dict, want: dict[str, int]) -> str | None:
    if got.get("status") != "success":
        return f"status {got.get('status')!r}"
    if got.get("error_count") != 0:
        return f"error_count {got.get('error_count')}"
    if got.get("per_supplier") != want:
        return f"products per supplier {got.get('per_supplier')} != expected {want}"
    return None


def status_result(got: dict, want: dict[str, int]) -> str | None:
    if got.get("by_supplier") != want or got.get("total_products") != sum(want.values()):
        return f"status by supplier {got.get('by_supplier')} != expected {want}"
    return None


def lookup_rows(rows, want: dict[str, dict]) -> str | None:
    got = {
        r["product_id"]: {
            "status": r["status"],
            "base_price": r["base_price"],
            "prices": {p["sku"]: p["amount"] for p in r["prices"]},
        }
        for r in rows
    }
    if len(got) != len(rows):
        return f"{len(rows)} rows for {len(got)} distinct product ids"
    if set(got) != set(want):
        return f"looked-up ids {sorted(set(got) ^ set(want))[:5]} missing or unexpected"
    for pid, w in want.items():
        if got[pid] != w:
            return f"{pid}: {got[pid]} != expected {w}"
    return None


def plant_wrong_lookup(want: dict[str, dict]) -> dict[str, dict]:
    pid = sorted(want)[0]
    wrong = dict(want[pid], status="planted")
    return {**want, pid: wrong}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )
