"""Correctness gate: compare a Spark result with its DuckDB oracle.

Uses the canonicalization of the repository's parity checker
(``tools/check.py``): same row count, same column names in the same order,
and the same rows compared order-insensitively and bit-exactly (doubles by
their IEEE-754 bytes).
"""

from __future__ import annotations

import importlib.util
import os

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_check():
    spec = importlib.util.spec_from_file_location(
        "parity_check", os.path.join(_ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


canon_rows = _load_check().canon_rows


def mismatch(scols: list[str], srows: list[tuple], dcols: list[str],
             drows: list[tuple]) -> str | None:
    """None when the results agree, else the first reason they do not."""
    if len(srows) != len(drows):
        return f"rowcount spark={len(srows)} duckdb={len(drows)}"
    if list(scols) != list(dcols):
        return f"columns spark={list(scols)} duckdb={list(dcols)}"
    cs, cd = canon_rows(scols, srows), canon_rows(dcols, drows)
    diff = [(a, b) for a, b in zip(cs, cd) if a != b]
    if diff:
        return f"values differ in {len(diff)} rows, first spark={diff[0][0][:200]} duckdb={diff[0][1][:200]}"
    return None


def connect(sf_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def fetch(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()
