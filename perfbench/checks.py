"""Checks made apart from the program: DuckDB over the base parquet and
the generator's typed events, DuckDB ``ORACLE`` SQL digests, and the
generator's own GTID list.

Every check returns a list of failure messages (empty = passed) and
never raises on a mismatch, so a wrong answer is counted as a failed
operation and the run goes on.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd


def sf_dir() -> str:
    """The sf0.1 corpus: ``$SPARK_GRAFT_SF_DIR``, else the sibling of the
    driver contract's smoke corpus (see TESTDATA.md)."""
    if "SPARK_GRAFT_SF_DIR" in os.environ:
        return os.environ["SPARK_GRAFT_SF_DIR"]
    import __spark_entry__

    return os.path.join(os.path.dirname(__spark_entry__.SMOKE_SF_DIR), "sf0.1")


DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_digests.json")
ORACLE_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


# -- table contents: count + order-insensitive value hash ------------------


def table_digest(pdf: pd.DataFrame) -> tuple[int, int]:
    """(rows, hash) of a frame, insensitive to row and column order:
    each row is hashed over normalised columns (integers as int64,
    timestamps as int64 nanoseconds, floats as float64, strings by
    value) and the row hashes are summed modulo 2**64."""
    norm = {}
    for c in sorted(pdf.columns):
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[ns]").astype("int64")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
        else:
            s = s.astype(object)
        norm[c] = s.reset_index(drop=True)
    rows = pd.util.hash_pandas_object(pd.DataFrame(norm), index=False)
    with np.errstate(over="ignore"):
        h = int(rows.to_numpy(dtype=np.uint64).sum(dtype=np.uint64))
    return len(pdf), h


def expected_table(sf_dir: str, table: str, keys: list[str], changes: list[dict]) -> pd.DataFrame:
    """The contents ``table`` must have after ``changes`` (each
    ``{"key": tuple, "row": dict | None, "pos": str}``): per key the
    change with the highest position wins, and a ``None`` row (delete)
    removes the key. Computed in DuckDB from the base parquet."""
    con = duckdb.connect()
    try:
        base = f"read_parquet('{sf_dir}/{table}.parquet')"
        types = con.execute(f"DESCRIBE SELECT * FROM {base}").fetchall()
        cols = [c for c, *_ in types]
        recs = []
        for i, ch in enumerate(changes):
            rec = dict(zip(keys, ch["key"]))
            row = ch["row"] or {}
            rec.update({c: row.get(c) for c in cols if c not in keys})
            rec["__pos"] = ch.get("pos") or f"{i:012d}"
            rec["__deleted"] = ch["row"] is None
            recs.append(rec)
        ev = pd.DataFrame.from_records(recs, columns=cols + ["__pos", "__deleted"])
        con.register("ev_raw", ev)
        typed = ", ".join(f'CAST("{c}" AS {t}) AS "{c}"' for c, t, *_ in types)
        on = " AND ".join(f'e."{k}" = b."{k}"' for k in keys)
        part = ", ".join(f'"{k}"' for k in keys)
        sel = ", ".join(f'"{c}"' for c in cols)
        bsel = ", ".join(f'b."{c}"' for c in cols)
        sql = f"""
            WITH ev AS (SELECT {typed}, __pos, __deleted FROM ev_raw),
            last AS (SELECT * FROM ev QUALIFY row_number() OVER (
                PARTITION BY {part} ORDER BY __pos DESC) = 1)
            SELECT {bsel} FROM {base} b
            WHERE NOT EXISTS (SELECT 1 FROM last e WHERE {on})
            UNION ALL
            SELECT {sel} FROM last WHERE NOT __deleted
        """
        out = con.execute(sql).fetch_df()
    finally:
        con.close()
    return out


def drop_keys(pdf: pd.DataFrame, keys: list[str], exclude: set) -> pd.DataFrame:
    mask = pd.Series(True, index=pdf.index)
    for key in exclude:
        hit = pd.Series(True, index=pdf.index)
        for c, v in zip(keys, key):
            hit &= pdf[c] == v
        mask &= ~hit
    return pdf[mask]


def compare_tables(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"]
    g, w = table_digest(got), table_digest(want)
    if g != w:
        return [f"{name}: (rows, hash) {g} != expected {w}"]
    return []


# -- GTID watermark ------------------------------------------------------------


def check_gtid(watermark_json: str | None, sid: str, gnos: list[int]) -> list[str]:
    """The stored watermark must cover exactly the transactions the
    generator wrote: the same server id and the same gno intervals."""
    want: list[list[int]] = []
    for g in sorted(gnos):
        if want and want[-1][1] + 1 == g:
            want[-1][1] = g
        else:
            want.append([g, g])
    if watermark_json is None:
        return ["gtid watermark missing"]
    got = {
        u: [[int(r["start"]), int(r["end"])] for r in rs]
        for u, rs in json.loads(watermark_json).items()
    }
    if got != {sid: want}:
        return [f"gtid watermark {got} != generated {{{sid!r}: {want}}}"]
    return []


# -- restart: nothing applied twice -------------------------------------------


def check_rows_read(name: str, input_rows: int, written: int) -> list[str]:
    """A drain must read exactly the row events written since the last
    one: after a restart, re-reading a segment the stream had already
    committed would apply those events twice (invisible in the contents,
    since latest-wins makes a repeat idempotent, but visible in the rows
    read). The streaming progress counts rows after the scan's pushed-down
    filters, so binlog commit markers are not among them."""
    if input_rows != written:
        return [f"{name}: the stream read {input_rows} rows, {written} were written"]
    return []


# -- query results vs DuckDB ORACLE SQL ------------------------------------------


def _canon_cell(v):
    """Canonical cell, the same equivalences the repo's oracle harness
    allows: NA forms unify, DATE equals midnight TIMESTAMP, integers and
    floats stay distinct."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (list, tuple, dict, set, np.ndarray)):
        return ("complex", str(v))
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (float, np.floating)):
        return ("f", repr(float(v)))
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, pd.Timestamp):
        return ("t", v.to_pydatetime().replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("t", datetime.datetime(v.year, v.month, v.day).isoformat())
    if isinstance(v, bytes):
        return ("bytes", v.hex())
    return ("s", str(v))


def result_digest(pdf: pd.DataFrame) -> dict:
    cols = sorted(pdf.columns)
    rows = sorted(
        (tuple(_canon_cell(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)),
        key=lambda t: tuple(str(x) for x in t),
    )
    h = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()
    return {"columns": cols, "rows": len(rows), "sha256": h}


def oracle_frame(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for t in ORACLE_TABLES:
            if os.path.exists(f"{sf_dir}/{t}.parquet"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return con.execute(sql).fetch_df()
    finally:
        con.close()


def load_digests() -> dict:
    with open(DIGESTS) as f:
        return json.load(f)


def check_query(name: str, pdf: pd.DataFrame, want: dict) -> list[str]:
    got = result_digest(pdf)
    if got != want:
        return [f"{name}: result {got['rows']} rows {got['sha256'][:12]} != oracle {want['rows']} rows {want['sha256'][:12]}"]
    return []
