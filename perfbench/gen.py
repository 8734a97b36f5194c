"""Seeded input generation: change-event backlogs for ``sync_bulk`` and
MySQL binlog v4 files for ``binlog_tail``.

Everything here is a pure function of the seed and the base tables, so
the same ``--seed`` always gives the same inputs. The generator also
keeps, next to every event it writes, the typed row it means, so the
checks can compute the expected table contents without reading back
what the program wrote.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import struct
import uuid
import zlib

import pyarrow.parquet as pq

SOURCE = "bench"
SCHEMA = "main"
# Keys unique in the sf0.1 data. lineitem needs all five columns: the
# two-column (l_orderkey, l_linenumber) key has 456,861 distinct values
# in 600,000 rows, and the program's first MERGE collapses the rest.
KEYS = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_shipdate"],
}
FRESH_KEY_BASE = 10_000_000
_SEGMENTS = ("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def fmt_pos(n: int) -> str:
    return str(n).zfill(12)


def _ts(rng: random.Random) -> dt.datetime:
    return dt.datetime(1992, 1, 1) + dt.timedelta(days=rng.randrange(0, 3650))


def _money(rng: random.Random, hi: float) -> float:
    return round(rng.uniform(1.0, hi), 2)


def _row(table: str, key: dict, rng: random.Random) -> dict:
    """A full typed after-image for ``table`` with the given key."""
    if table == "orders":
        return {
            **key,
            "o_custkey": rng.randrange(0, 15_000),
            "o_orderstatus": rng.choice("OFP"),
            "o_totalprice": _money(rng, 400_000.0),
            "o_orderdate": _ts(rng),
            "o_orderpriority": rng.choice(_PRIORITIES),
        }
    if table == "lineitem":
        return {
            **key,
            "l_quantity": float(rng.randrange(1, 51)),
            "l_extendedprice": _money(rng, 100_000.0),
            "l_discount": rng.randrange(0, 11) / 100,
            "l_tax": rng.randrange(0, 9) / 100,
            "l_returnflag": rng.choice("ANR"),
            "l_linestatus": rng.choice("OF"),
        }
    if table == "customer":
        return {
            **key,
            "c_name": f"Customer#{rng.randrange(10**9):09d}",
            "c_nationkey": rng.randrange(0, 25),
            "c_acctbal": _money(rng, 10_000.0),
            "c_mktsegment": rng.choice(_SEGMENTS),
        }
    raise ValueError(table)


def _env_value(v) -> str:
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return str(v)


class ChangeGen:
    """Latest-wins-consistent insert/update/delete streams over base
    tables: updates and deletes only touch live keys, inserts only new
    ones, and a share of the updates go to keys the stream already
    touched, so that latest-wins ordering inside a backlog matters."""

    def __init__(self, sf_dir: str, tables: list[str], seed: int):
        self.rng = random.Random(seed)
        # base key columns, read once; a key tuple is built only for the
        # rows the stream picks
        self.base: dict[str, list] = {}
        for t in tables:
            tab = pq.read_table(os.path.join(sf_dir, f"{t}.parquet"), columns=KEYS[t])
            self.base[t] = [tab.column(c) for c in KEYS[t]]
        self.dead: dict[str, set] = {t: set() for t in tables}
        self.touched: dict[str, list] = {t: [] for t in tables}
        self.live_touched: dict[str, set] = {t: set() for t in tables}
        self.fresh = 0

    def _fresh_key(self, table: str) -> tuple:
        self.fresh += 1
        n = FRESH_KEY_BASE + self.fresh
        if table == "lineitem":
            r = self.rng
            return (n, 1, r.randrange(0, 20_000), r.randrange(0, 1_000), _ts(r))
        return (n,)

    def _base_key(self, table: str) -> tuple:
        cols = self.base[table]
        i = self.rng.randrange(len(cols[0]))
        return tuple(c[i].as_py() for c in cols)

    def _live_key(self, table: str) -> tuple:
        rng = self.rng
        hot = [k for k in self.touched[table][-64:] if k in self.live_touched[table]]
        if hot and rng.random() < 0.3:
            return rng.choice(hot)
        while True:
            k = self._base_key(table)
            if k not in self.dead[table]:
                return k

    def event(self, table: str, pos: int) -> tuple[dict, dict]:
        """One change event and its typed meaning
        ``{"table", "key", "row" (None on delete), "pos"}``."""
        rng = self.rng
        r = rng.random()
        op = "update" if r < 0.55 else "insert" if r < 0.8 else "delete"
        key = self._fresh_key(table) if op == "insert" else self._live_key(table)
        kd = dict(zip(KEYS[table], key))
        if op == "delete":
            self.dead[table].add(key)
            self.live_touched[table].discard(key)
            row = None
            data, before = None, {c: _env_value(v) for c, v in kd.items()}
        else:
            self.live_touched[table].add(key)
            row = _row(table, kd, rng)
            data, before = {c: _env_value(v) for c, v in row.items()}, None
        self.touched[table].append(key)
        ev = {
            "data_source": SOURCE,
            "schema": SCHEMA,
            "table": table,
            "op": op,
            "data": data,
            "before": before,
            "ts": None,
            "pos": fmt_pos(pos),
            "txn_id": None,
        }
        return ev, {"table": table, "key": key, "row": row, "pos": fmt_pos(pos)}

    def batch(self, n: int, start_pos: int, weights: dict[str, float]):
        names = list(weights)
        w = [weights[t] for t in names]
        out = []
        for i in range(n):
            t = self.rng.choices(names, w)[0]
            out.append(self.event(t, start_pos + i))
        return out


def write_segments(events: list[dict], seg_dir: str, n_segments: int, prefix: str) -> None:
    """Split JSON-lines change events into ``n_segments`` changelog
    files, each landed by rename so a reader never sees half a file."""
    per = -(-len(events) // n_segments)
    for s in range(n_segments):
        chunk = events[s * per : (s + 1) * per]
        if not chunk:
            break
        name = f"{prefix}{s:05d}.json"
        tmp = os.path.join(os.path.dirname(seg_dir), f".{name}")
        with open(tmp, "w") as f:
            for e in chunk:
                f.write(json.dumps(e) + "\n")
        os.rename(tmp, os.path.join(seg_dir, name))


# -- binlog v4 files ---------------------------------------------------------

# Type codes and layouts follow the public MySQL binlog v4 format.
_FDE, _XID, _TABLE_MAP, _GTID, _QUERY = 15, 16, 19, 33, 2
_WRITE, _UPDATE, _DELETE = 30, 31, 32
_LONG, _DOUBLE, _LONGLONG, _VARCHAR = 3, 5, 8, 15
_HEADER = 19
GTID_SID = "9d2f4c1e-5b7a-11ee-8c99-0242ac120002"
# customer columns as a MySQL table: (name, type, metadata bytes)
CUSTOMER_COLS = (
    ("c_custkey", _LONGLONG, b""),
    ("c_name", _VARCHAR, (64).to_bytes(2, "little")),
    ("c_nationkey", _LONG, b""),
    ("c_acctbal", _DOUBLE, bytes([8])),
    ("c_mktsegment", _VARCHAR, (64).to_bytes(2, "little")),
)
_TABLE_ID = 77


def _lenenc(n: int) -> bytes:
    if n < 251:
        return bytes([n])
    if n < 1 << 16:
        return b"\xfc" + n.to_bytes(2, "little")
    return b"\xfd" + n.to_bytes(3, "little")


class BinlogFile:
    """One binlog file as a MySQL server writes it: magic, a format
    description event, then GTID-tagged row transactions, each event
    with a CRC32 trailer. ``log_pos`` is the end offset of each event
    within THIS file, so every file's positions start again near 4,
    as they do after a real server rotates its binlog."""

    def __init__(self):
        self.buf = bytearray(b"\xfebin")
        self._emit(
            _FDE,
            (4).to_bytes(2, "little")
            + b"8.0.36-perfbench".ljust(50, b"\0")
            + bytes(4)
            + bytes([_HEADER])
            + bytes(40)
            + b"\x01",
        )

    def _emit(self, type_code: int, body: bytes) -> None:
        size = _HEADER + len(body) + 4
        head = (
            bytes(4)
            + bytes([type_code])
            + (1).to_bytes(4, "little")
            + size.to_bytes(4, "little")
            + (len(self.buf) + size).to_bytes(4, "little")
            + bytes(2)
        )
        ev = head + body
        self.buf += ev + (zlib.crc32(ev) & 0xFFFFFFFF).to_bytes(4, "little")

    def _table_map(self) -> None:
        meta = b"".join(m for _, _, m in CUSTOMER_COLS)
        names = b"".join(_lenenc(len(n)) + n.encode() for n, _, _ in CUSTOMER_COLS)
        n = len(CUSTOMER_COLS)
        body = (
            _TABLE_ID.to_bytes(6, "little")
            + (1).to_bytes(2, "little")
            + bytes([len(SCHEMA)]) + SCHEMA.encode() + b"\0"
            + bytes([len("customer")]) + b"customer\0"
            + _lenenc(n)
            + bytes(t for _, t, _ in CUSTOMER_COLS)
            + _lenenc(len(meta)) + meta
            + b"\xff" * ((n + 7) // 8)
            # optional metadata: signedness (all signed), column names
            + b"\x01" + _lenenc(1) + b"\x00"
            + b"\x04" + _lenenc(len(names)) + names
        )
        self._emit(_TABLE_MAP, body)

    @staticmethod
    def _image(row: dict) -> bytes:
        out = bytearray(b"\x00")  # null bitmap: no NULLs
        for name, t, _ in CUSTOMER_COLS:
            v = row[name]
            if t == _LONGLONG:
                out += struct.pack("<q", v)
            elif t == _LONG:
                out += struct.pack("<i", v)
            elif t == _DOUBLE:
                out += struct.pack("<d", v)
            else:
                b = v.encode()
                out += bytes([len(b)]) + b
        return bytes(out)

    def txn(self, gno: int, op: str, rows: list) -> None:
        """One transaction: GTID, BEGIN, table map, one rows event
        (``rows`` holds images, or (before, after) pairs for updates),
        XID commit."""
        self._emit(_GTID, b"\x01" + uuid.UUID(GTID_SID).bytes + gno.to_bytes(8, "little"))
        self._emit(_QUERY, bytes(8) + bytes([len(SCHEMA)]) + bytes(4) + SCHEMA.encode() + b"\0BEGIN")
        self._table_map()
        code = {"insert": _WRITE, "update": _UPDATE, "delete": _DELETE}[op]
        n = len(CUSTOMER_COLS)
        bitmaps = b"\xff" * ((n + 7) // 8) * (2 if op == "update" else 1)
        if op == "update":
            payload = b"".join(self._image(b) + self._image(a) for b, a in rows)
        else:
            payload = b"".join(self._image(r) for r in rows)
        self._emit(
            code,
            _TABLE_ID.to_bytes(6, "little") + (1).to_bytes(2, "little")
            + (2).to_bytes(2, "little") + _lenenc(n) + bitmaps + payload,
        )
        self._emit(_XID, gno.to_bytes(8, "little"))

    def write(self, path: str) -> int:
        tmp = os.path.join(os.path.dirname(os.path.dirname(path)), "." + os.path.basename(path))
        with open(tmp, "wb") as f:
            f.write(self.buf)
        os.rename(tmp, path)
        return len(self.buf)


class BinlogGen:
    """Row transactions against ``main.customer`` for the binlog tail.

    Each key is written by one binlog file only, apart from the probe
    key: the program orders binlog events by the per-file ``log_pos``,
    which restarts in every file, so a key written again in a later
    file would keep its earlier image on some seeds and not on others.
    The probe key (``c_custkey = 0``, the same on every seed) is written
    last in the catch-up file and first in every later file, so the
    ordering fault shows once per later file, on every seed.
    """

    PROBE_KEY = 0

    def __init__(self, sf_dir: str, seed: int):
        self.rng = random.Random(seed)
        tab = pq.read_table(os.path.join(sf_dir, "customer.parquet"))
        self.base = {r["c_custkey"]: r for r in tab.to_pylist()}
        self.free_base = sorted(k for k in self.base if k != self.PROBE_KEY)
        self.rng.shuffle(self.free_base)
        self.gno = 0
        self.fresh = 0
        self.gtids: list[int] = []
        self.probe_writes = 0

    def _new_row(self, key: int) -> dict:
        return _row("customer", {"c_custkey": key}, self.rng)

    def _probe_row(self) -> dict:
        self.probe_writes += 1
        return {
            "c_custkey": self.PROBE_KEY,
            "c_name": f"Probe#{self.probe_writes:09d}",
            "c_nationkey": 0,
            "c_acctbal": float(self.probe_writes),
            "c_mktsegment": "BUILDING",
        }

    def _probe_txn(self, f: BinlogFile, meanings: list) -> None:
        before = self.base[self.PROBE_KEY] if self.probe_writes == 0 else self._last_probe
        after = self._probe_row()
        self._last_probe = after
        self.gno += 1
        f.txn(self.gno, "update", [(before, after)])
        self.gtids.append(self.gno)
        meanings.append({"key": (self.PROBE_KEY,), "row": after})

    def _txn_keys(self, k: int, live: list) -> list:
        """``k`` distinct live keys: a quarter from base rows no file has
        touched yet, the rest from keys this file already wrote (so
        ordering inside a file matters)."""
        keys: list = []
        while len(keys) < k:
            if live and self.rng.random() < 0.75:
                key = self.rng.choice(live)
                if key in keys:
                    continue
            else:
                key = self.free_base.pop()
            keys.append(key)
        return keys

    def file(self, n_rows: int, rows_per_txn: int, probe_first: bool) -> tuple[BinlogFile, list]:
        """A binlog file of about ``n_rows`` row changes: 45% inserts of
        new keys, 40% updates and 15% deletes. Returns the file and the
        typed meaning of each change, in file order."""
        f = BinlogFile()
        meanings: list = []
        if probe_first:
            self._probe_txn(f, meanings)
        live: list = []
        current: dict = {}
        done = 0
        while done < n_rows:
            k = min(rows_per_txn, n_rows - done)
            r = self.rng.random()
            op = "update" if r < 0.4 else "delete" if r < 0.55 else "insert"
            if op == "insert":
                keys = []
                for _ in range(k):
                    self.fresh += 1
                    keys.append(FRESH_KEY_BASE + self.fresh)
                after = [self._new_row(key) for key in keys]
                payload = after
            else:
                keys = self._txn_keys(k, live)
                befores = [current.get(key) or self.base[key] for key in keys]
                if op == "delete":
                    after = [None] * k
                    payload = befores
                else:
                    after = [self._new_row(key) for key in keys]
                    payload = list(zip(befores, after))
            self.gno += 1
            f.txn(self.gno, op, payload)
            self.gtids.append(self.gno)
            for key, a in zip(keys, after):
                meanings.append({"key": (key,), "row": a})
                if a is None:
                    current.pop(key, None)
                    if key in live:
                        live.remove(key)
                else:
                    if key not in current:
                        live.append(key)
                    current[key] = a
            done += k
        if not probe_first:
            self._probe_txn(f, meanings)
        return f, meanings
