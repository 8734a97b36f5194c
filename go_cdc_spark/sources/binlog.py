"""MySQL binlog WIRE-FORMAT decoder: raw binary event bytes → the
engine's change-event envelope.

The reference's capture identity is consuming replication-protocol
events (`internal/cannal/incremental.go:180-231` demuxes GTID / Query /
Rows events off a ``BinlogSyncer`` stream; `internal/cannal/
handler.go:84-117` pairs update before/after images from ROWS_EVENT
payloads and maps column values by the TABLE_MAP's column names). The
socket itself cannot be opened in this environment, but the BYTES it
carries are a fully public format (the MySQL source's
``libbinlogevents`` layout, documented in the MySQL Internals manual) —
so this module implements the missing half for real: a pure-Python
decoder for binlog v4 event bytes (file or stream), feeding the SAME
envelope pipeline the JSON-replay and polling paths feed. A user with
real binlog files (``mysqlbinlog`` output directories, S3 binlog
archives, or a relay log) runs them through ``binlog_to_changelog`` and
the existing drain applies them — no new downstream code.

Decoded surface (event type → engine action; type codes are the public
``Log_event_type`` constants):

- FORMAT_DESCRIPTION (15) — binlog version + per-type post-header
  lengths + the checksum algorithm byte; governs how every later event
  parses. CRC32 checksums are VERIFIED (corruption fails loudly; a
  silently mis-parsed row image is a wrong-data bug downstream).
- ROTATE (4) / STOP (3) / PREVIOUS_GTIDS (35) / HEARTBEAT (27) /
  ANONYMOUS_GTID (34) — consumed, no envelope output.
- GTID (33) — sets the current transaction identity ``uuid:gno``
  (A21's watermark axis; `incremental.go:195-208`).
- QUERY (2) — classified by statement prefix exactly like the
  reference's demux (CREATE/ALTER/DROP/RENAME/TRUNCATE →
  ``op='ddl'``, `incremental.go:210-223`); BEGIN and other
  statements produce nothing.
- XID (16) — transaction commit → ``op='commit'`` (the read-committed
  gate's release signal, `handler.go:77-82`).
- TABLE_MAP (19) — table identity + column types/metadata; column
  NAMES come from the 8.0 optional-metadata TLVs when the server
  logged ``binlog_row_metadata=FULL``, else from a caller-provided
  registry (5.x binlogs carry no names — the same reason the
  reference reads ``e.Table.ColumnName``, which go-mysql fills from
  optional metadata or a schema fetch).
- WRITE/UPDATE/DELETE_ROWS v1 (23/24/25) and v2 (30/31/32) — row
  images decoded per column type; UPDATE pairs (before, after) into
  ONE envelope event (`handler.go:100-108` — the reference iterates
  rows two at a time; here the pairing is the same walk over the
  decoded image list).

``pos`` is MySQL's own (file, offset) coordinate: the binlog file's
sequence number (the numeric name extension, ``binlog.000002`` → 2,
zero-padded to the extension's six digits) followed by the event's
end-of-event position (``log_pos``, zero-padded to ``POS_WIDTH``), so
lexicographic order == (file, byte) order. ``log_pos`` alone restarts
in every file, so it cannot order an event in ``binlog.000002`` after
one in ``binlog.000001``.

Scale shape: decoding is a sequential byte-walk on the driver — the
same shape as the reference's single replication socket (a binlog is
an inherently ordered stream; you cannot seek into the middle of a
row event). Throughput is bounded by one core, which is the CAPTURE
bound, not the APPLY bound: the emitted segments fan out through the
distributed drain like every other changelog source. For bulk backfill
of MANY binlog files, decode files in parallel processes (file
boundaries are independent given each file's own FDE) and let segment
names keep per-file ordering.
"""

from __future__ import annotations

import base64
import json
import os
import struct
import uuid as _uuid
import zlib
from dataclasses import dataclass, field

from .changelog import POS_WIDTH

BINLOG_MAGIC = b"\xfebin"

# public Log_event_type constants
QUERY_EVENT = 2
STOP_EVENT = 3
ROTATE_EVENT = 4
FORMAT_DESCRIPTION_EVENT = 15
XID_EVENT = 16
TABLE_MAP_EVENT = 19
WRITE_ROWS_EVENT_V1 = 23
UPDATE_ROWS_EVENT_V1 = 24
DELETE_ROWS_EVENT_V1 = 25
HEARTBEAT_EVENT = 27
WRITE_ROWS_EVENT = 30
UPDATE_ROWS_EVENT = 31
DELETE_ROWS_EVENT = 32
GTID_EVENT = 33
ANONYMOUS_GTID_EVENT = 34
PREVIOUS_GTIDS_EVENT = 35

_ROWS_WRITE = (WRITE_ROWS_EVENT, WRITE_ROWS_EVENT_V1)
_ROWS_UPDATE = (UPDATE_ROWS_EVENT, UPDATE_ROWS_EVENT_V1)
_ROWS_DELETE = (DELETE_ROWS_EVENT, DELETE_ROWS_EVENT_V1)
_ROWS_V2 = (WRITE_ROWS_EVENT, UPDATE_ROWS_EVENT, DELETE_ROWS_EVENT)
ROWS_EVENTS = _ROWS_WRITE + _ROWS_UPDATE + _ROWS_DELETE

# public enum_field_types constants
MYSQL_TYPE_TINY = 1
MYSQL_TYPE_SHORT = 2
MYSQL_TYPE_LONG = 3
MYSQL_TYPE_FLOAT = 4
MYSQL_TYPE_DOUBLE = 5
MYSQL_TYPE_NULL = 6
MYSQL_TYPE_TIMESTAMP = 7
MYSQL_TYPE_LONGLONG = 8
MYSQL_TYPE_INT24 = 9
MYSQL_TYPE_DATE = 10
MYSQL_TYPE_YEAR = 13
MYSQL_TYPE_VARCHAR = 15
MYSQL_TYPE_TIMESTAMP2 = 17
MYSQL_TYPE_DATETIME2 = 18
MYSQL_TYPE_TIME2 = 19
MYSQL_TYPE_NEWDECIMAL = 246
MYSQL_TYPE_BLOB = 252
MYSQL_TYPE_VAR_STRING = 253
MYSQL_TYPE_STRING = 254

COMMON_HEADER_LEN = 19

# DDL statement prefixes the reference forwards (`incremental.go:213-217`)
DDL_PREFIXES = ("CREATE", "ALTER", "DROP", "RENAME", "TRUNCATE")

# optional-metadata TLV type codes (TABLE_MAP, binlog_row_metadata)
_OPTMETA_SIGNEDNESS = 1
_OPTMETA_COLUMN_NAME = 4
_OPTMETA_SIMPLE_PRIMARY_KEY = 8


class BinlogFormatError(ValueError):
    """Malformed / unsupported binlog bytes — always raised loudly;
    a mis-parsed row image is silent data corruption downstream."""


# --------------------------------------------------------------------------
# primitive readers
# --------------------------------------------------------------------------


def _uint(data: bytes, off: int, n: int) -> int:
    return int.from_bytes(data[off : off + n], "little")


def _uint_be(data: bytes, off: int, n: int) -> int:
    return int.from_bytes(data[off : off + n], "big")


def _lenenc(data: bytes, off: int) -> tuple[int, int]:
    """Length-encoded integer (the client/server protocol form the
    binlog reuses): <0xfb = 1 byte; 0xfc = 2-byte; 0xfd = 3-byte;
    0xfe = 8-byte."""
    first = data[off]
    if first < 0xFB:
        return first, off + 1
    if first == 0xFC:
        return _uint(data, off + 1, 2), off + 3
    if first == 0xFD:
        return _uint(data, off + 1, 3), off + 4
    if first == 0xFE:
        return _uint(data, off + 1, 8), off + 9
    raise BinlogFormatError(f"invalid length-encoded int prefix 0x{first:02x}")


def _bit(bitmap: bytes, i: int) -> bool:
    """Bit ``i`` of a little-endian-bytes bitmap (bit 0 = LSB of byte 0
    — the null/columns-present bitmap convention)."""
    return bool(bitmap[i // 8] & (1 << (i % 8)))


_DEC_DIG_BYTES = [0, 1, 1, 2, 2, 3, 3, 4, 4, 4]


def decimal_byte_len(precision: int, scale: int) -> int:
    intg = precision - scale
    return (
        (intg // 9) * 4
        + _DEC_DIG_BYTES[intg % 9]
        + (scale // 9) * 4
        + _DEC_DIG_BYTES[scale % 9]
    )


def decode_newdecimal(data: bytes, off: int, precision: int, scale: int) -> tuple[str, int]:
    """MYSQL_TYPE_NEWDECIMAL storage: digits packed in big-endian
    groups of 9 (4 bytes each, partial leading/trailing groups sized by
    the public digits→bytes table), sign carried as the first byte's
    top bit (set = non-negative), negative values stored bitwise-NOT."""
    n = decimal_byte_len(precision, scale)
    raw = bytearray(data[off : off + n])
    if len(raw) < n:
        raise BinlogFormatError("truncated NEWDECIMAL value")
    positive = bool(raw[0] & 0x80)
    raw[0] ^= 0x80
    if not positive:
        raw = bytearray(b ^ 0xFF for b in raw)
    intg = precision - scale
    pos = 0

    def take(digits: int) -> str:
        nonlocal pos
        nb = _DEC_DIG_BYTES[digits]
        if nb == 0:
            return ""
        v = int.from_bytes(raw[pos : pos + nb], "big")
        pos += nb
        return str(v).zfill(digits)

    int_str = take(intg % 9)
    for _ in range(intg // 9):
        int_str += take(9)
    frac_str = ""
    for _ in range(scale // 9):
        frac_str += take(9)
    frac_str += take(scale % 9)
    int_str = int_str.lstrip("0") or "0"
    out = int_str if not frac_str else f"{int_str}.{frac_str}"
    if not positive and (int_str != "0" or frac_str.strip("0")):
        out = "-" + out
    return out, off + n


def _frac_micros(data: bytes, off: int, fsp: int) -> tuple[int, int]:
    """Fractional-seconds part of the *2 temporal types: ceil(fsp/2)
    big-endian bytes holding the fsp-digit fraction."""
    nb = (fsp + 1) // 2
    if nb == 0:
        return 0, off
    frac = _uint_be(data, off, nb)
    return frac * 10 ** (6 - fsp), off + nb


def _fmt_dt(y, mo, d, h, mi, s, micros) -> str:
    base = f"{y:04d}-{mo:02d}-{d:02d} {h:02d}:{mi:02d}:{s:02d}"
    return f"{base}.{micros:06d}" if micros else base


# --------------------------------------------------------------------------
# parsed-event containers
# --------------------------------------------------------------------------


@dataclass
class EventHeader:
    timestamp: int
    type_code: int
    server_id: int
    event_size: int
    log_pos: int
    flags: int


@dataclass
class TableMap:
    table_id: int
    schema: str
    table: str
    col_types: list[int]
    col_meta: list
    col_names: list[str] | None = None
    pk_indexes: list[int] | None = None
    signed: list[bool] | None = None  # per NUMERIC column, in order


@dataclass
class RowsEvent:
    table: TableMap
    type_code: int
    # insert/delete: list of single images; update: list of
    # (before, after) pairs — images are dicts name → python value
    rows: list


# --------------------------------------------------------------------------
# the decoder
# --------------------------------------------------------------------------

_NUMERIC_TYPES = {
    MYSQL_TYPE_TINY,
    MYSQL_TYPE_SHORT,
    MYSQL_TYPE_INT24,
    MYSQL_TYPE_LONG,
    MYSQL_TYPE_LONGLONG,
    MYSQL_TYPE_FLOAT,
    MYSQL_TYPE_DOUBLE,
    MYSQL_TYPE_NEWDECIMAL,
    MYSQL_TYPE_YEAR,
}

_INT_SIZES = {
    MYSQL_TYPE_TINY: 1,
    MYSQL_TYPE_SHORT: 2,
    MYSQL_TYPE_INT24: 3,
    MYSQL_TYPE_LONG: 4,
    MYSQL_TYPE_LONGLONG: 8,
}


class BinlogReader:
    """Stateful binlog v4 byte-walk: feed it one file's bytes, iterate
    parsed events. Holds the FORMAT_DESCRIPTION context (checksum
    algorithm) and the table-id → TABLE_MAP registry the rows events
    reference."""

    def __init__(self, column_names: dict[tuple[str, str], list[str]] | None = None):
        self.checksum_alg = 0
        self.table_maps: dict[int, TableMap] = {}
        # fallback registry for 5.x binlogs without optional metadata
        self.column_names = column_names or {}

    # -- event stream -------------------------------------------------------

    def read_file(self, path: str):
        with open(path, "rb") as f:
            data = f.read()
        yield from self.read_bytes(data)

    def read_bytes(self, data: bytes):
        if data[:4] != BINLOG_MAGIC:
            raise BinlogFormatError(
                f"not a binlog: bad magic {data[:4]!r} (want \\xfebin)"
            )
        off = 4
        total = len(data)
        while off < total:
            if off + COMMON_HEADER_LEN > total:
                raise BinlogFormatError(
                    f"truncated event header at offset {off} ({total - off} bytes left)"
                )
            hdr = EventHeader(
                timestamp=_uint(data, off, 4),
                type_code=data[off + 4],
                server_id=_uint(data, off + 5, 4),
                event_size=_uint(data, off + 9, 4),
                log_pos=_uint(data, off + 13, 4),
                flags=_uint(data, off + 17, 2),
            )
            if hdr.event_size < COMMON_HEADER_LEN or off + hdr.event_size > total:
                raise BinlogFormatError(
                    f"truncated event body at offset {off}: header claims "
                    f"{hdr.event_size} bytes, {total - off} left"
                )
            event = data[off : off + hdr.event_size]
            body = self._verified_body(hdr, event)
            parsed = self._parse(hdr, body)
            if parsed is not None:
                yield hdr, parsed
            off += hdr.event_size

    def _verified_body(self, hdr: EventHeader, event: bytes) -> bytes:
        """Strip + verify the CRC32 trailer when the FDE declared one.
        The FDE itself is self-describing: its checksum-algorithm byte
        sits at event_size-5, and when it says CRC32 the FDE's own
        trailer is included."""
        alg = self.checksum_alg
        if hdr.type_code == FORMAT_DESCRIPTION_EVENT:
            alg = event[hdr.event_size - 5]
            if alg not in (0, 1):
                raise BinlogFormatError(f"unknown checksum algorithm {alg}")
            self.checksum_alg = alg
        if alg == 1:
            want = _uint(event, hdr.event_size - 4, 4)
            got = zlib.crc32(event[: hdr.event_size - 4]) & 0xFFFFFFFF
            if want != got:
                raise BinlogFormatError(
                    f"CRC32 mismatch on event type {hdr.type_code} at "
                    f"log_pos {hdr.log_pos}: stored {want:#010x}, "
                    f"computed {got:#010x} — refusing to emit from a "
                    "corrupt stream"
                )
            return event[COMMON_HEADER_LEN : hdr.event_size - 4]
        return event[COMMON_HEADER_LEN:]

    # -- per-type parsers -----------------------------------------------------

    def _parse(self, hdr: EventHeader, body: bytes):
        t = hdr.type_code
        if t == FORMAT_DESCRIPTION_EVENT:
            version = _uint(body, 0, 2)
            if version != 4:
                raise BinlogFormatError(f"unsupported binlog version {version}")
            return None
        if t in (
            ROTATE_EVENT,
            STOP_EVENT,
            PREVIOUS_GTIDS_EVENT,
            ANONYMOUS_GTID_EVENT,
            HEARTBEAT_EVENT,
        ):
            return None
        if t == GTID_EVENT:
            sid = str(_uuid.UUID(bytes=body[1:17]))
            gno = _uint(body, 17, 8)
            return ("gtid", sid, gno)
        if t == XID_EVENT:
            return ("xid", _uint(body, 0, 8))
        if t == QUERY_EVENT:
            schema_len = body[8]
            status_len = _uint(body, 11, 2)
            off = 13 + status_len
            schema = body[off : off + schema_len].decode("utf-8")
            off += schema_len + 1  # trailing NUL
            query = body[off:].decode("utf-8", errors="replace")
            return ("query", schema, query)
        if t == TABLE_MAP_EVENT:
            return ("table_map", self._parse_table_map(body))
        if t in ROWS_EVENTS:
            return ("rows", self._parse_rows(t, body))
        return None  # unknown/uninteresting event types are skipped

    def _parse_table_map(self, body: bytes) -> TableMap:
        table_id = _uint(body, 0, 6)
        off = 8  # table_id(6) + flags(2)
        schema_len = body[off]
        schema = body[off + 1 : off + 1 + schema_len].decode("utf-8")
        off += 1 + schema_len + 1
        table_len = body[off]
        table = body[off + 1 : off + 1 + table_len].decode("utf-8")
        off += 1 + table_len + 1
        n_cols, off = _lenenc(body, off)
        col_types = list(body[off : off + n_cols])
        off += n_cols
        meta_len, off = _lenenc(body, off)
        meta_end = off + meta_len
        col_meta: list = []
        for ct in col_types:
            if ct in (MYSQL_TYPE_VARCHAR, MYSQL_TYPE_VAR_STRING):
                col_meta.append(_uint(body, off, 2))
                off += 2
            elif ct == MYSQL_TYPE_NEWDECIMAL:
                col_meta.append((body[off], body[off + 1]))  # precision, scale
                off += 2
            elif ct == MYSQL_TYPE_STRING:
                real, length = body[off], body[off + 1]
                if real not in (MYSQL_TYPE_STRING, MYSQL_TYPE_VAR_STRING):
                    raise BinlogFormatError(
                        f"unsupported STRING real_type {real} (ENUM/SET "
                        "columns are not decoded)"
                    )
                col_meta.append(length)
                off += 2
            elif ct == MYSQL_TYPE_BLOB:
                col_meta.append(body[off])  # length-prefix byte count
                off += 1
            elif ct in (MYSQL_TYPE_FLOAT, MYSQL_TYPE_DOUBLE):
                col_meta.append(body[off])  # value byte size
                off += 1
            elif ct in (MYSQL_TYPE_TIMESTAMP2, MYSQL_TYPE_DATETIME2, MYSQL_TYPE_TIME2):
                col_meta.append(body[off])  # fsp
                off += 1
            elif ct in _INT_SIZES or ct in (
                MYSQL_TYPE_DATE,
                MYSQL_TYPE_YEAR,
                MYSQL_TYPE_NULL,
            ):
                col_meta.append(None)
            else:
                raise BinlogFormatError(
                    f"unsupported column type {ct} in TABLE_MAP for "
                    f"{schema}.{table} — refusing to guess its metadata "
                    "width (every later column would mis-parse)"
                )
        if off != meta_end:
            raise BinlogFormatError(
                f"TABLE_MAP metadata length mismatch for {schema}.{table}: "
                f"consumed {off - (meta_end - meta_len)} of {meta_len} bytes"
            )
        off = meta_end + (n_cols + 7) // 8  # skip nullability bitmap
        tm = TableMap(table_id, schema, table, col_types, col_meta)
        self._parse_optional_metadata(tm, body, off)
        if tm.col_names is None:
            tm.col_names = self.column_names.get((schema, table))
        if tm.col_names is None:
            raise BinlogFormatError(
                f"no column names for {schema}.{table}: the binlog carries "
                "no COLUMN_NAME optional metadata (server logged without "
                "binlog_row_metadata=FULL) and no column_names registry "
                "entry was provided — emitting positional names would "
                "silently mis-map every value"
            )
        if len(tm.col_names) != n_cols:
            raise BinlogFormatError(
                f"{schema}.{table}: {len(tm.col_names)} column names for "
                f"{n_cols} binlog columns"
            )
        self.table_maps[table_id] = tm
        return tm

    def _parse_optional_metadata(self, tm: TableMap, body: bytes, off: int) -> None:
        """8.0 optional-metadata TLV fields (binlog_row_metadata):
        COLUMN_NAME and SIMPLE_PRIMARY_KEY are consumed; SIGNEDNESS
        governs integer decoding; everything else is skipped by
        length."""
        end = len(body)
        while off < end:
            t = body[off]
            length, off2 = _lenenc(body, off + 1)
            val = body[off2 : off2 + length]
            if t == _OPTMETA_COLUMN_NAME:
                names, p = [], 0
                while p < length:
                    n, p = _lenenc(val, p)
                    names.append(val[p : p + n].decode("utf-8"))
                    p += n
                tm.col_names = names
            elif t == _OPTMETA_SIMPLE_PRIMARY_KEY:
                pks, p = [], 0
                while p < length:
                    ix, p = _lenenc(val, p)
                    pks.append(ix)
                tm.pk_indexes = pks
            elif t == _OPTMETA_SIGNEDNESS:
                # one bit per NUMERIC column, MSB-first: set = UNSIGNED
                n_num = sum(1 for ct in tm.col_types if ct in _NUMERIC_TYPES)
                bits = []
                for i in range(n_num):
                    byte = val[i // 8]
                    bits.append(not (byte & (0x80 >> (i % 8))))
                tm.signed = bits
            off = off2 + length

    # -- rows ----------------------------------------------------------------

    def _parse_rows(self, type_code: int, body: bytes) -> RowsEvent:
        table_id = _uint(body, 0, 6)
        tm = self.table_maps.get(table_id)
        if tm is None:
            raise BinlogFormatError(
                f"rows event references unknown table_id {table_id} "
                "(no preceding TABLE_MAP — stream started mid-transaction?)"
            )
        off = 8
        if type_code in _ROWS_V2:
            extra_len = _uint(body, off, 2)  # includes its own 2 bytes
            off += extra_len
        n_cols, off = _lenenc(body, off)
        if n_cols != len(tm.col_types):
            raise BinlogFormatError(
                f"rows event column count {n_cols} != TABLE_MAP's "
                f"{len(tm.col_types)} for {tm.schema}.{tm.table}"
            )
        bmlen = (n_cols + 7) // 8
        present1 = body[off : off + bmlen]
        off += bmlen
        is_update = type_code in _ROWS_UPDATE
        present2 = None
        if is_update:
            present2 = body[off : off + bmlen]
            off += bmlen

        images = []
        while off < len(body):
            img, off = self._parse_image(tm, body, off, present1)
            if is_update:
                img2, off = self._parse_image(tm, body, off, present2)
                images.append((img, img2))
            else:
                images.append(img)
        return RowsEvent(table=tm, type_code=type_code, rows=images)

    def _parse_image(self, tm: TableMap, body: bytes, off: int, present: bytes):
        n_present = sum(
            1 for i in range(len(tm.col_types)) if _bit(present, i)
        )
        null_bm = body[off : off + (n_present + 7) // 8]
        off += (n_present + 7) // 8
        img: dict = {}
        j = 0  # index into present columns (null bitmap axis)
        num_ix = 0  # index into numeric columns (signedness axis)
        for i, ct in enumerate(tm.col_types):
            signed = True
            if ct in _NUMERIC_TYPES:
                if tm.signed is not None:
                    signed = tm.signed[num_ix]
                num_ix += 1
            if not _bit(present, i):
                continue
            name = tm.col_names[i]
            if _bit(null_bm, j):
                img[name] = None
                j += 1
                continue
            j += 1
            img[name], off = self._decode_value(ct, tm.col_meta[i], body, off, signed)
        return img, off

    def _decode_value(self, ct: int, meta, body: bytes, off: int, signed: bool):
        if ct in _INT_SIZES:
            n = _INT_SIZES[ct]
            v = _uint(body, off, n)
            if signed and v >= 1 << (8 * n - 1):
                v -= 1 << (8 * n)
            return v, off + n
        if ct == MYSQL_TYPE_FLOAT:
            return struct.unpack_from("<f", body, off)[0], off + 4
        if ct == MYSQL_TYPE_DOUBLE:
            return struct.unpack_from("<d", body, off)[0], off + 8
        if ct == MYSQL_TYPE_NEWDECIMAL:
            prec, scale = meta
            return decode_newdecimal(body, off, prec, scale)
        if ct in (MYSQL_TYPE_VARCHAR, MYSQL_TYPE_VAR_STRING, MYSQL_TYPE_STRING):
            max_len = meta
            if max_len > 255:
                n = _uint(body, off, 2)
                off += 2
            else:
                n = body[off]
                off += 1
            return body[off : off + n].decode("utf-8"), off + n
        if ct == MYSQL_TYPE_BLOB:
            n = _uint(body, off, meta)
            off += meta
            return bytes(body[off : off + n]), off + n
        if ct == MYSQL_TYPE_DATE:
            v = _uint(body, off, 3)
            if v == 0:
                return None, off + 3  # the zero-date sentinel
            return f"{v >> 9:04d}-{(v >> 5) & 0x0F:02d}-{v & 0x1F:02d}", off + 3
        if ct == MYSQL_TYPE_YEAR:
            v = body[off]
            return (1900 + v if v else 0), off + 1
        if ct == MYSQL_TYPE_DATETIME2:
            fsp = meta
            v = _uint_be(body, off, 5) - 0x8000000000
            off += 5
            micros, off = _frac_micros(body, off, fsp)
            ym = (v >> 22) & 0x1FFFF
            return (
                _fmt_dt(
                    ym // 13, ym % 13, (v >> 17) & 0x1F,
                    (v >> 12) & 0x1F, (v >> 6) & 0x3F, v & 0x3F, micros,
                ),
                off,
            )
        if ct == MYSQL_TYPE_TIMESTAMP2:
            fsp = meta
            secs = _uint_be(body, off, 4)
            off += 4
            micros, off = _frac_micros(body, off, fsp)
            from datetime import datetime, timezone

            dt = datetime.fromtimestamp(secs, tz=timezone.utc)
            return (
                _fmt_dt(dt.year, dt.month, dt.day, dt.hour, dt.minute, dt.second, micros),
                off,
            )
        if ct == MYSQL_TYPE_TIME2:
            fsp = meta
            v = _uint_be(body, off, 3) - 0x800000
            off += 3
            micros, off = _frac_micros(body, off, fsp)
            sign = "-" if v < 0 else ""
            v = abs(v)
            base = f"{sign}{(v >> 12) & 0x3FF:02d}:{(v >> 6) & 0x3F:02d}:{v & 0x3F:02d}"
            return (f"{base}.{micros:06d}" if micros else base), off
        raise BinlogFormatError(f"unsupported column type {ct} in row image")


# --------------------------------------------------------------------------
# envelope conversion
# --------------------------------------------------------------------------


def _env_str(v):
    """Decoded python value → the envelope's MAP<STRING,STRING> value.
    Binary goes through base64 (the snapshot path's contract —
    ``decode_image_value`` unbase64s BinaryType at materialization);
    floats through repr (shortest round-trip, == str in py3)."""
    if v is None:
        return None
    if isinstance(v, bytes):
        return base64.b64encode(v).decode("ascii")
    return str(v)


def binlog_seq(path: str) -> int:
    """The sequence number in a binlog file name (``binlog.000002`` →
    2): the order MySQL writes its files in. Raises ``ValueError`` for
    a name without a numeric extension, whose events could not be
    ordered against the other files'."""
    ext = os.path.basename(path).rpartition(".")[2]
    if not ext.isdigit():
        raise ValueError(
            f"binlog file {path!r} has no numeric sequence extension "
            "(expected e.g. binlog.000001)"
        )
    return int(ext)


def binlog_pos(file_seq: int, log_pos: int) -> str:
    """The envelope ``pos`` of an event: the file sequence number,
    zero-padded like MySQL's file names (six digits), then the end
    offset zero-padded to ``POS_WIDTH``."""
    return f"{file_seq:06d}{log_pos:0{POS_WIDTH}d}"


@dataclass
class BinlogEnvelopeDecoder:
    """Binlog bytes → CHANGE_EVENT_SCHEMA envelope dicts, with the
    reference's demux semantics (`incremental.go:180-231`):

    - GTID sets the current ``txn_id`` (``uuid:gno``);
    - rows events emit insert/update/delete with update images PAIRED
      into one event (`handler.go:100-108`);
    - XID emits ``op='commit'`` (the read-committed gate's release);
    - QUERY emits ``op='ddl'`` only for the reference's five DDL
      prefixes; BEGIN and DML statements emit nothing.

    ``pos`` = zero-padded file sequence number + zero-padded
    ``log_pos`` (:func:`binlog_pos`). All rows of one statement share
    its event's pos — the downstream latest-wins collapse orders by
    (pos) per key, and one statement never touches the same PK twice.

    ``skip_covered`` (a ``GtidSet``) is the ``StartSyncGTID`` resume
    semantic (`incremental.go:141-149`): transactions whose
    ``uuid:gno`` the watermark already covers produce NO events —
    overlapping binlog archives and crash re-ingests replay for free.
    ``gtids_seen`` accumulates the transactions actually emitted, for
    the caller to fold into its watermark (A17/A21)."""

    data_source: str
    column_names: dict[tuple[str, str], list[str]] | None = None
    skip_covered: object | None = None  # GtidSet, avoided as an import cycle
    reader: BinlogReader = field(init=False)
    txn_id: str | None = field(default=None, init=False)
    _skipping: bool = field(default=False, init=False)

    def __post_init__(self):
        self.reader = BinlogReader(column_names=self.column_names)
        from ..functions.gtid import GtidSet

        self.gtids_seen = GtidSet()

    def decode_file(self, path: str) -> list[dict]:
        with open(path, "rb") as f:
            data = f.read()
        return list(self.decode_bytes(data, binlog_seq(path)))

    def decode_bytes(self, data: bytes, file_seq: int = 0):
        """Events of one binlog file's bytes; ``file_seq`` is the
        file's sequence number (:func:`binlog_seq`)."""
        for hdr, parsed in self.reader.read_bytes(data):
            kind = parsed[0] if isinstance(parsed, tuple) else "table_map"
            if kind == "gtid":
                _, sid, gno = parsed
                self.txn_id = f"{sid}:{gno}"
                self._skipping = (
                    self.skip_covered is not None
                    and self.skip_covered.covers(sid, gno)
                )
                if not self._skipping:
                    self.gtids_seen.add(sid, gno)
                continue
            if kind == "table_map":
                continue
            if self._skipping:
                continue
            pos = binlog_pos(file_seq, hdr.log_pos)
            ts = hdr.timestamp or None
            if kind == "xid":
                yield self._event("commit", None, None, pos, ts, schema=None, table=None)
                continue
            if kind == "query":
                _, schema, query = parsed
                head = query.lstrip().upper()
                if head.startswith(DDL_PREFIXES):
                    yield self._event(
                        "ddl", {"query": query}, None, pos, ts,
                        schema=schema or None, table=_ddl_table(query),
                    )
                continue
            if kind == "rows":
                ev: RowsEvent = parsed[1]
                tm = ev.table
                if ev.type_code in _ROWS_WRITE:
                    for img in ev.rows:
                        yield self._event(
                            "insert", _strmap(img), None, pos, ts, tm.schema, tm.table
                        )
                elif ev.type_code in _ROWS_DELETE:
                    for img in ev.rows:
                        yield self._event(
                            "delete", None, _strmap(img), pos, ts, tm.schema, tm.table
                        )
                else:
                    for before, after in ev.rows:
                        yield self._event(
                            "update", _strmap(after), _strmap(before), pos, ts,
                            tm.schema, tm.table,
                        )

    def _event(self, op, data, before, pos, ts, schema, table) -> dict:
        return {
            "data_source": self.data_source,
            "schema": schema,
            "table": table,
            "op": op,
            "data": data,
            "before": before,
            "ts": None,  # envelope ts is TIMESTAMP_NTZ; binlog header
            # seconds are event-arrival metadata, not row time — the
            # reference also stamps Ts itself (handler.go:91)
            "pos": pos,
            "txn_id": self.txn_id,
        }


def _strmap(img: dict) -> dict:
    return {k: _env_str(v) for k, v in img.items()}


def _ddl_table(query: str) -> str | None:
    """Best-effort table name for DDL routing (the drain's _apply_ddl
    re-parses the statement anyway; this only serves the per-table
    rule filter). ALTER TABLE t / TRUNCATE TABLE t / DROP TABLE t."""
    toks = query.replace("`", "").split()
    up = [t.upper() for t in toks]
    for kw in ("TABLE",):
        if kw in up:
            ix = up.index(kw)
            if ix + 1 < len(toks):
                name = toks[ix + 1].rstrip("(;")
                return name.split(".")[-1] or None
    return None


def binlog_to_changelog(
    binlog_path: str,
    changelog_dir: str,
    data_source: str,
    column_names: dict[tuple[str, str], list[str]] | None = None,
    decoder: BinlogEnvelopeDecoder | None = None,
) -> int:
    """Decode one binlog file into a changelog segment the existing
    drain consumes (JSON-lines envelope, atomic rename-in like the
    polling capture's ``_emit``). Returns the event count. Idempotent
    under re-runs the same way every capture path is: re-decoding the
    same file lands a NEW segment whose events carry the SAME pos, so
    the latest-wins MERGE absorbs the duplicates. Pass ``decoder`` to
    supply a GTID-resume decoder (and read ``decoder.gtids_seen``
    afterwards)."""
    import uuid as _u

    dec = decoder or BinlogEnvelopeDecoder(data_source, column_names=column_names)
    events = dec.decode_file(binlog_path)
    if not events:
        return 0
    emit_id = _u.uuid4().hex[:8]
    base = os.path.basename(binlog_path)
    parent = os.path.dirname(os.path.abspath(changelog_dir))
    tmp = os.path.join(parent, f".binlog-tmp-{emit_id}")
    with open(tmp, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")
    os.rename(
        tmp, os.path.join(changelog_dir, f"binlog-{base}-{emit_id}.json")
    )
    return len(events)
