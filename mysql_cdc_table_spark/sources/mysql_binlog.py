"""Real MySQL binlog (v4) binary format: reader + fixture writer.

This is the reference's ACTUAL on-disk input: its reader walks binlog
files event by event — FORMAT_DESCRIPTION, GTID, TABLE_MAP, and the
ROWS_EVENT v2 family — resolving row-image layout from the TABLE_MAP's
column types/metadata (reference ``binlog_table_reader.cc:173-429``;
``table_def`` construction at ``:393-408``). The repo's other ingest
paths carry the same semantics over a friendlier encoding (Debezium
JSON envelopes); this module closes the last gap: a user holding
genuine ``binlog.NNNNNN`` files.

Everything here derives from the public binlog event format (MySQL
internals documentation; the same layout every open-source replication
client implements). Byte-level framing:

- file magic ``\\xfebin``; every event = 19-byte header
  ``timestamp u32 | type u8 | server_id u32 | event_size u32 |
  log_pos u32 | flags u16`` + body [+ CRC32 when the FDE declares it]
- TABLE_MAP: table_id(6) flags(2) | db, table (len-prefixed, NUL
  terminated) | column count (net-packed int) | per-column type byte |
  per-column metadata | null bitmap
- WRITE/UPDATE/DELETE_ROWS v2 (type 30/31/32): table_id(6) flags(2)
  extra_len(2) | column count | columns-present bitmap (x2 for update)
  | per image: null bitmap over present columns + packed values
- GTID (type 33): flags(1) sid(16) gno(8 LE)

Decoded output is the standard changelog relation (target columns +
``__op``/``__gtid``/``__tm`` + ordering columns), identical to
``cdc_read``'s — so every derived operator (latest_state, scd2, ...)
runs unchanged on real binlog input. Op codes per the reference
(write→1 ``:211-214``, delete→0 ``:277-280``, update→2,3 ``:351-354``,
``:126-130``); unlike the reference, ALL row-images of a multi-row
event are emitted (its one-image-per-event early return at ``:243`` is
a documented limitation, SURVEY §2A note).

Type space (TABLE_MAP-driven, decode sized by metadata exactly like
``Field::unpack`` + ``calc_field_size`` — reference ``:151-156``):
TINY SHORT INT24 LONG LONGLONG FLOAT DOUBLE NEWDECIMAL (full wire
format: 9-digit groups, sign-flipped first byte) VARCHAR BLOB DATE
DATETIME2 TIMESTAMP2 TIME2 (signed offset-binary) YEAR ENUM SET BIT
JSON (the binary tree format, type 245 — decoded to canonical compact
JSON text) GEOMETRY (type 255 — SRID-prefixed WKB, BinaryType
passthrough per SURVEY §1.3). Compressed transactions
(TRANSACTION_PAYLOAD, 8.0.20+) are unwrapped and decoded — compression
NONE always, ZSTD via the first available backend (stdlib
compression.zstd, the zstandard package, or ctypes over the system
libzstd — present wherever MySQL or Spark is installed, both link it).
JSON partial updates (PARTIAL_UPDATE_ROWS_EVENT,
binlog_row_value_options=PARTIAL_JSON) decode by applying the
Json_diff_vector to the before-image. Payload-bearing events the
reader can't decode (pre-5.6 rows-v1, ZSTD with no backend at all)
raise instead of silently skipping.

Scale: the format is stateful (GTID and TABLE_MAP apply to subsequent
events), so the reference walks each file sequentially (A2/A8). The one
batch scan, ``format("mysql_binlog")`` (``MysqlBinlogReader``; every
``mysql_binlog_read*`` function builds it), header-walks each file on
the driver into transaction-aligned byte ranges that carry that state,
packs small files' ranges into shared partitions the way Spark's file
sources pack files, and range-decodes with no shuffle.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import mmap
import os
import re
import struct
import zlib
from collections.abc import Iterator
from decimal import Context, Decimal
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mysql_cdc_table_spark.cdc.schema import (
    CDC_DELETE,
    CDC_INSERT,
    CDC_UPDATE_AFTER,
    CDC_UPDATE_BEFORE,
    changelog_schema,
)

BINLOG_MAGIC = b"\xfebin"

# event type codes (public binlog format)
EV_ROTATE = 4
EV_QUERY = 2
EV_FORMAT_DESCRIPTION = 15
EV_XID = 16
EV_TABLE_MAP = 19
EV_WRITE_ROWS_V1 = 23
EV_UPDATE_ROWS_V1 = 24
EV_DELETE_ROWS_V1 = 25
EV_ROWS_QUERY = 29
EV_WRITE_ROWS_V2 = 30
EV_UPDATE_ROWS_V2 = 31
EV_DELETE_ROWS_V2 = 32
EV_GTID = 33
EV_PREVIOUS_GTIDS = 35
EV_PARTIAL_UPDATE_ROWS = 39
EV_TRANSACTION_PAYLOAD = 40

# Payload-bearing event types this reader does NOT decode. The reference
# default-skips every unknown type (binlog_table_reader.cc:427-428) —
# which would turn "unsupported" into "silently empty changelog", so we
# raise instead. TRANSACTION_PAYLOAD (compressed transactions) and
# PARTIAL_UPDATE_ROWS (JSON partial updates) are NOT in this set: both
# are decoded (see decode_binlog_bytes / _read_image_partial).
# Genuinely ignorable types (ROTATE/XID/QUERY/STOP/HEARTBEAT/
# PREVIOUS_GTIDS/ANONYMOUS_GTID/...) still skip.
_UNSUPPORTED_PAYLOAD_EVENTS = {
    EV_WRITE_ROWS_V1: "WRITE_ROWS_EVENT v1 (pre-5.6 format)",
    EV_UPDATE_ROWS_V1: "UPDATE_ROWS_EVENT v1 (pre-5.6 format)",
    EV_DELETE_ROWS_V1: "DELETE_ROWS_EVENT v1 (pre-5.6 format)",
}

# Transaction_payload_event on-the-wire fields (public format: a
# sequence of <type, length, value> items — type/length as net-packed
# ints — terminated by the end mark, then the raw payload bytes).
_TP_END_MARK = 0
_TP_PAYLOAD_SIZE = 1
_TP_COMPRESSION_TYPE = 2
_TP_UNCOMPRESSED_SIZE = 3
_TP_ZSTD = 0
_TP_NONE = 255


# zstd backend resolution order: stdlib compression.zstd (3.14+) ->
# zstandard package -> ctypes over the system libzstd (present on any
# host with MySQL/Spark installed — both link it). Resolved once;
# _ZSTD_IMPL is (compress, decompress) callables or (None, None).
_ZSTD_IMPL: tuple | None = None
_ZSTD_CONTENTSIZE_UNKNOWN = 2**64 - 1
_ZSTD_CONTENTSIZE_ERROR = 2**64 - 2


def _zstd_ctypes() -> tuple | None:
    import ctypes
    import ctypes.util

    name = ctypes.util.find_library("zstd")
    lib = None
    for cand in ([name] if name else []) + ["libzstd.so.1", "libzstd.so",
                                           "libzstd.dylib"]:
        try:
            lib = ctypes.CDLL(cand)
            break
        except OSError:
            continue
    if lib is None:
        return None
    try:
        lib.ZSTD_isError.restype = ctypes.c_uint
        lib.ZSTD_isError.argtypes = [ctypes.c_size_t]
        lib.ZSTD_getFrameContentSize.restype = ctypes.c_ulonglong
        lib.ZSTD_getFrameContentSize.argtypes = [
            ctypes.c_char_p, ctypes.c_size_t,
        ]
        lib.ZSTD_decompress.restype = ctypes.c_size_t
        lib.ZSTD_decompress.argtypes = [
            ctypes.c_void_p, ctypes.c_size_t, ctypes.c_char_p, ctypes.c_size_t,
        ]
        lib.ZSTD_compressBound.restype = ctypes.c_size_t
        lib.ZSTD_compressBound.argtypes = [ctypes.c_size_t]
        lib.ZSTD_compress.restype = ctypes.c_size_t
        lib.ZSTD_compress.argtypes = [
            ctypes.c_void_p, ctypes.c_size_t, ctypes.c_char_p, ctypes.c_size_t,
            ctypes.c_int,
        ]
    except AttributeError:
        return None

    def dec(data: bytes, expected_size: int | None) -> bytes:
        cap = expected_size or 0
        csize = lib.ZSTD_getFrameContentSize(data, len(data))
        if csize == _ZSTD_CONTENTSIZE_ERROR:
            raise ValueError("not a valid zstd frame (ZSTD_CONTENTSIZE_ERROR)")
        if csize != _ZSTD_CONTENTSIZE_UNKNOWN:
            cap = max(cap, int(csize))
        if cap == 0:
            cap = max(16 * len(data), 1 << 16)  # streamed frame, no size
        # Both the frame header's content size and the TLV expected size
        # are untrusted file bytes: clamp the allocation so a crafted
        # frame can't demand a near-2^64 buffer. 4096:1 covers any
        # realistic transaction payload (zstd RLE tops out far below it
        # per MB of input); 2^30 floors tiny inputs. If a legitimate
        # frame ever exceeds the clamp, the error below says so
        # explicitly instead of masquerading as corruption.
        want = cap
        cap = min(cap, max(4096 * len(data), 1 << 30))
        dst = ctypes.create_string_buffer(cap or 1)
        n = lib.ZSTD_decompress(dst, cap, data, len(data))
        if lib.ZSTD_isError(n):
            if cap < want:
                raise ValueError(
                    f"libzstd decompress failed (code {n}); declared "
                    f"content size {want} exceeded the allocation clamp "
                    f"{cap} — if the frame is legitimate, decompress it "
                    "with the zstandard package backend instead"
                )
            raise ValueError(f"libzstd decompress failed (code {n})")
        return dst.raw[:n]

    def comp(data: bytes, level: int = 3) -> bytes:
        bound = lib.ZSTD_compressBound(len(data))
        dst = ctypes.create_string_buffer(bound)
        n = lib.ZSTD_compress(dst, bound, data, len(data), level)
        if lib.ZSTD_isError(n):
            raise ValueError(f"libzstd compress failed (code {n})")
        return dst.raw[:n]

    return comp, dec


def _zstd_backend() -> tuple:
    global _ZSTD_IMPL
    if _ZSTD_IMPL is not None:
        return _ZSTD_IMPL
    try:  # stdlib (3.14+)
        from compression import zstd as _z  # type: ignore[import-not-found]

        _ZSTD_IMPL = (
            lambda d, level=3: _z.compress(d, level),
            lambda d, expected: _z.decompress(d),
        )
        return _ZSTD_IMPL
    except ImportError:
        pass
    try:
        import zstandard as _zstd  # type: ignore[import-not-found]

        _ZSTD_IMPL = (
            lambda d, level=3: _zstd.ZstdCompressor(level=level).compress(d),
            lambda d, expected: _zstd.ZstdDecompressor().decompress(
                d, max_output_size=expected or 0
            ),
        )
        return _ZSTD_IMPL
    except ImportError:
        pass
    _ZSTD_IMPL = _zstd_ctypes() or (None, None)
    return _ZSTD_IMPL


def zstd_compress(data: bytes, level: int = 3) -> bytes:
    """Compress with whichever zstd backend is available (fixture
    writer side of compressed transactions); pointed raise if none."""
    comp, _ = _zstd_backend()
    if comp is None:
        raise ValueError(
            "no zstd backend available (stdlib compression.zstd, the "
            "zstandard package, or a loadable libzstd)"
        )
    return comp(data, level)


def _zstd_decompress(data: bytes, expected_size: int | None) -> bytes:
    _, dec = _zstd_backend()
    if dec is None:
        raise ValueError(
            "transaction payload is ZSTD-compressed and no zstd backend "
            "is available (stdlib compression.zstd, the zstandard "
            "package, or a loadable libzstd; or re-record with "
            "binlog_transaction_compression=OFF)"
        )
    return dec(data, expected_size)


def _unwrap_transaction_payload(body: bytes, event_seq: int) -> bytes:
    """TRANSACTION_PAYLOAD_EVENT -> the embedded binlog event stream."""
    pos = 0
    comp = _TP_NONE
    unc_size: int | None = None
    while pos < len(body):
        ftype, pos = _read_packed_int(body, pos)
        if ftype == _TP_END_MARK:
            break
        flen, pos = _read_packed_int(body, pos)
        fval = body[pos : pos + flen]
        pos += flen
        if ftype == _TP_COMPRESSION_TYPE:
            comp = _read_packed_int(fval, 0)[0]
        elif ftype == _TP_UNCOMPRESSED_SIZE:
            unc_size = _read_packed_int(fval, 0)[0]
        # _TP_PAYLOAD_SIZE is implied by the remaining bytes
    payload = body[pos:]
    if comp == _TP_NONE:
        return payload
    if comp == _TP_ZSTD:
        return _zstd_decompress(payload, unc_size)
    raise ValueError(
        f"transaction payload at offset {event_seq} uses unknown "
        f"compression type {comp}"
    )

# column type codes (public)
TY_TINY = 1
TY_SHORT = 2
TY_LONG = 3
TY_FLOAT = 4
TY_DOUBLE = 5
TY_TIMESTAMP_V1 = 7  # pre-5.6.4 TIMESTAMP: 4-byte LE unix seconds
TY_LONGLONG = 8
TY_INT24 = 9
TY_DATE = 10
TY_TIME_V1 = 11  # pre-5.6.4 TIME: 3-byte LE signed H*10000+M*100+S
TY_DATETIME_V1 = 12  # pre-5.6.4 DATETIME: 8-byte LE YYYYMMDDHHMMSS
TY_YEAR = 13
TY_VARCHAR = 15
TY_BIT = 16
TY_TIMESTAMP2 = 17
TY_DATETIME2 = 18
TY_TIME2 = 19
TY_JSON = 245
TY_NEWDECIMAL = 246
TY_ENUM = 247  # only ever inside STRING metadata
TY_SET = 248
TY_BLOB = 252
TY_STRING = 254
TY_GEOMETRY = 255

_HEADER = struct.Struct("<IBIIIH")  # ts, type, server_id, size, log_pos, flags
_HEADER_LEN = 19


# --- net-packed integers -----------------------------------------------------


def _pack_int(n: int) -> bytes:
    if n < 251:
        return bytes([n])
    if n < 1 << 16:
        return b"\xfc" + struct.pack("<H", n)
    if n < 1 << 24:
        return b"\xfd" + struct.pack("<I", n)[:3]
    return b"\xfe" + struct.pack("<Q", n)


def _read_packed_int(buf: bytes, pos: int) -> tuple[int, int]:
    b0 = buf[pos]
    if b0 < 251:
        return b0, pos + 1
    if b0 == 0xFC:
        return struct.unpack_from("<H", buf, pos + 1)[0], pos + 3
    if b0 == 0xFD:
        return int.from_bytes(buf[pos + 1 : pos + 4], "little"), pos + 4
    return struct.unpack_from("<Q", buf, pos + 1)[0], pos + 9


# --- NEWDECIMAL wire format --------------------------------------------------
# big-endian 9-digit groups; first byte sign-flipped; negatives inverted.

_DIG_BYTES = [0, 1, 1, 2, 2, 3, 3, 4, 4]
_CTX = Context(prec=80)


def _dec_bin_size(precision: int, scale: int) -> int:
    intg = precision - scale
    return (
        intg // 9 * 4
        + _DIG_BYTES[intg % 9]
        + scale // 9 * 4
        + _DIG_BYTES[scale % 9]
    )


def _encode_newdecimal(v: Decimal, precision: int, scale: int) -> bytes:
    neg = v < 0
    # copy_abs() is context-free; abs() would round through the default
    # 28-digit context and corrupt DECIMAL(38,s) values.
    unscaled = int(v.copy_abs().scaleb(scale, context=_CTX).to_integral_value(context=_CTX))
    digits = str(unscaled).rjust(precision, "0")
    if len(digits) > precision:
        # silently emitting extra digit-group bytes would desync every
        # following value in the row image — failfast like MySQL's own
        # out-of-range rejection
        raise ValueError(
            f"DECIMAL({precision},{scale}) out of range: {v} needs "
            f"{len(digits)} digits"
        )
    intg = precision - scale
    ipart, fpart = digits[: len(digits) - scale], digits[len(digits) - scale :]
    ipart = ipart.rjust(intg, "0")

    out = bytearray()

    def _groups(ds: str, leading: bool) -> None:
        # leading partial group first (int part) / trailing partial last (frac)
        if leading:
            head = len(ds) % 9
            if head:
                out.extend(int(ds[:head]).to_bytes(_DIG_BYTES[head], "big"))
                ds = ds[head:]
            for i in range(0, len(ds), 9):
                out.extend(int(ds[i : i + 9]).to_bytes(4, "big"))
        else:
            full = len(ds) // 9 * 9
            for i in range(0, full, 9):
                out.extend(int(ds[i : i + 9]).to_bytes(4, "big"))
            tail = len(ds) - full
            if tail:
                out.extend(int(ds[full:]).to_bytes(_DIG_BYTES[tail], "big"))

    _groups(ipart, True)
    _groups(fpart, False)
    out[0] ^= 0x80
    if neg:
        for i in range(len(out)):
            out[i] ^= 0xFF
    return bytes(out)


def _decode_newdecimal(
    buf: bytes, pos: int, precision: int, scale: int
) -> tuple[Decimal, int]:
    size = _dec_bin_size(precision, scale)
    raw = bytearray(buf[pos : pos + size])
    neg = not (raw[0] & 0x80)
    if neg:
        for i in range(len(raw)):
            raw[i] ^= 0xFF
    raw[0] ^= 0x80
    intg = precision - scale
    digits = []
    i = 0
    head = intg % 9
    if head:
        n = _DIG_BYTES[head]
        digits.append(str(int.from_bytes(raw[i : i + n], "big")).rjust(head, "0"))
        i += n
    for _ in range(intg // 9):
        digits.append(str(int.from_bytes(raw[i : i + 4], "big")).rjust(9, "0"))
        i += 4
    ipart = "".join(digits) or "0"
    digits = []
    for _ in range(scale // 9):
        digits.append(str(int.from_bytes(raw[i : i + 4], "big")).rjust(9, "0"))
        i += 4
    tail = scale % 9
    if tail:
        n = _DIG_BYTES[tail]
        digits.append(str(int.from_bytes(raw[i : i + n], "big")).rjust(tail, "0"))
        i += n
    fpart = "".join(digits)
    s = (ipart + ("." + fpart if fpart else "")) or "0"
    d = Decimal(("-" if neg else "") + s)
    return d, pos + size


# --- temporal wire formats ---------------------------------------------------


def _frac_bytes(fsp: int) -> int:
    return (fsp + 1) // 2


def _encode_datetime2(v: _dt.datetime, fsp: int) -> bytes:
    ym = v.year * 13 + v.month
    intpart = (
        (ym << 22) | (v.day << 17) | (v.hour << 12) | (v.minute << 6) | v.second
    )
    out = (intpart + 0x8000000000).to_bytes(5, "big")
    nb = _frac_bytes(fsp)
    if nb:
        frac = v.microsecond // (10 ** (6 - fsp))
        out += frac.to_bytes(nb, "big")
    return out


def _decode_datetime2(buf: bytes, pos: int, fsp: int) -> tuple[_dt.datetime, int]:
    intpart = int.from_bytes(buf[pos : pos + 5], "big") - 0x8000000000
    pos += 5
    sec = intpart & 0x3F
    minute = (intpart >> 6) & 0x3F
    hour = (intpart >> 12) & 0x1F
    day = (intpart >> 17) & 0x1F
    ym = intpart >> 22
    micro = 0
    nb = _frac_bytes(fsp)
    if nb:
        micro = int.from_bytes(buf[pos : pos + nb], "big") * (10 ** (6 - fsp))
        pos += nb
    return (
        _dt.datetime(ym // 13, ym % 13, day, hour, minute, sec, micro),
        pos,
    )


_TIME_RE = re.compile(r"^(-)?(\d{1,3}):(\d{2}):(\d{2})(?:\.(\d{1,6}))?$")


def _parse_time_str(v: str, fsp: int) -> tuple[bool, int, int, int, int]:
    m = _TIME_RE.match(v)
    if not m:
        raise ValueError(f"TIME value must be [-]H:MM:SS[.frac], got {v!r}")
    neg = bool(m.group(1))
    h, mi, s = int(m.group(2)), int(m.group(3)), int(m.group(4))
    frac = m.group(5) or ""
    if h > 838 or mi > 59 or s > 59:
        raise ValueError(f"TIME out of range: {v!r}")
    if len(frac) > fsp:
        raise ValueError(
            f"TIME value {v!r} carries {len(frac)} fractional digits but "
            f"the column's fsp is {fsp}"
        )
    micro = int(frac.ljust(6, "0")) if frac else 0
    return neg, h, mi, s, micro


def _encode_time2(v: str, fsp: int = 0) -> bytes:
    """TIME2: offset-binary big-endian, 3 bytes of integer part plus
    0-3 fractional bytes by fsp — MySQL's my_time_packed_to_binary
    layout (public my_time.cc / my_time.h): the packed value is
    sign * ((h<<12|m<<6|s) << 24 | microseconds); fsp 0 stores
    0x800000 + (packed >> 24); fsp 1-2 add one signed byte of
    centiseconds, fsp 3-4 two signed bytes of 1e-4 s (the int part
    uses the FLOOR shift and the fraction the C-truncation remainder,
    so negative times with a fraction store int-part-minus-one and a
    negative two's-complement fraction — the decoder's documented
    borrow); fsp 5-6 store the whole packed value in 6 bytes offset
    by 0x800000000000. Range ±838:59:59.999999."""
    neg, h, mi, s, micro = _parse_time_str(v, fsp)
    nr = ((h << 12) | (mi << 6) | s) << 24 | micro
    if neg:
        nr = -nr
    nb = _frac_bytes(fsp)
    if nb == 0:
        return (0x800000 + (nr >> 24)).to_bytes(3, "big")
    if nb == 3:
        return (0x800000000000 + nr).to_bytes(6, "big")
    # C-truncation split: remainder carries the sign of nr
    r = nr - (abs(nr) >> 24 << 24) * (1 if nr >= 0 else -1)
    scale = 10000 if nb == 1 else 100
    fval = r // scale if r >= 0 else -((-r) // scale)
    out = (0x800000 + (nr >> 24)).to_bytes(3, "big")
    return out + ((fval & ((1 << (8 * nb)) - 1)).to_bytes(nb, "big"))


def _decode_time2(buf: bytes, pos: int, fsp: int = 0) -> tuple[str, int]:
    nb = _frac_bytes(fsp)
    if nb == 0:
        nr = (int.from_bytes(buf[pos : pos + 3], "big") - 0x800000) << 24
        pos += 3
    elif nb == 3:
        nr = int.from_bytes(buf[pos : pos + 6], "big") - 0x800000000000
        pos += 6
    else:
        ip = int.from_bytes(buf[pos : pos + 3], "big") - 0x800000
        pos += 3
        raw = int.from_bytes(buf[pos : pos + nb], "big")
        pos += nb
        if ip < 0 and raw:
            # the encoder's floor/truncation split: borrow one from
            # the int part, read the fraction as negative
            ip += 1
            raw -= 1 << (8 * nb)
        scale = 10000 if nb == 1 else 100
        nr = (ip << 24) + raw * scale
    sign = "-" if nr < 0 else ""
    nr = abs(nr)
    intpart, micro = nr >> 24, nr & 0xFFFFFF
    h, mi, s = intpart >> 12, (intpart >> 6) & 0x3F, intpart & 0x3F
    out = f"{sign}{h}:{mi:02d}:{s:02d}"
    if fsp:
        out += "." + f"{micro:06d}"[:fsp]
    return out, pos


# --- legacy (pre-5.6.4) temporal wire formats --------------------------------
# Servers older than 5.6.4 write MYSQL_TYPE_TIMESTAMP/TIME/DATETIME
# (codes 7/11/12) instead of the *2 variants: no fractional seconds,
# little-endian, and DATETIME is a DECIMAL-packed integer. The
# reference inherits these from Field::unpack
# (binlog_table_reader.cc:151-156); kept here so old binlogs decode.


def _encode_timestamp_v1(v: _dt.datetime) -> bytes:
    secs = int(v.replace(tzinfo=_dt.timezone.utc).timestamp())
    return struct.pack("<I", secs)


def _decode_timestamp_v1(buf: bytes, pos: int) -> tuple[_dt.datetime, int]:
    secs = struct.unpack_from("<I", buf, pos)[0]
    return (
        _dt.datetime.fromtimestamp(secs, _dt.timezone.utc).replace(tzinfo=None),
        pos + 4,
    )


def _encode_datetime_v1(v: _dt.datetime) -> bytes:
    packed = (
        (v.year * 10000 + v.month * 100 + v.day) * 1_000_000
        + v.hour * 10000
        + v.minute * 100
        + v.second
    )
    return struct.pack("<Q", packed)


def _decode_datetime_v1(buf: bytes, pos: int) -> tuple[_dt.datetime, int]:
    packed = struct.unpack_from("<Q", buf, pos)[0]
    d, t = divmod(packed, 1_000_000)
    return (
        _dt.datetime(
            d // 10000, d // 100 % 100, d % 100,
            t // 10000, t // 100 % 100, t % 100,
        ),
        pos + 8,
    )


def _encode_time_v1(v: str) -> bytes:
    neg, h, mi, s, _ = _parse_time_str(v, 0)
    packed = h * 10000 + mi * 100 + s
    if neg:
        packed = -packed
    return (packed & 0xFFFFFF).to_bytes(3, "little")


def _decode_time_v1(buf: bytes, pos: int) -> tuple[str, int]:
    u = int.from_bytes(buf[pos : pos + 3], "little")
    if u >= 1 << 23:
        u -= 1 << 24
    sign = "-" if u < 0 else ""
    u = abs(u)
    h, mi, s = u // 10000, u // 100 % 100, u % 100
    return f"{sign}{h}:{mi:02d}:{s:02d}", pos + 3


def _encode_timestamp2(v: _dt.datetime, fsp: int) -> bytes:
    secs = int(v.replace(tzinfo=_dt.timezone.utc).timestamp())
    out = secs.to_bytes(4, "big")
    nb = _frac_bytes(fsp)
    if nb:
        out += (v.microsecond // (10 ** (6 - fsp))).to_bytes(nb, "big")
    return out


def _decode_timestamp2(buf: bytes, pos: int, fsp: int) -> tuple[_dt.datetime, int]:
    secs = int.from_bytes(buf[pos : pos + 4], "big")
    pos += 4
    micro = 0
    nb = _frac_bytes(fsp)
    if nb:
        micro = int.from_bytes(buf[pos : pos + nb], "big") * (10 ** (6 - fsp))
        pos += nb
    return (
        _dt.datetime.fromtimestamp(secs, _dt.timezone.utc)
        .replace(tzinfo=None, microsecond=micro),
        pos,
    )


# --- MySQL binary JSON (column type 245) -------------------------------------
# The JSON column's binlog value is a length-prefixed blob holding
# MySQL's binary JSON tree (public format: sql/json_binary.h docs; the
# same layout every replication client decodes). The reference gets this
# free through Field::unpack (binlog_table_reader.cc:151-156); here the
# tree is decoded back to canonical compact JSON text. Layout:
#   doc       ::= type(1) value
#   small obj ::= count(2) size(2) key-entry* value-entry* keys values
#   key-entry ::= key-offset(2) key-length(2)
#   value-entry ::= type(1) offset-or-inlined(2)
#   large variants use 4-byte counts/offsets (value-entry field is 4).
# Literals/int16/uint16 inline into the offset field (plus int32/uint32
# in the large format); offsets are relative to the container start.
# Object keys are stored sorted by (length, bytes) — MySQL's canonical
# key order — and strings carry a 7-bit varint length.

_JS_SMALL_OBJ, _JS_LARGE_OBJ, _JS_SMALL_ARR, _JS_LARGE_ARR = 0, 1, 2, 3
_JS_LITERAL, _JS_INT16, _JS_UINT16, _JS_INT32, _JS_UINT32 = 4, 5, 6, 7, 8
_JS_INT64, _JS_UINT64, _JS_DOUBLE, _JS_STRING = 9, 10, 11, 12
_JS_LIT = {0: None, 1: True, 2: False}


def _jsonb_varlen(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _jsonb_read_varlen(buf: bytes, pos: int) -> tuple[int, int]:
    n = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, pos
        shift += 7


def _jsonb_encode_value(v) -> tuple[int, bytes]:
    """-> (type code, payload). Literal payload is the 1-byte code; the
    container inlines literal/int16/uint16 into the entry field."""
    if v is None or v is True or v is False:
        return _JS_LITERAL, bytes([0 if v is None else (1 if v is True else 2)])
    if isinstance(v, int):
        if -(1 << 15) <= v < 1 << 15:
            return _JS_INT16, struct.pack("<h", v)
        if -(1 << 31) <= v < 1 << 31:
            return _JS_INT32, struct.pack("<i", v)
        return _JS_INT64, struct.pack("<q", v)
    if isinstance(v, float):
        return _JS_DOUBLE, struct.pack("<d", v)
    if isinstance(v, str):
        raw = v.encode("utf-8")
        return _JS_STRING, _jsonb_varlen(len(raw)) + raw
    if isinstance(v, list):
        return _JS_SMALL_ARR, _jsonb_container(
            [(None, x) for x in v], is_obj=False
        )
    if isinstance(v, dict):
        items = sorted(
            v.items(), key=lambda kv: (len(kv[0].encode()), kv[0].encode())
        )
        return _JS_SMALL_OBJ, _jsonb_container(items, is_obj=True)
    raise TypeError(f"unsupported JSON value {type(v).__name__}")


def _jsonb_container(items: list, is_obj: bool) -> bytes:
    n = len(items)
    keys = [k.encode("utf-8") for k, _ in items] if is_obj else []
    encoded = [_jsonb_encode_value(x) for _, x in items]
    header = 4 + (4 * n if is_obj else 0) + 3 * n
    off = header
    koffs = []
    for kb in keys:
        koffs.append(off)
        off += len(kb)
    entries = bytearray()
    payload = bytearray()
    for tc, pl in encoded:
        entries.append(tc)
        if tc == _JS_LITERAL:
            entries += struct.pack("<H", pl[0])
        elif tc in (_JS_INT16, _JS_UINT16):
            entries += pl
        else:
            entries += struct.pack("<H", off)
            payload += pl
            off += len(pl)
    out = struct.pack("<HH", n, off)
    for ko, kb in zip(koffs, keys):
        out += struct.pack("<HH", ko, len(kb))
    return out + bytes(entries) + b"".join(keys) + bytes(payload)


def _jsonb_decode_at(tc: int, buf: bytes, pos: int):
    if tc == _JS_LITERAL:
        return _JS_LIT[buf[pos]]
    if tc == _JS_INT16:
        return struct.unpack_from("<h", buf, pos)[0]
    if tc == _JS_UINT16:
        return struct.unpack_from("<H", buf, pos)[0]
    if tc == _JS_INT32:
        return struct.unpack_from("<i", buf, pos)[0]
    if tc == _JS_UINT32:
        return struct.unpack_from("<I", buf, pos)[0]
    if tc == _JS_INT64:
        return struct.unpack_from("<q", buf, pos)[0]
    if tc == _JS_UINT64:
        return struct.unpack_from("<Q", buf, pos)[0]
    if tc == _JS_DOUBLE:
        return struct.unpack_from("<d", buf, pos)[0]
    if tc == _JS_STRING:
        ln, p = _jsonb_read_varlen(buf, pos)
        return buf[p : p + ln].decode("utf-8")
    if tc in (_JS_SMALL_OBJ, _JS_LARGE_OBJ, _JS_SMALL_ARR, _JS_LARGE_ARR):
        small = tc in (_JS_SMALL_OBJ, _JS_SMALL_ARR)
        is_obj = tc in (_JS_SMALL_OBJ, _JS_LARGE_OBJ)
        w = 2 if small else 4
        fmt = "<H" if small else "<I"
        n = struct.unpack_from(fmt, buf, pos)[0]
        p = pos + 2 * w
        keys = []
        if is_obj:
            for _ in range(n):
                ko = struct.unpack_from(fmt, buf, p)[0]
                kl = struct.unpack_from("<H", buf, p + w)[0]
                keys.append(buf[pos + ko : pos + ko + kl].decode("utf-8"))
                p += w + 2
        vals = []
        for _ in range(n):
            vt = buf[p]
            if vt == _JS_LITERAL:
                vals.append(_JS_LIT[buf[p + 1]])
            elif vt in (_JS_INT16, _JS_UINT16) or (
                not small and vt in (_JS_INT32, _JS_UINT32)
            ):
                vals.append(_jsonb_decode_at(vt, buf, p + 1))
            else:
                voff = struct.unpack_from(fmt, buf, p + 1)[0]
                vals.append(_jsonb_decode_at(vt, buf, pos + voff))
            p += 1 + w
        return dict(zip(keys, vals)) if is_obj else vals
    raise ValueError(f"unsupported binary-JSON type 0x{tc:02x}")


def _encode_json_text(text: str) -> bytes:
    import json

    tc, payload = _jsonb_encode_value(json.loads(text))
    return bytes([tc]) + payload


def _decode_json_binary(data: bytes) -> str | None:
    import json

    if not data:
        return None  # empty value: JSON 'null' document in old servers
    obj = _jsonb_decode_at(data[0], data, 1)
    return json.dumps(obj, separators=(",", ":"), ensure_ascii=False)


# --- JSON partial updates (binlog_row_value_options=PARTIAL_JSON) ------------
#
# PARTIAL_UPDATE_ROWS_EVENT (type 39, MySQL 8.0+, WL#2955) stores an
# updated JSON column as a Json_diff_vector instead of the full
# document: 4-byte LE total length (Json_diff_vector::ENCODED_LENGTH_
# BYTES, sql/json_diff.cc write_binary/read_binary), then per diff
#   operation(1)  0=REPLACE 1=INSERT 2=REMOVE (json_diff.h enum order)
#   path: net-packed length + JSON-path bytes ($.member, $[N], nested,
#         double-quoted members with escapes)
#   value (REPLACE/INSERT only): net-packed length + binary JSON doc
# The after image is before-JSON with the diffs applied. The reference
# default-skips type 39 entirely (binlog_table_reader.cc:427-428) — a
# server running with partial JSON silently loses every such update
# there; this reader applies the diffs.

_JDIFF_REPLACE, _JDIFF_INSERT, _JDIFF_REMOVE = 0, 1, 2
_JDIFF_OPS = {"replace": 0, "insert": 1, "remove": 2}


def _encode_json_diff_vector(diffs: list[tuple]) -> bytes:
    """diffs: [(op_name_or_code, path_str, value_obj_or_None), ...] ->
    the column bytes a PARTIAL_UPDATE_ROWS after-image carries."""
    seq = bytearray()
    for op, path, val in diffs:
        opn = _JDIFF_OPS[op] if isinstance(op, str) else int(op)
        seq.append(opn)
        raw_path = path.encode("utf-8")
        seq += _pack_int(len(raw_path)) + raw_path
        if opn != _JDIFF_REMOVE:
            tc, payload = _jsonb_encode_value(val)
            doc = bytes([tc]) + payload
            seq += _pack_int(len(doc)) + doc
    return struct.pack("<I", len(seq)) + bytes(seq)


def _read_json_diff_vector(buf: bytes, pos: int) -> tuple[list[tuple], int]:
    total = struct.unpack_from("<I", buf, pos)[0]
    pos += 4
    end = pos + total
    diffs: list[tuple] = []
    while pos < end:
        opn = buf[pos]
        pos += 1
        if opn not in (_JDIFF_REPLACE, _JDIFF_INSERT, _JDIFF_REMOVE):
            raise ValueError(f"unknown JSON diff operation {opn}")
        plen, pos = _read_packed_int(buf, pos)
        path = buf[pos : pos + plen].decode("utf-8")
        pos += plen
        val = None
        if opn != _JDIFF_REMOVE:
            vlen, pos = _read_packed_int(buf, pos)
            if vlen == 0:
                raise ValueError(f"empty JSON diff value at path {path!r}")
            val = _jsonb_decode_at(buf[pos], buf, pos + 1)
            pos += vlen
        diffs.append((opn, path, val))
    if pos != end:
        raise ValueError("JSON diff vector length mismatch")
    return diffs, pos


def _parse_json_path(path: str) -> list:
    """'$.a."quo ted"[3].b' -> ['a', 'quo ted', 3, 'b']. MySQL diff
    paths are always concrete (no wildcards/ranges)."""
    if not path.startswith("$"):
        raise ValueError(f"JSON path must start with $: {path!r}")
    legs: list = []
    i = 1
    n = len(path)
    while i < n:
        c = path[i]
        if c == ".":
            i += 1
            if i < n and path[i] == '"':
                j = i + 1
                out = []
                while j < n and path[j] != '"':
                    if path[j] == "\\" and j + 1 < n:
                        out.append(path[j + 1])
                        j += 2
                    else:
                        out.append(path[j])
                        j += 1
                if j >= n:
                    raise ValueError(f"unterminated quoted member in {path!r}")
                legs.append("".join(out))
                i = j + 1
            else:
                j = i
                while j < n and path[j] not in ".[":
                    j += 1
                if j == i:
                    raise ValueError(f"empty member name in {path!r}")
                legs.append(path[i:j])
                i = j
        elif c == "[":
            j = path.index("]", i)
            legs.append(int(path[i + 1 : j]))
            i = j + 1
        else:
            raise ValueError(f"bad JSON path syntax at {i} in {path!r}")
    return legs


def _json_canonical(obj):
    """Recursively re-order object keys by (byte-length, bytes) — the
    storage order of MySQL's binary JSON, hence the order a full
    after-image would decode to. Applying diffs must land in the same
    canonical text as the equivalent non-partial update."""
    if isinstance(obj, dict):
        return {
            k: _json_canonical(obj[k])
            for k in sorted(obj, key=lambda s: (len(s.encode()), s.encode()))
        }
    if isinstance(obj, list):
        return [_json_canonical(x) for x in obj]
    return obj


def _apply_json_diffs(before_text: str | None, diffs: list[tuple]) -> str | None:
    """Json_diff apply semantics (sql/json_diff.cc apply_json_diff):
    REPLACE sets an existing path, INSERT adds a new member / splices an
    array element (index past the end appends), REMOVE deletes the
    path. A missing/invalid path raises — MySQL falls back to a full
    value in that case, so hitting one in a binlog means corruption."""
    import json

    if not diffs:
        return before_text  # empty vector: value unchanged
    if before_text is None:
        raise ValueError("JSON partial update against a NULL before-image")
    doc = json.loads(before_text)
    for opn, path, val in diffs:
        legs = _parse_json_path(path)
        if not legs:
            if opn != _JDIFF_REPLACE:
                raise ValueError(f"diff op {opn} on root path $")
            doc = val
            continue
        parent = doc
        for leg in legs[:-1]:
            if isinstance(parent, dict) and isinstance(leg, str) and leg in parent:
                parent = parent[leg]
            elif isinstance(parent, list) and isinstance(leg, int) and leg < len(parent):
                parent = parent[leg]
            else:
                raise ValueError(f"JSON diff path {path!r} not found")
        last = legs[-1]
        if opn == _JDIFF_REPLACE:
            if isinstance(parent, dict) and isinstance(last, str) and last in parent:
                parent[last] = val
            elif isinstance(parent, list) and isinstance(last, int) and last < len(parent):
                parent[last] = val
            else:
                raise ValueError(f"REPLACE path {path!r} not found")
        elif opn == _JDIFF_INSERT:
            if isinstance(parent, dict) and isinstance(last, str) and last not in parent:
                parent[last] = val
            elif isinstance(parent, list) and isinstance(last, int):
                parent.insert(min(last, len(parent)), val)
            else:
                raise ValueError(f"INSERT path {path!r} invalid or exists")
        else:  # REMOVE
            if isinstance(parent, dict) and isinstance(last, str) and last in parent:
                del parent[last]
            elif isinstance(parent, list) and isinstance(last, int) and last < len(parent):
                del parent[last]
            else:
                raise ValueError(f"REMOVE path {path!r} not found")
    return json.dumps(
        _json_canonical(doc), separators=(",", ":"), ensure_ascii=False
    )


# --- column spec: Spark StructType <-> TABLE_MAP types/metadata --------------


class _Col:
    __slots__ = ("name", "type_code", "meta", "extra", "unsigned", "charset")

    def __init__(
        self,
        name: str,
        type_code: int,
        meta: bytes,
        extra=None,
        unsigned: bool = False,
        charset: str = "utf8",
    ):
        self.name, self.type_code, self.meta, self.extra = (
            name,
            type_code,
            meta,
            extra,
        )
        self.unsigned = unsigned
        self.charset = charset


# Column character sets the value codec decodes. MySQL's ascii and
# utf8mb3/utf8mb4 are all byte-compatible with Python's utf-8 codec;
# latin1 is MySQL's default on pre-8.0 servers and the one single-byte
# set worth a native decode path (every byte 0x00-0xFF is a defined
# character); the double-byte sets — gbk (CP936, lead 0x81-0xFE /
# trail 0x40-0xFE minus 0x7F), sjis (Shift_JIS, leads 0x81-0x9F +
# 0xE0-0xEF) and its Windows superset cp932 (leads through 0xFC) —
# decode through Python's C codecs, which implement the same tables
# MySQL collates over and raise on malformed sequences, keeping the
# failfast contract. Anything else must be transcoded upstream — the
# codec raises pointedly rather than mojibake a decode.
_CHARSET_CODECS = {
    "utf8": "utf-8", "latin1": "latin-1", "gbk": "gbk",
    "sjis": "shift_jis", "cp932": "cp932",
}
# charset -> max bytes per character (the CHAR(n) byte-width factor)
_CHARSET_MBMAXLEN = {"utf8": 4, "latin1": 1, "gbk": 2, "sjis": 2,
                     "cp932": 2}


def _charset_codec(charset: str, where: str) -> str:
    try:
        return _CHARSET_CODECS[charset]
    except KeyError:
        raise ValueError(
            f"{where}: character set {charset!r} is outside this "
            f"engine's codec space (supported: {sorted(_CHARSET_CODECS)})"
        ) from None


def _char_meta(byte_len: int) -> bytes:
    """TABLE_MAP metadata for CHAR(n): Field_string::do_save_field_metadata
    (public sql/field.cc) packs the field's max BYTE length (chars x
    charset mbmaxlen, up to 1023) into two bytes —
    m0 = 254 ^ ((len & 0x300) >> 4), m1 = len & 0xFF. The XOR clears
    bits that are always set in code 254, which is how readers tell
    CHAR metadata from ENUM/SET metadata (whose m0 is the real type
    byte 247/248, both with the 0x30 bits set)."""
    if not 0 <= byte_len <= 1023:
        raise ValueError(f"CHAR byte length {byte_len} outside 0..1023")
    return bytes([TY_STRING ^ ((byte_len & 0x300) >> 4), byte_len & 0xFF])


def _string_meta(meta: bytes) -> tuple[int, int]:
    """Decode TY_STRING (254) metadata -> (real_type, arg): ENUM/SET
    give (247|248, pack_width); CHAR gives (254, max_byte_length).
    The inverse of _char_meta / the enum-set pack bytes — the same
    branch every public replication client implements."""
    m0, m1 = meta[0], meta[1]
    if (m0 & 0x30) != 0x30:
        # long CHAR: the XORed-out 0x30 bits carry length bits 8-9
        return m0 | 0x30, m1 | (((m0 & 0x30) ^ 0x30) << 4)
    return m0, m1


# fixture-writer metadata kinds for UNSIGNED MySQL columns -> wire code
_UNSIGNED_KINDS = {
    "tinyint_unsigned": TY_TINY,
    "smallint_unsigned": TY_SHORT,
    "mediumint_unsigned": TY_INT24,
    "int_unsigned": TY_LONG,
    "bigint_unsigned": TY_LONGLONG,
}


def _cols_from_schema(target: T.StructType) -> list[_Col]:
    cols: list[_Col] = []
    for f in target.fields:
        md = f.metadata or {}
        kind = md.get("mysql_type")
        dt = f.dataType
        if kind == "enum":
            values = md["values"]
            pack = 1 if len(values) < 256 else 2
            cols.append(_Col(f.name, TY_STRING, bytes([TY_ENUM, pack]), values))
        elif kind == "set":
            values = md["values"]
            nb = (len(values) + 7) // 8
            cols.append(_Col(f.name, TY_STRING, bytes([TY_SET, nb]), values))
        elif kind == "bit":
            bits = int(md.get("bits", 64))
            cols.append(_Col(f.name, TY_BIT, bytes([bits % 8, bits // 8])))
        elif kind == "year":
            cols.append(_Col(f.name, TY_YEAR, b""))
        elif kind == "mediumint":
            cols.append(_Col(f.name, TY_INT24, b""))
        elif kind in _UNSIGNED_KINDS:
            # UNSIGNED column: wire code is the narrow MySQL type, the
            # SIGNEDNESS TLV marks it unsigned, and the declared Spark
            # type must hold the full unsigned range (BIGINT UNSIGNED:
            # LongType, range-checked at decode)
            wire = _UNSIGNED_KINDS[kind]
            ok_types = {
                TY_TINY: (T.ShortType, T.IntegerType, T.LongType),
                TY_SHORT: (T.IntegerType, T.LongType),
                TY_INT24: (T.IntegerType, T.LongType),
                TY_LONG: (T.LongType,),
                TY_LONGLONG: (T.LongType,),
            }[wire]
            if not isinstance(dt, ok_types):
                raise TypeError(
                    f"{f.name}: {kind} needs a Spark type wide enough "
                    f"for its unsigned range (one of {ok_types}), got {dt}"
                )
            cols.append(_Col(f.name, wire, b"", unsigned=True))
        elif kind == "time":
            fsp = int(md.get("fsp", 0))
            if not 0 <= fsp <= 6:
                raise TypeError(f"{f.name}: TIME fsp {fsp} outside 0..6")
            cols.append(_Col(f.name, TY_TIME2, bytes([fsp])))
        elif kind == "char":
            # fixed-width CHAR(n): metadata carries the max BYTE length
            # = chars x charset mbmaxlen (utf8mb4: 4; gbk: 2; latin1: 1)
            cs = str(md.get("charset", "utf8"))
            _charset_codec(cs, f.name)
            n = int(md.get("char_len", 1))
            blen = int(md.get("char_bytes", n * _CHARSET_MBMAXLEN[cs]))
            cols.append(
                _Col(f.name, TY_STRING, _char_meta(blen), charset=cs)
            )
        elif kind == "text":
            # MySQL TEXT: the BLOB wire code (252) with a character
            # set (utf-8 on modern servers; latin1 supported) — the
            # extra marker tells the value codec to surface str, not
            # bytes
            cs = str(md.get("charset", "utf8"))
            _charset_codec(cs, f.name)
            cols.append(
                _Col(f.name, TY_BLOB, bytes([2]), extra="text", charset=cs)
            )
        elif kind == "timestamp_v1":
            cols.append(_Col(f.name, TY_TIMESTAMP_V1, b""))
        elif kind == "datetime_v1":
            cols.append(_Col(f.name, TY_DATETIME_V1, b""))
        elif kind == "time_v1":
            cols.append(_Col(f.name, TY_TIME_V1, b""))
        elif kind == "json":
            # carried as StringType text; wire value is the binary tree
            cols.append(_Col(f.name, TY_JSON, bytes([4])))
        elif kind == "geometry":
            # BinaryType passthrough of MySQL's value: SRID(4 LE) + WKB
            cols.append(_Col(f.name, TY_GEOMETRY, bytes([4])))
        elif isinstance(dt, T.ByteType):
            cols.append(_Col(f.name, TY_TINY, b""))
        elif isinstance(dt, T.ShortType):
            cols.append(_Col(f.name, TY_SHORT, b""))
        elif isinstance(dt, T.IntegerType):
            cols.append(_Col(f.name, TY_LONG, b""))
        elif isinstance(dt, T.LongType):
            cols.append(_Col(f.name, TY_LONGLONG, b""))
        elif isinstance(dt, T.FloatType):
            cols.append(_Col(f.name, TY_FLOAT, bytes([4])))
        elif isinstance(dt, T.DoubleType):
            cols.append(_Col(f.name, TY_DOUBLE, bytes([8])))
        elif isinstance(dt, T.DecimalType):
            cols.append(
                _Col(f.name, TY_NEWDECIMAL, bytes([dt.precision, dt.scale]))
            )
        elif isinstance(dt, T.StringType):
            cs = str(md.get("charset", "utf8"))
            _charset_codec(cs, f.name)
            maxlen = int(md.get("varchar_len", 255))
            cols.append(
                _Col(f.name, TY_VARCHAR, struct.pack("<H", maxlen),
                     charset=cs)
            )
        elif isinstance(dt, T.BinaryType):
            cols.append(_Col(f.name, TY_BLOB, bytes([2])))
        elif isinstance(dt, T.DateType):
            cols.append(_Col(f.name, TY_DATE, b""))
        elif isinstance(dt, T.TimestampType):
            fsp = int(md.get("fsp", 6))
            if kind == "timestamp":
                # a real server logs TIMESTAMP under wire code 17
                # (4-byte big-endian UTC seconds + packed fraction),
                # DATETIME under 18 — the DDL schema-history path
                # needs both distinguishable (advisor finding, r13)
                cols.append(_Col(f.name, TY_TIMESTAMP2, bytes([fsp])))
            else:
                cols.append(_Col(f.name, TY_DATETIME2, bytes([fsp])))
        else:
            raise TypeError(f"unsupported binlog column type {dt} ({f.name})")
    return cols


def _encode_col(col: _Col, v) -> bytes:
    tc = col.type_code
    if col.unsigned:
        if tc == TY_TINY:
            return struct.pack("<B", v)
        if tc == TY_SHORT:
            return struct.pack("<H", v)
        if tc == TY_INT24:
            if not 0 <= v < (1 << 24):
                raise ValueError(f"MEDIUMINT UNSIGNED out of range: {v}")
            return v.to_bytes(3, "little")
        if tc == TY_LONG:
            return struct.pack("<I", v)
        if tc == TY_LONGLONG:
            return struct.pack("<Q", v)
    if tc == TY_TINY:
        return struct.pack("<b", v)
    if tc == TY_SHORT:
        return struct.pack("<h", v)
    if tc == TY_LONG:
        return struct.pack("<i", v)
    if tc == TY_LONGLONG:
        return struct.pack("<q", v)
    if tc == TY_INT24:
        if not -(1 << 23) <= v < (1 << 23):
            raise ValueError(f"MEDIUMINT out of range: {v}")
        return (v & 0xFFFFFF).to_bytes(3, "little")
    if tc == TY_TIME2:
        return _encode_time2(v, col.meta[0] if col.meta else 0)
    if tc == TY_TIMESTAMP_V1:
        return _encode_timestamp_v1(v)
    if tc == TY_DATETIME_V1:
        return _encode_datetime_v1(v)
    if tc == TY_TIME_V1:
        return _encode_time_v1(v)
    if tc == TY_FLOAT:
        return struct.pack("<f", v)
    if tc == TY_DOUBLE:
        return struct.pack("<d", v)
    if tc == TY_NEWDECIMAL:
        return _encode_newdecimal(v, col.meta[0], col.meta[1])
    if tc == TY_VARCHAR:
        raw = v.encode(_charset_codec(col.charset, col.name))
        maxlen = struct.unpack("<H", col.meta)[0]
        pre = struct.pack("<H", len(raw)) if maxlen > 255 else bytes([len(raw)])
        return pre + raw
    if tc == TY_BLOB:
        raw = (
            v.encode(_charset_codec(col.charset, col.name))
            if col.extra == "text"
            else bytes(v)
        )
        return len(raw).to_bytes(col.meta[0], "little") + raw
    if tc == TY_JSON:
        raw = _encode_json_text(v)
        return len(raw).to_bytes(col.meta[0], "little") + raw
    if tc == TY_GEOMETRY:
        raw = bytes(v)  # SRID-prefixed WKB, opaque passthrough
        return len(raw).to_bytes(col.meta[0], "little") + raw
    if tc == TY_DATE:
        packed = (v.year << 9) | (v.month << 5) | v.day
        return packed.to_bytes(3, "little")
    if tc == TY_YEAR:
        return bytes([v - 1900])
    if tc == TY_DATETIME2:
        return _encode_datetime2(v, col.meta[0])
    if tc == TY_TIMESTAMP2:
        return _encode_timestamp2(v, col.meta[0])
    if tc == TY_BIT:
        nbytes = col.meta[1] + (1 if col.meta[0] else 0)
        return int(v).to_bytes(nbytes, "big")
    if tc == TY_STRING:  # enum / set / fixed-width CHAR(n)
        real, arg = _string_meta(col.meta)
        if real == TY_STRING:
            # CHAR(n): length-prefixed like VARCHAR (prefix width from
            # the declared max BYTE length), trailing pad spaces
            # stripped on pack — Field_string::pack's behavior, which
            # is why CHAR roundtrips without its padding
            raw = v.rstrip(" ").encode(_charset_codec(col.charset, col.name))
            if len(raw) > arg:
                raise ValueError(
                    f"column {col.name}: CHAR value {len(raw)}B exceeds "
                    f"the declared max byte length {arg}"
                )
            pre = struct.pack("<H", len(raw)) if arg > 255 else bytes([len(raw)])
            return pre + raw
        values = col.extra
        if real == TY_ENUM:
            idx = values.index(v) + 1 if v in values else 0
            return idx.to_bytes(arg, "little")
        members = set(v.split(",")) if v else set()
        mask = sum(1 << i for i, m in enumerate(values) if m in members)
        return mask.to_bytes(arg, "little")
    raise TypeError(f"unsupported type code {tc}")


def _decode_col(col: _Col, buf: bytes, pos: int):
    tc = col.type_code
    if col.unsigned:
        # SIGNEDNESS-marked integer: zero-extend into the (wider,
        # _TableDef-verified) signed target; BIGINT UNSIGNED range-
        # checks so a top-half value raises instead of wrapping
        if tc == TY_TINY:
            return buf[pos], pos + 1
        if tc == TY_SHORT:
            return struct.unpack_from("<H", buf, pos)[0], pos + 2
        if tc == TY_LONG:
            return struct.unpack_from("<I", buf, pos)[0], pos + 4
        if tc == TY_INT24:
            return int.from_bytes(buf[pos : pos + 3], "little"), pos + 3
        if tc == TY_LONGLONG:
            u = struct.unpack_from("<Q", buf, pos)[0]
            if u >= 1 << 63:
                raise ValueError(
                    f"column {col.name}: BIGINT UNSIGNED value {u} "
                    "exceeds the signed 64-bit range LongType can hold"
                )
            return u, pos + 8
    if tc == TY_TINY:
        return struct.unpack_from("<b", buf, pos)[0], pos + 1
    if tc == TY_SHORT:
        return struct.unpack_from("<h", buf, pos)[0], pos + 2
    if tc == TY_LONG:
        return struct.unpack_from("<i", buf, pos)[0], pos + 4
    if tc == TY_LONGLONG:
        return struct.unpack_from("<q", buf, pos)[0], pos + 8
    if tc == TY_INT24:
        u = int.from_bytes(buf[pos : pos + 3], "little")
        return (u - (1 << 24) if u >= (1 << 23) else u), pos + 3
    if tc == TY_TIME2:
        return _decode_time2(buf, pos, col.meta[0] if col.meta else 0)
    if tc == TY_TIMESTAMP_V1:
        return _decode_timestamp_v1(buf, pos)
    if tc == TY_DATETIME_V1:
        return _decode_datetime_v1(buf, pos)
    if tc == TY_TIME_V1:
        return _decode_time_v1(buf, pos)
    if tc == TY_FLOAT:
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if tc == TY_DOUBLE:
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if tc == TY_NEWDECIMAL:
        return _decode_newdecimal(buf, pos, col.meta[0], col.meta[1])
    if tc == TY_VARCHAR:
        maxlen = struct.unpack("<H", col.meta)[0]
        if maxlen > 255:
            n = struct.unpack_from("<H", buf, pos)[0]
            pos += 2
        else:
            n = buf[pos]
            pos += 1
        return (
            buf[pos : pos + n].decode(_charset_codec(col.charset, col.name)),
            pos + n,
        )
    if tc == TY_BLOB:
        nb = col.meta[0]
        n = int.from_bytes(buf[pos : pos + nb], "little")
        pos += nb
        raw = bytes(buf[pos : pos + n])
        if col.extra == "text":
            return raw.decode(_charset_codec(col.charset, col.name)), pos + n
        return raw, pos + n
    if tc == TY_JSON:
        nb = col.meta[0]
        n = int.from_bytes(buf[pos : pos + nb], "little")
        pos += nb
        return _decode_json_binary(buf[pos : pos + n]), pos + n
    if tc == TY_GEOMETRY:
        nb = col.meta[0]
        n = int.from_bytes(buf[pos : pos + nb], "little")
        pos += nb
        return bytes(buf[pos : pos + n]), pos + n
    if tc == TY_DATE:
        packed = int.from_bytes(buf[pos : pos + 3], "little")
        return (
            _dt.date(packed >> 9, (packed >> 5) & 0x0F, packed & 0x1F),
            pos + 3,
        )
    if tc == TY_YEAR:
        return 1900 + buf[pos], pos + 1
    if tc == TY_DATETIME2:
        return _decode_datetime2(buf, pos, col.meta[0])
    if tc == TY_TIMESTAMP2:
        return _decode_timestamp2(buf, pos, col.meta[0])
    if tc == TY_BIT:
        nbytes = col.meta[1] + (1 if col.meta[0] else 0)
        return int.from_bytes(buf[pos : pos + nbytes], "big"), pos + nbytes
    if tc == TY_STRING:
        real, arg = _string_meta(col.meta)
        if real == TY_STRING:  # CHAR(n): length-prefixed bytes
            if arg > 255:
                n = struct.unpack_from("<H", buf, pos)[0]
                pos += 2
            else:
                n = buf[pos]
                pos += 1
            return (
                buf[pos : pos + n].decode(
                    _charset_codec(col.charset, col.name)
                ),
                pos + n,
            )
        values = col.extra
        n = int.from_bytes(buf[pos : pos + arg], "little")
        pos += arg
        if real == TY_ENUM:
            return (values[n - 1] if 1 <= n <= len(values) else ""), pos
        return (
            ",".join(m for i, m in enumerate(values) if n & (1 << i)),
            pos,
        )
    raise TypeError(f"unsupported type code {tc}")


# --- metadata block parse (reader side: TABLE_MAP drives decode) -------------

_META_WIDTH = {
    TY_FLOAT: 1,
    TY_DOUBLE: 1,
    TY_NEWDECIMAL: 2,
    TY_VARCHAR: 2,
    TY_BLOB: 1,
    TY_JSON: 1,
    TY_GEOMETRY: 1,
    TY_BIT: 2,
    TY_DATETIME2: 1,
    TY_TIMESTAMP2: 1,
    TY_TIME2: 1,
    TY_STRING: 2,
}


def _split_metadata(types: bytes, meta: bytes) -> list[bytes]:
    out, i = [], 0
    for tc in types:
        w = _META_WIDTH.get(tc, 0)
        out.append(meta[i : i + w])
        i += w
    return out


# --- fixture writer ----------------------------------------------------------


def _event(
    ts: int,
    type_code: int,
    server_id: int,
    body: bytes,
    pos: int,
    checksum: bool,
) -> bytes:
    size = _HEADER_LEN + len(body) + (4 if checksum else 0)
    header = _HEADER.pack(ts, type_code, server_id, size, pos + size, 0)
    ev = header + body
    if checksum:
        ev += struct.pack("<I", zlib.crc32(ev))
    return ev


_POST_HEADER_LENS = {
    EV_ROTATE: 8,
    EV_FORMAT_DESCRIPTION: 84,
    EV_XID: 0,
    EV_TABLE_MAP: 8,
    EV_WRITE_ROWS_V2: 10,
    EV_UPDATE_ROWS_V2: 10,
    EV_DELETE_ROWS_V2: 10,
    EV_GTID: 42,
}


def _fde_body(checksum: bool) -> bytes:
    n_types = 40
    lens = bytearray(n_types)
    for tc, ln in _POST_HEADER_LENS.items():
        lens[tc - 1] = ln
    return (
        struct.pack("<H", 4)
        + b"8.0.0-spark-graft".ljust(50, b"\x00")
        + struct.pack("<I", 0)
        + bytes([_HEADER_LEN])
        + bytes(lens)
        + bytes([1 if checksum else 0])
    )


def _image(row: dict, cols: list[_Col], present: list[int]) -> bytes:
    # null bitmap has one bit per PRESENT column (binlog_row_image may
    # omit columns entirely — MINIMAL before-images carry only the key)
    nb = bytearray((len(present) + 7) // 8)
    vals = bytearray()
    for k, j in enumerate(present):
        v = row.get(cols[j].name)
        if v is None:
            nb[k // 8] |= 1 << (k % 8)
        else:
            vals += _encode_col(cols[j], v)
    return bytes(nb) + bytes(vals)


def _image_partial(
    after: dict, cols: list[_Col], present: list[int], diffs_by_col: dict
) -> bytes:
    """PARTIAL_UPDATE_ROWS after-image: value_options packed int, then
    partial_bits (one bit per JSON column of the TABLE, in column
    order — table_def::json_column_count() semantics), then the normal
    null bitmap + values, with partial columns carrying a
    Json_diff_vector instead of a full document."""
    json_cols = [i for i, c in enumerate(cols) if c.type_code == TY_JSON]
    unknown = set(diffs_by_col) - {cols[i].name for i in json_cols}
    if unknown:
        raise ValueError(f"partial diffs for non-JSON columns: {unknown}")
    out = bytearray(_pack_int(1))  # value_options: PARTIAL_JSON
    bits = bytearray((len(json_cols) + 7) // 8)
    for k, i in enumerate(json_cols):
        if cols[i].name in diffs_by_col:
            bits[k // 8] |= 1 << (k % 8)
    out += bytes(bits)
    nb = bytearray((len(present) + 7) // 8)
    vals = bytearray()
    for k, j in enumerate(present):
        c = cols[j]
        if c.name in diffs_by_col:
            vals += _encode_json_diff_vector(diffs_by_col[c.name])
            continue
        v = after.get(c.name)
        if v is None:
            nb[k // 8] |= 1 << (k % 8)
        else:
            vals += _encode_col(c, v)
    return bytes(out) + bytes(nb) + bytes(vals)


def _present_bitmap(present: list[int], ncols: int) -> bytes:
    bm = bytearray((ncols + 7) // 8)
    for j in present:
        bm[j // 8] |= 1 << (j % 8)
    return bytes(bm)


# TABLE_MAP optional-metadata TLV type codes (public format,
# libbinlogevents rows_event.h Table_map_event::Optional_metadata_field_type)
_TM_SIGNEDNESS = 1
_TM_COLUMN_NAME = 4
_TM_SET_STR_VALUE = 5
_TM_ENUM_STR_VALUE = 6

_NUMERIC_TYPE_CODES = frozenset(
    (TY_TINY, TY_SHORT, TY_INT24, TY_LONG, TY_LONGLONG, TY_FLOAT,
     TY_DOUBLE, TY_NEWDECIMAL)
)


def _table_map_body(
    table_id: int,
    db: str,
    table: str,
    cols: list[_Col],
    row_metadata: str = "minimal",
) -> bytes:
    body = table_id.to_bytes(6, "little") + struct.pack("<H", 1)
    body += bytes([len(db)]) + db.encode() + b"\x00"
    body += bytes([len(table)]) + table.encode() + b"\x00"
    body += _pack_int(len(cols)) + bytes(c.type_code for c in cols)
    meta = b"".join(c.meta for c in cols)
    body += _pack_int(len(meta)) + meta
    body += bytes((len(cols) + 7) // 8)  # nullability bitmap (all nullable ok)

    def tlv(t: int, v: bytes) -> bytes:
        return bytes([t]) + _pack_int(len(v)) + v

    def signedness_bitmap() -> bytes:
        # one bit per NUMERIC column, MSB-first within each byte;
        # set bit = UNSIGNED
        n_numeric = sum(1 for c in cols if c.type_code in _NUMERIC_TYPE_CODES)
        bm = bytearray((n_numeric + 7) // 8)
        k = 0
        for c in cols:
            if c.type_code in _NUMERIC_TYPE_CODES:
                if c.unsigned:
                    bm[k // 8] |= 0x80 >> (k % 8)
                k += 1
        return bytes(bm)

    if row_metadata != "full" and any(c.unsigned for c in cols):
        # real MySQL 8 writes the SIGNEDNESS TLV even at the default
        # binlog_row_metadata=MINIMAL — emulate that so the reader's
        # unsigned handling is exercised on MINIMAL files too
        body += tlv(_TM_SIGNEDNESS, signedness_bitmap())
    if row_metadata == "full":
        # binlog_row_metadata=FULL (MySQL 8.0.1+): TLVs appended after
        # the null bitmap — type(1) + packed length + value
        if any(c.type_code in _NUMERIC_TYPE_CODES for c in cols):
            body += tlv(_TM_SIGNEDNESS, signedness_bitmap())
        names = b"".join(
            _pack_int(len(c.name.encode())) + c.name.encode() for c in cols
        )
        body += tlv(_TM_COLUMN_NAME, names)
        for kind, code in ((TY_SET, _TM_SET_STR_VALUE),
                           (TY_ENUM, _TM_ENUM_STR_VALUE)):
            vals = b""
            for c in cols:
                if c.type_code == TY_STRING and c.meta[0] == kind:
                    vals += _pack_int(len(c.extra))
                    for v in c.extra:
                        vals += _pack_int(len(v.encode())) + v.encode()
            if vals:
                body += tlv(code, vals)
    return body


def _rows_body(
    type_code: int,
    table_id: int,
    cols: list[_Col],
    images: list[dict],
    before_present: list[int] | None = None,
) -> bytes:
    """``before_present``: column indices carried by before-images
    (update events only) — MINIMAL row image sends just the key there;
    None means FULL (all columns) on both sides."""
    ncols = len(cols)
    all_cols = list(range(ncols))
    p1 = before_present if before_present is not None else all_cols
    body = table_id.to_bytes(6, "little") + struct.pack("<H", 0)
    body += struct.pack("<H", 2)  # v2 extra-data length (no extra)
    body += _pack_int(ncols)
    if type_code == EV_PARTIAL_UPDATE_ROWS:
        # images: [(before_dict, after_dict, {json_col: [diff,...]}), ...]
        body += _present_bitmap(p1, ncols)
        body += _present_bitmap(all_cols, ncols)
        for before, after, diffs in images:
            body += _image(before, cols, p1)
            body += _image_partial(after, cols, all_cols, diffs)
    elif type_code == EV_UPDATE_ROWS_V2:
        body += _present_bitmap(p1, ncols)
        body += _present_bitmap(all_cols, ncols)
        for k, img in enumerate(images):
            body += _image(img, cols, p1 if k % 2 == 0 else all_cols)
    else:
        body += _present_bitmap(all_cols, ncols)
        for img in images:
            body += _image(img, cols, all_cols)
    return body


def _payload_body(inner: bytes, compression: int = 255) -> bytes:
    """Wrap an embedded event stream as a TRANSACTION_PAYLOAD body
    (<type,len,value> items, end mark, then the payload bytes). With
    compression ZSTD the payload is the zstd frame of ``inner`` and
    UNCOMPRESSED_SIZE carries the original length, as MySQL writes it."""
    def tlv(t: int, value: bytes) -> bytes:
        return _pack_int(t) + _pack_int(len(value)) + value

    payload = zstd_compress(inner) if compression == _TP_ZSTD else inner
    return (
        tlv(_TP_COMPRESSION_TYPE, _pack_int(compression))
        + tlv(_TP_UNCOMPRESSED_SIZE, _pack_int(len(inner)))
        + tlv(_TP_PAYLOAD_SIZE, _pack_int(len(payload)))
        + _pack_int(_TP_END_MARK)
        + payload
    )


def _txn_rows_body(table_id: int, cols: list[_Col], txn: dict) -> tuple[int, bytes]:
    """Transaction op dispatch -> (rows event type code, event body)."""
    op = txn["op"]
    if op == "w":
        return EV_WRITE_ROWS_V2, _rows_body(
            EV_WRITE_ROWS_V2, table_id, cols, txn["rows"]
        )
    if op == "d":
        return EV_DELETE_ROWS_V2, _rows_body(
            EV_DELETE_ROWS_V2, table_id, cols, txn["rows"]
        )
    if op == "pu":
        # binlog_row_value_options=PARTIAL_JSON update: rows are
        # (before, after, {json_col: [(op, path, value), ...]})
        return EV_PARTIAL_UPDATE_ROWS, _rows_body(
            EV_PARTIAL_UPDATE_ROWS,
            table_id,
            cols,
            txn["rows"],
            before_present=txn.get("before_present"),
        )
    images = [img for pair in txn["rows"] for img in pair]
    # binlog_row_image=MINIMAL: before-images carry only the listed
    # columns (typically the primary key)
    return EV_UPDATE_ROWS_V2, _rows_body(
        EV_UPDATE_ROWS_V2, table_id, cols, images,
        before_present=txn.get("before_present"),
    )


def build_binlog_file_multi(
    streams: list[dict],
    *,
    server_id: int = 1,
    sid: bytes = b"\x11" * 16,
    checksum: bool = False,
    base_ts: int = 1_700_000_000,
) -> bytes:
    """Multi-table binlog fixture: ``streams`` entries are
    ``{"db", "table", "target", "table_id", "txns"}``; transactions
    INTERLEAVE across tables in global gno order (ties by stream
    order), the way concurrent sessions against different tables land
    in a real server's binlog. Every transaction re-emits its table's
    TABLE_MAP before its rows event (MySQL's own behavior), which is
    exactly the interleaving that breaks the reference's
    rebuild-table_def-from-every-map reader
    (binlog_table_reader.cc:402-403)."""
    metas = [
        (s["db"], s["table"], int(s["table_id"]), _cols_from_schema(s["target"]))
        for s in streams
    ]
    out = bytearray(BINLOG_MAGIC)

    def emit(tc: int, body: bytes, ts: int) -> None:
        out.extend(_event(ts, tc, server_id, body, len(out), checksum))

    emit(EV_FORMAT_DESCRIPTION, _fde_body(checksum), base_ts)
    items = sorted(
        (
            (txn["gno"], si, txn)
            for si, s in enumerate(streams)
            for txn in s["txns"]
        ),
        key=lambda item: (item[0], item[1]),  # never compare the txn dicts
    )
    for i, (gno, si, txn) in enumerate(items):
        db, table, table_id, cols = metas[si]
        ts = base_ts + i
        emit(EV_GTID, bytes([1]) + sid + struct.pack("<q", gno), ts)
        emit(EV_TABLE_MAP, _table_map_body(table_id, db, table, cols), ts)
        rows_tc, body = _txn_rows_body(table_id, cols, txn)
        emit(rows_tc, body, ts)
    return bytes(out)


def build_binlog_file(
    db: str,
    table: str,
    target: T.StructType,
    txns: list[dict],
    *,
    server_id: int = 1,
    table_id: int = 23,
    sid: bytes = b"\x11" * 16,
    checksum: bool = False,
    base_ts: int = 1_700_000_000,
    payload_wrap: bool | str = False,
    row_metadata: str = "minimal",
    previous_gtids: dict[bytes, list[tuple[int, int]]] | None = None,
    rotate_to: str | None = None,
) -> bytes:
    """Byte-exact binlog v4 fixture: magic + FDE, then per transaction a
    GTID event, a TABLE_MAP, and one rows event. ``txns`` entries:
    ``{"gno": int, "op": "w"|"u"|"d", "rows": [row_dict, ...]}`` where
    update rows are ``(before_dict, after_dict)`` pairs.

    ``previous_gtids`` ({sid: [(first_gno, one_past_last), ...]}) writes
    a PREVIOUS_GTIDS_LOG_EVENT right after the FDE — the file-head
    summary of every GTID in earlier files that MySQL has written since
    5.6, and the mechanism a GTID-positioned reader uses to skip whole
    files without walking them (scan_binlog_splits_file's
    start_after_gno/stop_at_gno bounds).

    ``payload_wrap=True`` models binlog_transaction_compression: each
    transaction's TABLE_MAP + rows events are embedded (checksum-free)
    in one TRANSACTION_PAYLOAD event after the GTID, compression NONE;
    ``payload_wrap="zstd"`` compresses each embedded stream the way
    MySQL 8.0.20+ does with binlog_transaction_compression=ON.

    A txn entry may carry ``"query": "<sql>"`` (ROWS_QUERY event, as
    binlog_rows_query_log_events=ON writes it). ``row_metadata="full"``
    appends the binlog_row_metadata=FULL TLVs (column names, enum/set
    values, signedness) to every TABLE_MAP."""
    cols = _cols_from_schema(target)
    out = bytearray(BINLOG_MAGIC)

    def emit(tc: int, body: bytes, ts: int) -> None:
        out.extend(_event(ts, tc, server_id, body, len(out), checksum))

    emit(EV_FORMAT_DESCRIPTION, _fde_body(checksum), base_ts)
    if previous_gtids is not None:
        emit(EV_PREVIOUS_GTIDS, _gtid_set_body(previous_gtids), base_ts)
    # one schema, one table -> one TABLE_MAP body for the whole file;
    # MySQL re-emits the EVENT per transaction (and so do we, below),
    # but the body bytes are invariant — building them once removed
    # ~16% of single-thread encode time on a 1-row-txn changelog
    tm_body = _table_map_body(
        table_id, db, table, cols, row_metadata=row_metadata
    )
    for i, txn in enumerate(txns):
        # a txn may pin its commit timestamp ("ts") — time-bounded scan
        # fixtures need wall-clock control; default keeps the original
        # one-second-per-txn cadence. It may also carry its own "sid"
        # (16 bytes): a multi-source replica's binlog interleaves
        # transactions from several origin servers, each stamping its
        # own server UUID in the GTID event.
        ts = int(txn.get("ts", base_ts + i))
        emit(
            EV_GTID,
            bytes([1]) + txn.get("sid", sid) + struct.pack("<q", txn["gno"]),
            ts,
        )
        # a DDL transaction: its own GTID followed by ONE Query_log_event
        # carrying the statement (how MySQL logs ALTER/CREATE under
        # GTID mode — no rows events). Wire body: thread_id u32,
        # exec_time u32, db_len u8, error_code u16, status_vars_len
        # u16, status_vars, db + NUL, statement text.
        if "ddl" in txn:
            dbb = db.encode()
            stmt = txn["ddl"].encode()
            qbody = (
                struct.pack("<IIBHH", 1, 0, len(dbb), 0, 0)
                + dbb
                + b"\x00"
                + stmt
            )
            emit(EV_QUERY, qbody, ts)
            continue
        rows_tc, body = _txn_rows_body(table_id, cols, txn)
        # binlog_rows_query_log_events=ON: the originating SQL rides a
        # ROWS_QUERY event between GTID and TABLE_MAP (MySQL's order).
        # Wire body: 1 length byte (min(len,255), informational — every
        # decoder reads the REST of the body as the query) + query text.
        rq = txn.get("query")
        rq_body = (
            bytes([min(len(rq.encode()), 255)]) + rq.encode()
            if rq is not None
            else None
        )
        if payload_wrap:
            inner = b""
            if rq_body is not None:
                inner = _event(ts, EV_ROWS_QUERY, server_id, rq_body, 0, False)
            inner += _event(
                ts, EV_TABLE_MAP, server_id, tm_body, len(inner), False
            )
            inner += _event(ts, rows_tc, server_id, body, len(inner), False)
            comp = _TP_ZSTD if payload_wrap == "zstd" else _TP_NONE
            emit(EV_TRANSACTION_PAYLOAD, _payload_body(inner, comp), ts)
        else:
            if rq_body is not None:
                emit(EV_ROWS_QUERY, rq_body, ts)
            emit(EV_TABLE_MAP, tm_body, ts)
            emit(rows_tc, body, ts)
    if rotate_to is not None:
        # Rotate_log_event: MySQL's file-chain link written as the last
        # event before switching to the next file — body = u64 position
        # in the next file (4, past its magic) + the next file's name
        emit(
            EV_ROTATE,
            struct.pack("<Q", 4) + rotate_to.encode(),
            base_ts + len(txns),
        )
    return bytes(out)


def binlog_file_rotate_target(path: str) -> str | None:
    """The next-file name from a sealed file's trailing ROTATE event
    (header walk; None when the file has no rotate — the active
    file)."""
    target: str | None = None
    with _mapped(path) as mm:
        for _off, _ts, tc, _size, body, _ck in _events(mm, where=f"{path}: "):
            if tc == EV_ROTATE:
                target = body[8:].decode("utf-8", "replace")
    return target


def _binlog_paths(path: str | None, index_file: str | None = None) -> list[str]:
    """The scan set, ordered by (rotation number, name): the files
    ``index_file`` lists (the reference's binlog.index; relative names
    resolve against its directory), else every file of a directory but
    ``_``/``.``-prefixed names and ``.index`` listings, else ``path``
    itself."""
    if index_file:
        base = os.path.dirname(os.path.abspath(index_file))
        with open(index_file) as fh:
            paths = [
                p if os.path.isabs(p) else os.path.join(base, p)
                for p in (line.strip() for line in fh)
                if p
            ]
        if not paths:
            raise ValueError(f"binlog index {index_file} lists no files")
    else:
        local = _strip_file_scheme(path)
        if os.path.isdir(local):
            paths = [
                os.path.join(local, n)
                for n in os.listdir(local)
                if not n.startswith(("_", ".")) and not n.endswith(".index")
            ]
        else:
            paths = [local]
    return sorted(paths, key=lambda p: (_file_seq_of(p), os.path.basename(p)))


def binlog_chain_gaps(path: str) -> list[tuple[str, str]]:
    """Series integrity audit off the ROTATE chain: each sealed file's
    rotate target must be the NEXT file present — a missing or
    renamed file in a retained/restored series surfaces as a
    (expected, found) gap tuple, BEFORE anything decodes garbage.
    Returns [] for an intact chain; the active (last) file may carry
    no rotate. The reference never validates the chain — it trusts
    the index file blindly (binlog_table_reader.cc:39-57)."""
    paths = _binlog_paths(path)
    gaps: list[tuple[str, str]] = []
    for i, p in enumerate(paths[:-1]):
        want = binlog_file_rotate_target(p)
        nxt = os.path.basename(paths[i + 1])
        if want is not None and want != nxt:
            gaps.append((want, nxt))
    return gaps


# --- reader ------------------------------------------------------------------


def _detect_checksum(ev: bytes) -> bool:
    # FDE in 5.6.1+ ends with [alg byte][crc32 of event minus crc]; verify
    # the crc so a stray 0x01 data byte can't fake a positive.
    if len(ev) < 24:
        return False
    if ev[-5] == 1:
        (crc,) = struct.unpack("<I", ev[-4:])
        return zlib.crc32(ev[:-4]) == crc
    return False


def _events(
    buf,
    start: int = 4,
    end: int | None = None,
    base: int = 0,
    checksum: bool | None = None,
    *,
    strict: bool = False,
    verify: bool = False,
    where: str = "",
) -> Iterator[tuple]:
    """The one binlog event walk: frames the events of ``buf[start:end]``
    (any bytes-like buffer, an mmap included) and yields ``(offset, ts,
    type, size, body, checksum)`` per event. ``offset`` is absolute
    (``base`` is the file offset of ``buf[0]``), ``body`` is the event
    minus its 19-byte header and CRC32 trailer, and ``checksum`` is the
    flag in effect, folded from each FORMAT_DESCRIPTION event (the
    ``checksum`` argument carries it into a mid-file walk). A walk that
    starts at offset 4 of a whole file checks the magic first;
    ``verify`` checks each event's CRC32.

    End of data: the walk stops at the first event whose header does
    not fit or whose size runs past ``end`` — the torn tail of an
    active file. That event's header ``log_pos`` must then be 0 (events
    embedded in a transaction payload) or its absolute end offset,
    which is what a writer stamps; anything else is a corrupt size
    field and raises instead of silently truncating the read. A torn
    tail stops quietly unless ``strict``, which raises on it and on a
    partial trailing header. ``where`` prefixes every error (the file
    path, when the caller opened the file)."""
    if end is None:
        end = len(buf)
    if start == 4 and base == 0 and buf[:4] != BINLOG_MAGIC:
        raise ValueError(f"{where}not a binlog file (bad magic)")
    unpack = _HEADER.unpack_from
    pos = start
    while pos + _HEADER_LEN <= end:
        ts, tc, _sid, size, log_pos, _flags = unpack(buf, pos)
        stop = pos + size
        if size < _HEADER_LEN or stop > end:
            if log_pos and log_pos != base + stop:
                raise ValueError(
                    f"{where}corrupt event size {size} at offset "
                    f"{base + pos}: it would end at {base + stop}, but "
                    f"the header's log_pos is {log_pos}"
                )
            if strict:
                raise ValueError(
                    f"{where}truncated/corrupt event at offset "
                    f"{base + pos} (size {size}, {end - pos} bytes left)"
                )
            return
        if tc == EV_FORMAT_DESCRIPTION:
            checksum = _detect_checksum(buf[pos:stop])
        elif checksum and verify:
            (want,) = struct.unpack_from("<I", buf, stop - 4)
            got = zlib.crc32(buf[pos : stop - 4])
            if got != want:
                raise ValueError(
                    f"{where}CRC32 mismatch on event at offset "
                    f"{base + pos} (type {tc}): stored {want:#010x}, "
                    f"computed {got:#010x} — corrupt or truncated binlog"
                )
        yield (
            base + pos, ts, tc, size,
            buf[pos + _HEADER_LEN : stop - 4 if checksum else stop],
            checksum,
        )
        pos = stop
    if strict and pos != end:
        raise ValueError(
            f"{where}{end - pos} trailing bytes after offset {base + pos} "
            "(partial event header)"
        )


@contextlib.contextmanager
def _mapped(path: str):
    """``path`` mapped read-only for an event walk (b"" when the file
    is empty, which mmap refuses)."""
    with open(path, "rb") as f:
        if os.fstat(f.fileno()).st_size == 0:
            yield b""
            return
        with mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ) as mm:
            yield mm


def _payload_events(body: bytes, event_seq: int):
    """The events embedded in a TRANSACTION_PAYLOAD body: checksum-free
    per the format, framed strictly (a payload holds no torn tail)."""
    return _events(
        _unwrap_transaction_payload(body, event_seq), 0, checksum=False,
        strict=True, where=f"transaction payload at offset {event_seq}: ",
    )


def _query_statement(body: bytes, offset: int) -> tuple[str, str] | None:
    """A QUERY event body -> (session database, statement), or None for
    transaction framing (BEGIN/COMMIT, empty). Public wire layout:
    thread_id u32, exec_time u32, db_len u8, error_code u16,
    status_vars_len u16, status vars, db + NUL, statement."""
    if len(body) < 13:
        raise ValueError(f"truncated QUERY event at offset {offset}")
    _tid, _ex, db_len, _err, sv_len = struct.unpack_from("<IIBHH", body, 0)
    p = 13 + sv_len
    db = body[p : p + db_len].decode("utf-8", "replace")
    stmt = body[p + db_len + 1 :].decode("utf-8", "replace")
    if stmt.strip().upper() in ("BEGIN", "COMMIT", ""):
        return None
    return db, stmt


class _TableDef:
    """Reader-side table_def: decode layout from the TABLE_MAP itself
    (reference binlog_table_reader.cc:393-408), names/extras from the
    user's target schema by POSITION (binlog carries no column names).

    Schema evolution: a TABLE_MAP with FEWER columns than the target is
    accepted when its type codes are a prefix of the target's — the
    add-column-at-end ALTER, the common evolution. Rows decoded under
    the old layout surface the new columns as None. More columns than
    the target (or a type change) still raises: decoding those by
    position would silently misalign values."""

    def __init__(
        self,
        db: str,
        table: str,
        types: bytes,
        metas: list[bytes],
        target_cols: list[_Col],
        opt: dict | None = None,
    ):
        if len(types) > len(target_cols):
            raise ValueError(
                f"TABLE_MAP has {len(types)} columns; target schema has "
                f"{len(target_cols)} — pass the stream's LATEST schema"
            )
        self.db, self.table = db, table
        # binlog_row_metadata=FULL: the wire carries names, enum/set
        # string values, and signedness — use them to HARDEN the
        # positional contract instead of trusting the user schema blind
        wire_names = opt["names"] if opt else None
        # SIGNEDNESS TLVs: real MySQL 8 writes them even at the default
        # binlog_row_metadata=MINIMAL, so rejecting any unsigned column
        # outright would make ubiquitous schemas (BIGINT UNSIGNED
        # auto-increment PKs) undecodable. Failfast only where
        # wrongness is possible: TINY/SHORT/INT24/LONG UNSIGNED decode
        # losslessly into a WIDER signed target column (the user's
        # schema must declare it — verified below); BIGINT UNSIGNED
        # decodes into LongType with a range check at decode time, so
        # values < 2^63 (every auto-inc PK in practice) flow and a
        # top-half value raises instead of silently wrapping negative.
        unsigned_idx = set(opt["unsigned"]) if opt else set()
        # wire code -> target codes whose signed range holds the full
        # unsigned range of the wire width
        _WIDEN_OK = {
            TY_TINY: (TY_SHORT, TY_LONG, TY_LONGLONG),
            TY_SHORT: (TY_LONG, TY_LONGLONG),
            TY_INT24: (TY_LONG, TY_LONGLONG),  # uint24 max < 2^31
            TY_LONG: (TY_LONGLONG,),
            TY_LONGLONG: (TY_LONGLONG,),  # range-checked at decode
        }
        if wire_names is not None:
            for j, (wn, tgt) in enumerate(zip(wire_names, target_cols)):
                if wn != tgt.name:
                    raise ValueError(
                        f"TABLE_MAP column #{j} is named {wn!r} on the "
                        f"wire but {tgt.name!r} in the target schema — "
                        "positional misalignment (binlog_row_metadata="
                        "FULL name check)"
                    )
        # pair enum/set value groups with TY_STRING columns of that kind
        wire_vals: dict[int, list[str]] = {}
        if opt:
            for key in ("enum_values", "set_values"):
                groups = opt.get(key) or {}
                if not groups:
                    continue
                kind, gs = groups["kind"], list(groups["groups"])
                for j, (tc, meta) in enumerate(zip(types, metas)):
                    if tc == TY_STRING and meta and meta[0] == kind and gs:
                        wire_vals[j] = gs.pop(0)
        self.cols = []
        for j, (tc, meta, tgt) in enumerate(zip(types, metas, target_cols)):
            if j in unsigned_idx or tgt.unsigned:
                allowed = _WIDEN_OK.get(tc)
                if allowed is None:
                    raise ValueError(
                        f"column {tgt.name}: SIGNEDNESS marks non-integer "
                        f"wire type {tc} unsigned — malformed metadata"
                    )
                # accepted targets: a plain WIDER signed type, or the
                # explicit *_unsigned declaration (whose Spark width
                # _cols_from_schema already verified)
                if not (
                    tgt.type_code in allowed
                    or (tgt.unsigned and tgt.type_code == tc)
                ):
                    raise ValueError(
                        f"column {tgt.name}: wire type {tc} is UNSIGNED "
                        f"(SIGNEDNESS metadata); declare a WIDER signed "
                        f"Spark type for it (accepted wire codes: "
                        f"{allowed}) so the top half of its range decodes "
                        "losslessly"
                    )
                self.cols.append(
                    _Col(tgt.name, tc, meta, wire_vals.get(j, tgt.extra),
                         unsigned=True, charset=tgt.charset)
                )
                continue
            if tc != tgt.type_code:
                raise ValueError(
                    f"column {tgt.name}: TABLE_MAP type {tc} != schema type {tgt.type_code}"
                )
            extra = wire_vals.get(j, tgt.extra)
            self.cols.append(
                _Col(tgt.name, tc, meta, extra, charset=tgt.charset)
            )


def _parse_optional_metadata(
    body: bytes, pos: int, types: bytes
) -> dict:
    """binlog_row_metadata=FULL TLVs after the null bitmap. Returns
    {"names": [str]|None, "enum_values": {col_idx: [str]},
    "set_values": {col_idx: [str]}, "unsigned": [col_idx]} — only the
    fields this reader consumes; unknown TLV types skip by length (the
    format's forward-compat contract)."""
    out: dict = {
        "names": None, "enum_values": {}, "set_values": {}, "unsigned": [],
    }
    numeric_idx = [
        j for j, tc in enumerate(types) if tc in _NUMERIC_TYPE_CODES
    ]
    while pos < len(body):
        t = body[pos]
        ln, pos = _read_packed_int(body, pos + 1)
        val = body[pos : pos + ln]
        pos += ln
        if t == _TM_SIGNEDNESS:
            # MSB-first bit per numeric column; set = UNSIGNED
            for k, j in enumerate(numeric_idx):
                if k // 8 < len(val) and val[k // 8] & (0x80 >> (k % 8)):
                    out["unsigned"].append(j)
        elif t == _TM_COLUMN_NAME:
            names, p = [], 0
            while p < len(val):
                n, p = _read_packed_int(val, p)
                names.append(val[p : p + n].decode())
                p += n
            out["names"] = names
        elif t in (_TM_SET_STR_VALUE, _TM_ENUM_STR_VALUE):
            kind = TY_SET if t == _TM_SET_STR_VALUE else TY_ENUM
            key = "set_values" if t == _TM_SET_STR_VALUE else "enum_values"
            # values appear in column order for columns of this kind;
            # the TLV itself doesn't repeat which — paired positionally
            # by the caller, which knows each column's metadata kind
            vals, p = [], 0
            while p < len(val):
                cnt, p = _read_packed_int(val, p)
                group = []
                for _ in range(cnt):
                    n, p = _read_packed_int(val, p)
                    group.append(val[p : p + n].decode())
                    p += n
                vals.append(group)
            out[key] = {"kind": kind, "groups": vals}
    return out


def _parse_table_map(body: bytes, target_cols: list[_Col]) -> tuple[int, _TableDef]:
    table_id = int.from_bytes(body[0:6], "little")
    pos = 8
    dblen = body[pos]
    db = body[pos + 1 : pos + 1 + dblen].decode()
    pos += 1 + dblen + 1
    tlen = body[pos]
    table = body[pos + 1 : pos + 1 + tlen].decode()
    pos += 1 + tlen + 1
    ncols, pos = _read_packed_int(body, pos)
    types = body[pos : pos + ncols]
    pos += ncols
    metalen, pos = _read_packed_int(body, pos)
    metas = _split_metadata(types, body[pos : pos + metalen])
    pos += metalen
    pos += (ncols + 7) // 8  # nullability bitmap
    opt = (
        _parse_optional_metadata(body, pos, types)
        if pos < len(body)
        else None
    )
    return table_id, _TableDef(db, table, types, metas, target_cols, opt)


def mysql_binlog_infer_target(
    blob: bytes, database: str, table: str
) -> T.StructType:
    """Derive the target StructType straight from the wire — NO user
    DDL — using binlog_row_metadata=FULL TABLE_MAP metadata (column
    names, enum/set string values, per-column type metadata). The
    reference cannot do this at all: its output schema IS the user's
    CREATE TABLE, positionally trusted (SURVEY §1.2). Walks headers
    until the first TABLE_MAP for (database, table); raises if that map
    carries no COLUMN_NAME metadata (binlog_row_metadata=MINIMAL — the
    server default — genuinely does not record names)."""
    for off, _ts, tc, _size, body, _ck in _events(blob):
        if tc == EV_TRANSACTION_PAYLOAD:
            # binlog_transaction_compression=ON wraps every TABLE_MAP
            # inside type-40 carriers — unwrap, as the decode walk does
            maps = [
                ibody
                for _o, _t, itc, _s, ibody, _c in _payload_events(body, off)
                if itc == EV_TABLE_MAP
            ]
        elif tc == EV_TABLE_MAP:
            maps = [body]
        else:
            continue
        for map_body in maps:
            result = _infer_from_table_map(map_body, database, table)
            if result is not None:
                return result
    raise ValueError(
        f"no TABLE_MAP for {database}.{table} found in the file"
    )


def _infer_from_table_map(
    body: bytes, database: str, table: str
) -> T.StructType | None:
    """One TABLE_MAP body -> StructType, or None if it maps another
    table. Raises when the map matches but carries no FULL metadata."""
    p = 8
    dblen = body[p]
    db_ = body[p + 1 : p + 1 + dblen].decode()
    p += 1 + dblen + 1
    tlen = body[p]
    tbl_ = body[p + 1 : p + 1 + tlen].decode()
    p += 1 + tlen + 1
    if db_ != database or tbl_ != table:
        return None
    ncols, p = _read_packed_int(body, p)
    types = body[p : p + ncols]
    p += ncols
    metalen, p = _read_packed_int(body, p)
    metas = _split_metadata(types, body[p : p + metalen])
    p += metalen + (ncols + 7) // 8
    opt = (
        _parse_optional_metadata(body, p, types)
        if p < len(body)
        else None
    )
    if opt is None or opt["names"] is None:
        raise ValueError(
            f"TABLE_MAP for {database}.{table} carries no COLUMN_NAME "
            "metadata — the file was recorded with binlog_row_metadata"
            "=MINIMAL; pass an explicit target schema instead"
        )
    # pair enum/set groups positionally, as _TableDef does
    wire_vals: dict[int, list[str]] = {}
    for key in ("enum_values", "set_values"):
        groups = opt.get(key) or {}
        if not groups:
            continue
        kind, gs = groups["kind"], list(groups["groups"])
        for j, (tc2, meta) in enumerate(zip(types, metas)):
            if tc2 == TY_STRING and meta and meta[0] == kind and gs:
                wire_vals[j] = gs.pop(0)
    # SIGNEDNESS-marked integers infer the next WIDER signed Spark
    # type so their full unsigned range decodes losslessly (BIGINT
    # UNSIGNED stays LongType — range-checked at decode); this is the
    # same widening contract _TableDef verifies for explicit schemas
    _WIDER = {
        TY_TINY: TY_SHORT,
        TY_SHORT: TY_LONG,
        TY_INT24: TY_LONG,
        TY_LONG: TY_LONGLONG,
        TY_LONGLONG: TY_LONGLONG,
    }
    unsigned_idx = set(opt["unsigned"])
    fields = []
    for j, (tc2, meta, name) in enumerate(
        zip(types, metas, opt["names"])
    ):
        if j in unsigned_idx and tc2 in _WIDER:
            fields.append(_wire_field(name, _WIDER[tc2], b"", None))
        else:
            fields.append(_wire_field(name, tc2, meta, wire_vals.get(j)))
    return T.StructType(fields)


def _wire_field(
    name: str, tc: int, meta: bytes, values: list[str] | None
) -> T.StructField:
    """One wire column -> StructField, inverse of _cols_from_schema."""
    md: dict = {}
    if tc == TY_TINY:
        dt: T.DataType = T.ByteType()
    elif tc == TY_SHORT:
        dt = T.ShortType()
    elif tc == TY_INT24:
        dt, md = T.IntegerType(), {"mysql_type": "mediumint"}
    elif tc == TY_LONG:
        dt = T.IntegerType()
    elif tc == TY_LONGLONG:
        dt = T.LongType()
    elif tc == TY_FLOAT:
        dt = T.FloatType()
    elif tc == TY_DOUBLE:
        dt = T.DoubleType()
    elif tc == TY_NEWDECIMAL:
        dt = T.DecimalType(meta[0], meta[1])
    elif tc == TY_VARCHAR:
        dt = T.StringType()
        md = {"varchar_len": struct.unpack("<H", meta)[0]}
    elif tc == TY_BLOB:
        dt = T.BinaryType()
    elif tc == TY_DATE:
        dt = T.DateType()
    elif tc == TY_DATETIME2:
        dt, md = T.TimestampType(), {"fsp": meta[0]}
    elif tc == TY_TIME2:
        dt = T.StringType()
        md = {"mysql_type": "time", "fsp": meta[0] if meta else 0}
    elif tc == TY_TIMESTAMP_V1:
        dt, md = T.TimestampType(), {"mysql_type": "timestamp_v1"}
    elif tc == TY_DATETIME_V1:
        dt, md = T.TimestampType(), {"mysql_type": "datetime_v1"}
    elif tc == TY_TIME_V1:
        dt, md = T.StringType(), {"mysql_type": "time_v1"}
    elif tc == TY_YEAR:
        dt, md = T.IntegerType(), {"mysql_type": "year"}
    elif tc == TY_BIT:
        dt = T.LongType()
        md = {"mysql_type": "bit", "bits": meta[1] * 8 + meta[0]}
    elif tc == TY_JSON:
        dt, md = T.StringType(), {"mysql_type": "json"}
    elif tc == TY_GEOMETRY:
        dt, md = T.BinaryType(), {"mysql_type": "geometry"}
    elif tc == TY_STRING:
        if not meta or len(meta) < 2:
            raise TypeError(
                f"cannot infer column {name!r}: TY_STRING metadata "
                f"{meta!r} is truncated"
            )
        real, arg = _string_meta(meta)
        dt = T.StringType()
        if real == TY_STRING:
            # fixed-width CHAR(n): arg is the max BYTE length (chars x
            # charset mbmaxlen); char_len assumes utf8mb4's 4 B/char,
            # the modern default — the declared-schema path lets the
            # caller override via char_bytes
            md = {"mysql_type": "char", "char_len": max(1, arg // 4),
                  "char_bytes": arg}
        elif real in (TY_ENUM, TY_SET):
            kind = "enum" if real == TY_ENUM else "set"
            md = {"mysql_type": kind, "values": list(values or [])}
        else:
            raise TypeError(
                f"cannot infer column {name!r}: TY_STRING metadata "
                f"{meta!r} decodes to unknown real type {real}"
            )
    else:
        raise TypeError(f"cannot infer a Spark type for wire type {tc}")
    return T.StructField(name, dt, True, metadata=md)


def _parse_present(body: bytes, pos: int, ncols: int) -> tuple[list[int], int]:
    nb = (ncols + 7) // 8
    bm = body[pos : pos + nb]
    return [j for j in range(ncols) if bm[j // 8] & (1 << (j % 8))], pos + nb


def _read_image(
    body: bytes, pos: int, cols: list[_Col], present: list[int]
) -> tuple[dict, int]:
    # null bitmap covers only the PRESENT columns; absent columns
    # (binlog_row_image=MINIMAL before-images) surface as None in the
    # changelog — keyed operators only read key columns from them
    nb = (len(present) + 7) // 8
    nulls = body[pos : pos + nb]
    pos += nb
    row = {c.name: None for c in cols}
    for k, j in enumerate(present):
        if not (nulls[k // 8] & (1 << (k % 8))):
            row[cols[j].name], pos = _decode_col(cols[j], body, pos)
    return row, pos


def _read_image_partial(
    body: bytes,
    pos: int,
    cols: list[_Col],
    present: list[int],
    before_row: dict,
) -> tuple[dict, int]:
    """After-image of a PARTIAL_UPDATE_ROWS_EVENT: value_options packed
    int, partial_bits over the table's JSON columns, then the normal
    null bitmap + values. A column whose partial bit is set carries a
    Json_diff_vector; its decoded value is the before-image's JSON with
    the diffs applied (canonical key order, so it is byte-identical to
    what a full after-image would have decoded to)."""
    value_options, pos = _read_packed_int(body, pos)
    json_cols = [i for i, c in enumerate(cols) if c.type_code == TY_JSON]
    partial: set[int] = set()
    if value_options & 1:  # BINLOG_ROW_VALUE_OPTIONS_PARTIAL_JSON
        nb = (len(json_cols) + 7) // 8
        bits = body[pos : pos + nb]
        pos += nb
        partial = {
            json_cols[k]
            for k in range(len(json_cols))
            if bits[k // 8] & (1 << (k % 8))
        }
    nb2 = (len(present) + 7) // 8
    nulls = body[pos : pos + nb2]
    pos += nb2
    row = {c.name: None for c in cols}
    for k, j in enumerate(present):
        if nulls[k // 8] & (1 << (k % 8)):
            continue
        c = cols[j]
        if j in partial:
            diffs, pos = _read_json_diff_vector(body, pos)
            row[c.name] = _apply_json_diffs(before_row.get(c.name), diffs)
        else:
            row[c.name], pos = _decode_col(c, body, pos)
    return row, pos


def _sid_to_uuid(sid: bytes) -> str:
    h = sid.hex()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _gtid_set_body(sets: dict[bytes, list[tuple[int, int]]]) -> bytes:
    """Encode a GTID set in MySQL's Gtid_set wire layout (the
    PREVIOUS_GTIDS_LOG_EVENT body, written at every binlog file head
    since 5.6): n_sids u64 LE, then per sid 16 raw uuid bytes,
    n_intervals u64 LE, and per interval start u64 (first gno,
    inclusive) + end u64 (one past the last gno, exclusive)."""
    out = bytearray(struct.pack("<Q", len(sets)))
    for sid, intervals in sets.items():
        if len(sid) != 16:
            raise ValueError(f"sid must be 16 bytes, got {len(sid)}")
        out += sid + struct.pack("<Q", len(intervals))
        for start, end in intervals:
            if not 0 < start < end:
                raise ValueError(f"bad GTID interval [{start}, {end})")
            out += struct.pack("<QQ", start, end)
    return bytes(out)


def _parse_gtid_set(body: bytes) -> dict[bytes, list[tuple[int, int]]]:
    """Inverse of _gtid_set_body; failfast on truncation (a half-read
    set silently shrinking the executed range would defeat the file
    pruning it exists to serve)."""
    if len(body) < 8:
        raise ValueError("GTID set body truncated (no sid count)")
    (n_sids,) = struct.unpack_from("<Q", body, 0)
    pos = 8
    sets: dict[bytes, list[tuple[int, int]]] = {}
    for _ in range(n_sids):
        if pos + 24 > len(body):
            raise ValueError("GTID set body truncated (sid header)")
        sid = bytes(body[pos : pos + 16])
        (n_iv,) = struct.unpack_from("<Q", body, pos + 16)
        pos += 24
        if pos + 16 * n_iv > len(body):
            raise ValueError("GTID set body truncated (intervals)")
        ivs = []
        for _ in range(n_iv):
            start, end = struct.unpack_from("<QQ", body, pos)
            pos += 16
            ivs.append((start, end))
        sets[sid] = ivs
    return sets


def decode_binlog_bytes(
    blob: bytes,
    target: T.StructType,
    database: str,
    table: str,
    *,
    file_seq: int = 1,
    mode: str = "permissive",
    gtid_format: str = "long",
    init_state: dict | None = None,
    seq_base: int = 0,
    capture_query: bool = False,
    schema_history=None,
    _rows_sink=None,
) -> list[dict]:
    """Sequential event walk of one binlog file: dispatch on type code
    (reference ``:173-429`` incl. the default-skip), filter to the
    target table's table_id (A4), carry the GTID forward (A8), decode
    every row-image with op tagging + image ordering (A6/A7/A9).

    mode="permissive" (default) stops cleanly at a truncated trailing
    event — the normal state of the ACTIVE binlog file (crash mid-write,
    copy in flight); MySQL's own recovery does the same. "strict"
    raises instead.

    TRANSACTION_PAYLOAD events (binlog_transaction_compression, MySQL
    8.0.20+) are unwrapped: the embedded event stream (TABLE_MAP + rows
    events, checksum-free per the format) is decoded in place with the
    surrounding GTID state. Compression NONE decodes always; ZSTD
    decodes when a zstd module is importable and raises a pointed error
    otherwise — never the reference's silent default-skip.

    gtid_format="uuid_gno" additionally surfaces the GTID event's
    16-byte server UUID as ``__gtid_src`` (canonical text form) — the
    multi-source surface the envelope path already has; (__gtid_src,
    __gtid) is totally ordered within a source, exactly MySQL's
    guarantee. The reference extracts only the GNO (its multi-source
    block is commented out, binlog_table_reader.cc:418-425).

    ``init_state``/``seq_base`` serve the parallel single-file scan
    (``scan_binlog_splits``): ``blob`` is then a mid-file RANGE starting
    at an event boundary (no magic), the carried decoder state —
    ``{"checksum", "gtid", "sid", "table_maps"}`` — is replayed before
    the walk, and every ``__event_seq`` offsets by ``seq_base`` so split
    decode emits byte-identical ordering keys to the whole-file walk.

    ``schema_history`` (a ``mysql_ddl.SchemaHistory``) turns the walk
    into a Debezium-style multi-generation decode: QUERY events
    carrying CREATE/ALTER for (database, table) fold into the history
    as they stream past, each generation's TABLE_MAPs resolve against
    the schema IN EFFECT at that point (so MODIFY/CHANGE type rewrites
    decode exactly, not just ADD-COLUMN prefixes), and rows decoded
    under older generations are remapped onto the LATEST generation's
    names through the history's column identities (renamed columns
    carry over, dropped columns vanish, added columns surface NULL).
    Table-level RENAMEs follow: ``ALTER TABLE t RENAME TO u`` re-aims
    the TABLE_MAP filter at the new name mid-walk, and the
    gh-ost/pt-osc cut-over ``RENAME TABLE t TO _old, _ghost TO t``
    swaps the ghost's layout in as a new generation whose same-named
    columns inherit the old identities — pre-cut-over rows surface
    under the migrated layout (mysql_ddl.SchemaHistory).
    ``target`` may be None in this mode — the layout comes from the
    log itself. A mid-file range (``init_state``) must carry the DDL
    prefix that precedes it as ``init_state["ddl"]`` (the history
    planner's specs, ``_history_plan``); its rows surface under the
    range's own final generation. Composes with ``_rows_sink``: the columnar
    kernel keys its batch groups per generation (tdefs are rebuilt at
    every layout change, so a group never mixes generations) and
    places each group onto the final layout at flush — see
    ``mysql_binlog_vec.decode_binlog_record_batches(final_history=)``.

    ``_rows_sink`` is the columnar kernel's hook (mysql_binlog_vec):
    called with the parsed rows-event header
    ``(tdef, tc, body, value_pos, present1, present2, gtid, gtid_src,
    ets, event_seq)`` BEFORE any value decode; returning True claims the
    event (the scalar image walk is skipped and the sink decodes its
    values vectorized later). PARTIAL_UPDATE_ROWS events are never
    offered — their JSON diff vectors need the running before-image, so
    they stay on this scalar walk and come back in the returned list."""
    if mode not in ("permissive", "strict"):
        raise ValueError(f"mode must be permissive|strict, got {mode!r}")
    if gtid_format not in ("long", "uuid_gno"):
        raise ValueError(f"gtid_format must be long|uuid_gno, got {gtid_format!r}")
    if schema_history is not None:
        if init_state is not None:
            if "ddl" not in init_state:
                raise ValueError(
                    "schema_history decode of a mid-file range needs "
                    "the DDL prefix that precedes it: carry "
                    "init_state['ddl'] from the history planner "
                    "(a range cannot otherwise see earlier history)"
                )
            # replay the prefix BEFORE resolving the opening layout —
            # the range then starts in the generation in effect at its
            # first transaction, and in-range DDL keeps folding
            for _db0, _stmt in init_state["ddl"]:
                schema_history.apply(_stmt, default_db=_db0 or None)
        sh_schema = schema_history.schema
        target_cols = (
            _cols_from_schema(sh_schema) if sh_schema is not None else None
        )
        cur_ids: tuple = schema_history.ids
    else:
        target_cols = _cols_from_schema(target)
        cur_ids = ()
    # (end_idx into out, names, ids) of each CLOSED schema generation —
    # remapped to the latest names after the walk
    gen_segments: list[tuple[int, tuple, tuple]] = []
    checksum: bool | None = None
    gtid: int | None = None
    gtid_src: str | None = None
    tdefs: dict[int, _TableDef] = {}
    out: list[dict] = []
    want_src = gtid_format == "uuid_gno"
    rows_query: str | None = None  # binlog_rows_query_log_events=ON
    # MySQL re-emits an IDENTICAL TABLE_MAP before every transaction's
    # rows; re-parsing it per event cost ~16% of decode (profiled at
    # 20k txns). Memoize on the exact body bytes (None = foreign table)
    # — a schema change produces different bytes and refreshes
    # naturally, and interleaved multi-table streams each hit their own
    # entry. Distinct bodies are bounded by tables x schema generations.
    map_cache: dict[bytes, tuple | None] = {}

    def _begin_generation() -> None:
        # the history just changed layout: close the running generation
        # (its rows remap to the latest names at the end of the walk)
        # and resolve subsequent TABLE_MAPs against the new one. A
        # DROP TABLE leaves no layout — TABLE_MAPs for the tracked
        # name then raise pointedly until a re-CREATE.
        nonlocal target_cols, cur_ids
        if target_cols is not None:
            gen_segments.append(
                (len(out), tuple(c.name for c in target_cols), cur_ids)
            )
        sh_now = schema_history.schema
        target_cols = (
            _cols_from_schema(sh_now) if sh_now is not None else None
        )
        cur_ids = schema_history.ids
        tdefs.clear()
        map_cache.clear()

    def handle(tc: int, body: bytes, ets: int, event_seq: int) -> None:
        nonlocal gtid, gtid_src, rows_query
        if tc == EV_GTID:
            gtid = struct.unpack_from("<q", body, 17)[0]
            if want_src:
                gtid_src = _sid_to_uuid(body[1:17])
            rows_query = None  # the statement belongs to ONE transaction
        elif tc == EV_ROWS_QUERY:
            # body: 1 informational length byte (min(len,255)) then the
            # FULL query text to end of body — the layout every
            # replication client reads; the reference default-skips it.
            # Decode ONLY when the user asked for __query (a file with
            # statements must stay decodable with capture off), and
            # lossily: the server logs the statement in the CONNECTION
            # charset, which is not guaranteed UTF-8 — provenance
            # metadata must never kill the row decode (review r07).
            rows_query = (
                body[1:].decode("utf-8", errors="replace")
                if capture_query
                else None
            )
        elif tc == EV_TABLE_MAP:
            key = bytes(body)
            if key in map_cache:
                tid_c, tdef_c = map_cache[key]
                if tdef_c is not None:
                    tdefs[tid_c] = tdef_c
                else:
                    # a FOREIGN table's map: the latest TABLE_MAP for a
                    # table id defines its binding, so unbind any stale
                    # target tdef under this id (ids are reused after a
                    # rename or table-cache eviction — without this, a
                    # foreign table re-using the id would decode as the
                    # target)
                    tdefs.pop(tid_c, None)
                return
            dblen = body[8]
            db_ = body[9 : 9 + dblen].decode()
            tpos = 9 + dblen + 1
            tlen = body[tpos]
            tbl_ = body[tpos + 1 : tpos + 1 + tlen].decode()
            # unlike the reference (missing-braces bug, :402-403 — it
            # rebuilds table_def from EVERY table map), only the target
            # table's map updates the decode layout. With a schema
            # history the match follows table-level RENAMEs: after
            # ALTER ... RENAME TO the walk captures the new name, and
            # a cut-over swap keeps capturing the tracked name with
            # the swapped-in layout (the rename bumps the generation,
            # which already cleared this cache and tdefs).
            if (
                schema_history.matches_current(db_, tbl_)
                if schema_history is not None
                else (db_ == database and tbl_ == table)
            ):
                if target_cols is None:
                    raise ValueError(
                        f"TABLE_MAP for {database}.{table} before any "
                        "CREATE TABLE in the DDL history — the schema-"
                        "history decode needs the log to open with the "
                        "table's DDL (or seed the SchemaHistory)"
                    )
                tid2, tdef = _parse_table_map(body, target_cols)
                tdefs[tid2] = tdef
                map_cache[key] = (tid2, tdef)
            else:
                tid2 = int.from_bytes(body[0:6], "little")
                tdefs.pop(tid2, None)  # id now binds to a foreign table
                map_cache[key] = (tid2, None)
        elif tc in (
            EV_WRITE_ROWS_V2,
            EV_UPDATE_ROWS_V2,
            EV_DELETE_ROWS_V2,
            EV_PARTIAL_UPDATE_ROWS,
        ):
            is_update = tc in (EV_UPDATE_ROWS_V2, EV_PARTIAL_UPDATE_ROWS)
            tid = int.from_bytes(body[0:6], "little")
            tdef = tdefs.get(tid)
            if tdef is None:
                return  # other table's rows (A4)
            p = 8
            extra_len = struct.unpack_from("<H", body, p)[0]
            p += extra_len  # extra_len includes its own 2 bytes
            ncols, p = _read_packed_int(body, p)
            present1, p = _parse_present(body, p, ncols)
            present2 = present1
            if is_update:
                present2, p = _parse_present(body, p, ncols)
            if (
                _rows_sink is not None
                and tc != EV_PARTIAL_UPDATE_ROWS
                and _rows_sink(
                    tdef, tc, body, p, present1, present2,
                    gtid, gtid_src, ets, event_seq, rows_query,
                )
            ):
                return
            img_seq = 0
            before_row: dict = {}
            while p < len(body):
                present = (
                    present1
                    if not is_update or img_seq % 2 == 0
                    else present2
                )
                if tc == EV_PARTIAL_UPDATE_ROWS and img_seq % 2 == 1:
                    row, p = _read_image_partial(
                        body, p, tdef.cols, present, before_row
                    )
                else:
                    row, p = _read_image(body, p, tdef.cols, present)
                if is_update and img_seq % 2 == 0:
                    before_row = row
                if tc == EV_WRITE_ROWS_V2:
                    op = CDC_INSERT
                elif tc == EV_DELETE_ROWS_V2:
                    op = CDC_DELETE
                else:
                    op = CDC_UPDATE_BEFORE if img_seq % 2 == 0 else CDC_UPDATE_AFTER
                row["__op"] = op
                row["__gtid"] = gtid
                if want_src:
                    row["__gtid_src"] = gtid_src
                if capture_query:
                    row["__query"] = rows_query
                row["__tm"] = _dt.datetime.fromtimestamp(
                    ets, _dt.timezone.utc
                ).replace(tzinfo=None)
                row["__file_seq"] = file_seq
                row["__event_seq"] = event_seq
                row["__image_seq"] = img_seq
                img_seq += 1
                out.append(row)
        elif tc == EV_QUERY and schema_history is not None:
            q = _query_statement(body, event_seq)
            if q is not None and schema_history.apply(
                q[1], default_db=q[0] or None
            ):
                _begin_generation()
        elif tc == EV_TRANSACTION_PAYLOAD:
            # embedded events carry their own 19-byte headers but NO
            # checksums (MySQL strips them when compressing); offsets
            # inside the payload sub-order under the carrier's offset
            for sub, (_o, iets, itc, _s, ibody, _c) in enumerate(
                _payload_events(body, event_seq)
            ):
                handle(itc, ibody, iets, event_seq + 1 + sub)
        elif tc in _UNSUPPORTED_PAYLOAD_EVENTS:
            # unlike the reference's default-skip (:427-428), a payload-
            # bearing event we can't decode is DATA LOSS, not noise
            raise ValueError(
                f"binlog event type {tc} at offset {event_seq} is "
                f"{_UNSUPPORTED_PAYLOAD_EVENTS[tc]}: it carries row data "
                "this reader does not decode; re-record with row events "
                "v2, or ingest via the Kafka/Debezium envelope path"
            )
        # else: rotate/xid/query/... -> skip (reference default branch)

    if init_state is not None:
        # replay carried state for a mid-file range: checksum flag from
        # the file's FDE, the pending GTID, and the latest TABLE_MAP
        # bodies seen before the range start
        checksum = init_state.get("checksum")
        gtid = init_state.get("gtid")
        rows_query = init_state.get("rows_query")
        sid0 = init_state.get("sid")
        if want_src and sid0 is not None:
            gtid_src = _sid_to_uuid(sid0)
        for map_body in init_state.get("table_maps", []):
            if schema_history is not None:
                # a carried map can PREDATE prefix DDL (captured before
                # the layout change) and fail to parse against the
                # prefix-final generation. Carried maps are
                # belt-and-braces only — the format guarantees every
                # transaction re-emits its maps before its rows, so the
                # range's own maps land before any decode — dropping a
                # stale one is safe; keeping a mis-parsed one is not.
                try:
                    handle(EV_TABLE_MAP, map_body, 0, seq_base)
                except (ValueError, TypeError):
                    continue
            else:
                handle(EV_TABLE_MAP, map_body, 0, seq_base)

    # VERIFY each CRC, don't just strip it: MySQL 8 defaults to
    # binlog_checksum=CRC32, so a flipped bit in a copied/tailed file is
    # a real-user path — decoding past it would emit silently wrong
    # rows. A partial trailing event (the active file's torn tail) ends
    # a permissive walk; it is consumed on the next rotation.
    for event_seq, ets, tc, _size, body, _ck in _events(
        blob, 0 if init_state is not None else 4, base=seq_base,
        checksum=checksum, strict=mode == "strict", verify=True,
    ):
        if tc != EV_FORMAT_DESCRIPTION:
            handle(tc, body, ets, event_seq)
    if schema_history is not None and gen_segments:
        # surface every closed generation's rows under the LATEST
        # names: join old positions to latest positions on column
        # identity (rename carries the value over, a dropped column's
        # value is removed so it can't shadow a later same-named ADD).
        # If the walk ENDS with the table dropped, the last LIVE
        # generation is the surface (identity map for its own rows;
        # earlier generations still remap onto it).
        if target_cols is not None:
            latest = {
                i: c.name for c, i in zip(target_cols, cur_ids)
            }
        else:
            _, last_names, last_ids = gen_segments[-1]
            latest = {i: n for n, i in zip(last_names, last_ids)}
        start = 0
        for end, names, ids in gen_segments:
            ren = {n: latest.get(i) for n, i in zip(names, ids)}
            if any(k != v for k, v in ren.items()):
                for r in out[start:end]:
                    moved = {}
                    for n, nn in ren.items():
                        if n in r:
                            v = r.pop(n)
                            if nn is not None:
                                moved[nn] = v
                    r.update(moved)
            start = end
    return out


_FILE_NUM = re.compile(r"(\d+)(?:\.bin)?$")


def _file_seq_of(path: str) -> int:
    """The rotation number a binlog file name ends in; it becomes
    ``__file_seq`` (IntegerType), so a number past int32 is refused
    rather than wrapped."""
    m = _FILE_NUM.search(path)
    if not m:
        return 0
    n = int(m.group(1))
    if n > 0x7FFFFFFF:
        raise ValueError(
            f"{path}: binlog file number {n} does not fit __file_seq (int32)"
        )
    return n


def _strip_file_scheme(path: str) -> str:
    if path.startswith("file://"):
        return path[len("file://") :]
    if path.startswith("file:"):
        return path[len("file:") :]
    return path


_BINARY_FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("modificationTime", T.TimestampType()),
        T.StructField("length", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def _binlog_out_schema(
    target: T.StructType, gtid_format: str, capture_query: bool = False
) -> T.StructType:
    """changelog_schema, plus __gtid_src (before __gtid, matching the
    envelope path's column order) for gtid_format="uuid_gno", plus
    __query (also before __gtid) when capture_query=True
    (binlog_rows_query_log_events=ON surfacing)."""
    base = changelog_schema(target)
    if gtid_format != "uuid_gno" and not capture_query:
        return base
    fields = []
    for f in base.fields:
        if f.name == "__gtid":
            if gtid_format == "uuid_gno":
                fields.append(
                    T.StructField("__gtid_src", T.StringType(), True)
                )
            if capture_query:
                fields.append(T.StructField("__query", T.StringType(), True))
        fields.append(f)
    return T.StructType(fields)


def _decode_files(
    files: DataFrame,
    target: T.StructType,
    database: str,
    table: str,
    gtid_format: str = "long",
    capture_query: bool = False,
    schema_history=None,
) -> DataFrame:
    """Decode ``(path, content)`` rows through the columnar kernel.
    With ``schema_history`` (a ``mysql_ddl.SchemaHistory`` seed) each
    file decodes from its own copy of the seed, folding the file's DDL
    as it streams past; ``target`` is then the layout the fold ends at."""
    # binaryFile materializes each file whole, so per-task memory is
    # ~one binlog file (MySQL rotates at max_binlog_size, 1 GiB default
    # — bounded by server config, not by history length). The output is
    # yielded per file; Arrow re-slices it downstream. The event walk
    # stays scalar (headers/CRC/state), but row-image VALUES decode
    # through the numpy kernel and come out as Arrow batches with no
    # Python row objects on the scan path.
    import copy

    from mysql_cdc_table_spark.sources.mysql_binlog_vec import (
        decode_binlog_record_batches,
    )

    out_schema = _binlog_out_schema(target, gtid_format, capture_query)

    def walk_arrow(batches):
        for batch in batches:
            paths = batch.column("path")
            contents = batch.column("content")
            for i in range(batch.num_rows):
                path = str(paths[i].as_py())
                blob = contents[i].as_py()
                try:
                    yield from decode_binlog_record_batches(
                        blob,
                        target,
                        database,
                        table,
                        file_seq=_file_seq_of(path),
                        gtid_format=gtid_format,
                        capture_query=capture_query,
                        schema_history=copy.deepcopy(schema_history),
                    )
                except Exception as e:
                    e.add_note(f"{path}: bytes 0..{len(blob)}")
                    raise

    return files.select("path", "content").mapInArrow(
        walk_arrow, schema=out_schema
    )


def _encode_files(df: DataFrame, build, seq_base: int = 0) -> DataFrame:
    """Encode ``df`` as binlog files: ``build(pdf) -> bytes`` frames each
    non-empty batch as one file. Returns ``(path, content)`` rows, the
    shape ``_decode_files`` and ``_stage_binlog_files`` read. Names are
    ``binlog.p{partition}.{seq_base + n}``: unique for any partition
    count, and only the per-partition counter reaches ``__file_seq``,
    so it stays inside int32 (files of different partitions may share
    a ``__file_seq``; the fixtures' aggregates never order across
    files)."""
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        n = seq_base
        for pdf in batches:
            if pdf.empty:
                continue
            name = f"binlog.p{pid}.{n:06d}"
            n += 1
            yield pd.DataFrame({"path": [name], "content": [build(pdf)]})

    return df.mapInPandas(run, schema="path string, content binary")


def _format_read(
    spark: SparkSession,
    path: str | None,
    target: T.StructType | None,
    database: str,
    table: str,
    **options,
) -> DataFrame:
    """``spark.read.format("mysql_binlog")`` with ``options`` (None
    values left out) — the one batch scan every function reader builds.
    ``target`` travels as ``StructType.json()``, which keeps the field
    metadata (charset, unsigned kinds, fsp, ...) the DDL cannot say;
    with no ``target`` the reader learns the layout from the series'
    own DDL."""
    from mysql_cdc_table_spark.sources.datasource import register

    register(spark)
    r = (
        spark.read.format("mysql_binlog")
        .option("database", database)
        .option("table", table)
    )
    options["schema_ddl"] = None if target is None else target.json()
    for k, v in options.items():
        if v is not None:
            r = r.option(k, str(v))
    return r.load() if path is None else r.load(path)


def mysql_binlog_read(
    spark: SparkSession,
    path: str | None,
    target: T.StructType,
    database: str,
    table: str,
    *,
    index_file: str | None = None,
    gtid_format: str = "long",
    capture_query: bool = False,
) -> DataFrame:
    """Batch-read real binlog files into the standard changelog
    DataFrame through ``format("mysql_binlog")``; files are ordered by
    their rotation number like the reference's index-file order
    (A1/A2). Values decode through the columnar kernel;
    ``decode_binlog_bytes`` is the driver-side scalar reference it is
    tested against.

    ``index_file`` mirrors the reference's entry point exactly
    (``set_binlog_index_file`` — binlog_table_reader.cc:39-57, wired
    from the table's CONNECTION string, binlogdb.cc:497-503): a text
    file with one binlog path per line defines the scan set; relative
    paths resolve against the index file's directory. The index is tiny
    (the reference also loads it whole) — only the listed files are
    opened."""
    if (path is None) == (index_file is None):
        raise ValueError("pass exactly one of path or index_file")
    return _format_read(
        spark, path, target, database, table,
        index_file=index_file, gtid_format=gtid_format,
        capture_query=capture_query,
    )


def _smallest_uncovered_gno(intervals: list[tuple[int, int]]) -> int:
    """Smallest gno NOT covered by a sid's interval list — the lowest
    gno a binlog file could still contain given its PREVIOUS_GTIDS head
    (MySQL assigns the first uncovered gno next)."""
    nxt = 1
    for start, end in sorted(intervals):
        if start > nxt:
            break
        nxt = max(nxt, end)
    return nxt


def scan_binlog_splits(
    blob: bytes,
    target_split_bytes: int = 64 << 20,
    *,
    start_after_gno: int | None = None,
    stop_at_gno: int | None = None,
) -> list[dict]:
    """Sequential HEADER walk of one binlog file (no row decode — just
    the 19-byte headers plus GTID/TABLE_MAP bodies), emitting split
    specs for parallel range decode. Boundaries are placed ONLY at GTID
    event starts (= transaction starts). The binlog format itself
    guarantees every rows event is preceded by its TABLE_MAP within the
    same event group (transaction) — MySQL re-emits maps per
    transaction, including inside TRANSACTION_PAYLOAD wrappers — so a
    range that starts at a transaction start always contains the maps
    its rows events need. Each spec additionally carries replayable
    state: the FDE's checksum flag, the pending GTID + server id, and
    the latest TOP-LEVEL TABLE_MAP body per table id (belt-and-braces
    for malformed streams; maps inside compressed payloads are not
    visible to the header walk and don't need to be, per the format
    guarantee above). The truncated active tail stays attached to the
    last range (permissive decode handles it).

    ``start_after_gno``/``stop_at_gno`` bound the walk to transactions
    with start < gno <= stop — GTID-positioned resume (the reader-side
    analogue of MASTER_AUTO_POSITION). Ranges before the first
    in-window transaction are never emitted (their events only fold
    into carried state); the walk STOPS at the first gno past the stop
    bound; and a PREVIOUS_GTIDS file head whose smallest uncovered gno
    already exceeds the stop bound skips the whole file after ONE
    event read. Bounds assume the single-source contract (gnos
    monotonically increasing within and across files — MySQL's
    behavior for one writer); for multi-source streams resume with
    per-uuid sets instead. The reference has no positioned reads at
    all — every scan re-decodes from each file's first event
    (binlog_table_reader.cc:75-96)."""
    return _split_walk(
        blob, target_split_bytes, start_after_gno, stop_at_gno, None, False
    )


def _split_walk(
    buf,
    target_split_bytes: int,
    start_after_gno: int | None,
    stop_at_gno: int | None,
    start_after_sets: dict[bytes, int] | None,
    track_ddl: bool,
    where: str = "",
):
    """The planner walk behind ``scan_binlog_splits`` (a buffer) and
    ``scan_binlog_splits_file`` (a mapped file)."""
    if start_after_sets is not None and start_after_gno is not None:
        raise ValueError(
            "start_after_gno and start_after_sets are mutually exclusive"
        )
    gtid: int | None = None
    sid: bytes | None = None
    maps: dict[int, bytes] = {}
    ddl: list[tuple[str, str]] = []
    splits: list[dict] = []
    in_window = start_after_gno is None and start_after_sets is None
    unbounded = in_window and stop_at_gno is None
    saw_window_txn = False
    end_at = len(buf)

    def carried(checksum: bool | None) -> dict:
        st = {
            "checksum": checksum,
            "gtid": gtid,
            "sid": sid,
            "table_maps": list(maps.values()),
        }
        if track_ddl:
            st["ddl"] = list(ddl)
        return st

    cur_start, cur_state = 4, carried(None)
    for pos, _ts, tc, _size, body, checksum in _events(buf, where=where):
        if tc == EV_GTID:
            g = struct.unpack_from("<q", body, 17)[0]
            if stop_at_gno is not None and g > stop_at_gno:
                end_at = pos
                break
            if not in_window and (
                g > start_after_gno
                if start_after_gno is not None
                else g > start_after_sets.get(bytes(body[1:17]), 0)
            ):
                in_window = True
                cur_start, cur_state = pos, carried(checksum)
            elif in_window and pos - cur_start >= target_split_bytes:
                splits.append({"start": cur_start, "end": pos, **cur_state})
                cur_start, cur_state = pos, carried(checksum)
            saw_window_txn = saw_window_txn or in_window
            gtid = g
            sid = bytes(body[1:17])
        elif tc == EV_TABLE_MAP:
            maps[int.from_bytes(body[0:6], "little")] = bytes(body)
        elif tc == EV_QUERY and track_ddl:
            q = _query_statement(body, pos)
            if q is not None:
                ddl.append(q)
        elif tc == EV_PREVIOUS_GTIDS and stop_at_gno is not None:
            sets = _parse_gtid_set(body)
            if sets and min(
                _smallest_uncovered_gno(ivs) for ivs in sets.values()
            ) > stop_at_gno:
                return []  # every gno this file can contain is past stop
    # a truncated active tail stays attached to the last range
    if unbounded or (saw_window_txn and end_at > cur_start):
        splits.append({"start": cur_start, "end": end_at, **cur_state})
    if track_ddl:
        return splits, ddl
    return splits


def mysql_binlog_read_ddl_history(
    spark: SparkSession,
    path: str,
    database: str,
    table: str,
    *,
    gtid_format: str = "long",
) -> DataFrame:
    """Batch-read a ROTATED binlog series with the table layout learned
    ONLY from the logs' own DDL — the zero-declaration entry point: no
    user schema, no binlog_row_metadata=FULL TLVs, DDL spanning FILE
    boundaries (the CREATE in binlog.000001 governs rows in
    binlog.000002 until its ALTER lands — the cross-file half of
    Debezium's schema-history contract, which the reference cannot see
    at all: it default-skips QUERY events and re-reads its declared
    schema per handler, binlog_table_reader.cc:427-428).

    This is ``format("mysql_binlog")`` without ``schema_ddl``: the
    planner header-walks the series in rotation order, gives every
    transaction-aligned range the DDL that precedes it, and folds all
    of it into the series-final layout (``_history_plan``); each range
    decodes on the columnar kernel onto that layout by column
    identity. A file larger than ``split_bytes`` splits like any other
    read."""
    return _format_read(
        spark, path, None, database, table, gtid_format=gtid_format
    )


def binlog_prev_gtids_uncovered(path: str) -> int | None:
    """Read ONLY a binlog file's head (FDE + the PREVIOUS_GTIDS event
    MySQL writes second since 5.6) and return the smallest gno NOT in
    its executed-set summary — the lowest gno the file itself can
    contain. None when the file carries no parseable head (pre-5.6
    fixture, foreign file): callers must then fall back to walking.
    This is the primitive behind series-level resume pruning — the
    same file-selection scan a replica's START REPLICA does."""
    sets = binlog_prev_gtids_sets(path)
    if sets is None:
        return None
    # an empty set: nothing executed before (MySQL's FIRST file)
    return min(sets.values(), default=1)


def prune_binlog_series_by_gtid(
    paths: list[str],
    start_after_gno: int | None,
    stop_at_gno: int | None,
) -> list[str]:
    """Drop whole files from a binlog series using only their
    PREVIOUS_GTIDS heads (one tiny read per file, no header walks). A
    file's head gives the smallest gno it can contain; the series'
    gno order is reconstructed by SORTING the heads (not by file
    name, which staged/copied series may scramble), so under the
    single-source monotone contract a file's LAST gno is the next
    strictly-greater head minus one. A file is wholly BEFORE the
    window when that next head is <= start+1, and wholly AFTER it
    when its own head exceeds the stop bound. Files with unparseable
    heads are always kept, and ANY unparseable head disables
    start-side pruning entirely (a headless file could sit anywhere
    in the gno order, so no other file's tail bound is trustworthy);
    the bounded header walk still trims whatever survives."""
    if start_after_gno is None and stop_at_gno is None:
        return paths
    heads = {p: binlog_prev_gtids_uncovered(p) for p in paths}
    all_headed = all(u is not None for u in heads.values())
    sorted_heads = sorted(u for u in heads.values() if u is not None)
    keep = []
    for p in paths:
        u = heads[p]
        if stop_at_gno is not None and u is not None and u > stop_at_gno:
            continue  # every gno in this file is past the window
        if start_after_gno is not None and all_headed:
            nxt = next((v for v in sorted_heads if v > u), None)
            if nxt is not None and nxt <= start_after_gno + 1:
                continue  # every gno in this file precedes the window
        keep.append(p)
    return keep


def binlog_file_gnos(path: str) -> list[int]:
    """All transaction gnos in one file, from its GTID events — no row
    decode anywhere. The per-file primitive under the executed-set
    API."""
    with _mapped(path) as mm:
        return [
            int(struct.unpack_from("<q", body, 17)[0])
            for _o, _t, tc, _s, body, _c in _events(mm, where=f"{path}: ")
            if tc == EV_GTID
        ]


def binlog_executed_gtid_set(spark: SparkSession, path: str) -> DataFrame:
    """The series' executed GTID set as (start_gno, end_gno_exclusive,
    n_gnos) intervals — the checkpoint bookkeeping a resuming consumer
    persists (MySQL's gtid_executed). Computed WITHOUT row decode:
    each file header-walks in parallel for its gnos (binlog_file_gnos,
    a distributed mapInPandas over the file list), then
    gaps-and-islands WITHOUT a global sort: interval starts are gnos
    whose predecessor is absent (hash ANTI join — distributed), ends
    are gnos whose successor is absent, and the k-th start pairs with
    the k-th end (one row_number each over the INTERVAL set, which is
    orders of magnitude smaller than the gno set — the classic
    row_number-over-everything formulation would funnel every gno
    through one partition). At 100 TB of retained binlog this costs
    header I/O plus two self-anti-joins on gno. Single-source view
    (gnos only); a multi-source series would group the same
    computation by sid."""
    import pandas as pd

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    paths = _binlog_paths(path)
    if not paths:
        return spark.createDataFrame(
            [], "start_gno long, end_gno long, n_gnos long"
        )
    files = spark.createDataFrame(
        [(p,) for p in paths], "path string"
    ).repartition(min(len(paths), spark.sparkContext.defaultParallelism))

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for p in pdf["path"]:
                yield pd.DataFrame({"gno": binlog_file_gnos(str(p))})

    gnos = files.mapInPandas(walk, schema="gno long").distinct()
    gnos = gnos.localCheckpoint(eager=False)  # three consumers, one walk
    succ = gnos.select((F.col("gno") + 1).alias("gno"))
    pred = gnos.select((F.col("gno") - 1).alias("gno"))
    starts = gnos.join(succ, "gno", "left_anti")  # gno-1 not executed
    ends = gnos.join(pred, "gno", "left_anti")  # gno+1 not executed
    w = Window.orderBy("gno")  # intervals only — tiny relation
    s = starts.select(
        F.col("gno").alias("start_gno"),
        F.row_number().over(w).alias("k"),
    )
    e = ends.select(
        (F.col("gno") + 1).alias("end_gno"),
        F.row_number().over(w).alias("k"),
    )
    return s.join(e, "k").select(
        "start_gno",
        "end_gno",
        (F.col("end_gno") - F.col("start_gno")).alias("n_gnos"),
    )


def binlog_prev_gtids_sets(path: str) -> dict[bytes, int] | None:
    """Per-sid smallest-uncovered gnos from a file's PREVIOUS_GTIDS
    head ({} for an empty set = nothing executed before); None when
    the head is absent/unparseable. The per-source refinement of
    binlog_prev_gtids_uncovered for multi-source pruning."""
    try:
        with _mapped(path) as mm:
            for _o, _t, tc, _s, body, _c in _events(mm):
                if tc == EV_PREVIOUS_GTIDS:
                    return {
                        sid: _smallest_uncovered_gno(ivs)
                        for sid, ivs in _parse_gtid_set(body).items()
                    }
                if tc != EV_FORMAT_DESCRIPTION:
                    return None
    except ValueError:
        pass
    return None


def prune_binlog_series_by_gtid_sets(
    paths: list[str], start_after: dict[bytes, int]
) -> list[str]:
    """Multi-source file pruning: drop files wholly before a PER-SID
    resume position map ({sid: last-consumed gno}; absent sid = start
    from its first gno). Rotation order comes from the binlog.NNNNNN
    numbers (the multi-source interleave makes head-sorting ambiguous,
    so unnumbered/foreign names conservatively disable pruning): file
    i's content is covered by file i+1's head, so it prunes when that
    head shows, for EVERY sid it lists, smallest-uncovered <=
    bound+1 — any sid the map doesn't bound (uncovered > 1) keeps the
    file. The boundary files still decode fully; per-row exactness is
    the reader's per-sid __gtid filter."""
    if len(paths) < 2:
        return paths
    try:
        ordered = sorted(paths, key=_file_seq_of)
    except (ValueError, TypeError):
        return paths
    if len({_file_seq_of(p) for p in ordered}) != len(ordered):
        return paths  # ambiguous rotation numbers: keep everything
    keep = []
    for i, p in enumerate(ordered):
        if i + 1 < len(ordered):
            nxt = binlog_prev_gtids_sets(ordered[i + 1])
            if nxt and all(
                unc <= start_after.get(sid, 0) + 1
                for sid, unc in nxt.items()
            ):
                continue  # every txn of every sid here is consumed
        keep.append(p)
    return keep


def binlog_bytes_ddl(blob: bytes) -> list[dict]:
    """binlog_file_ddl's walk over an in-memory blob (the mapInPandas
    decode path holds whole files as bytes)."""
    return _ddl_walk(blob)


def _ddl_walk(buf, where: str = "") -> list[dict]:
    out: list[dict] = []
    gno: int | None = None
    for off, ts, tc, _size, body, _ck in _events(buf, where=where):
        if tc == EV_GTID:
            gno = int(struct.unpack_from("<q", body, 17)[0])
        elif tc == EV_QUERY:
            q = _query_statement(body, off)
            if q is not None:
                out.append(
                    {
                        "gno": gno,
                        "offset": off,
                        "ts": int(ts),
                        "database": q[0],
                        "statement": q[1],
                    }
                )
    return out


def binlog_file_ddl(path: str) -> list[dict]:
    """Parse a file's Query_log_events into DDL history records
    ({gno, offset, ts, database, statement}) with a walk over the file
    mapped read-only. BEGIN/COMMIT markers (row-transaction framing some
    servers write as QUERY events) are filtered; the statement text is
    what a schema-history consumer stores."""
    with _mapped(path) as mm:
        return _ddl_walk(mm, where=f"{path}: ")


def binlog_ddl_history(spark: SparkSession, path: str) -> DataFrame:
    """The series' DDL history (gno, file_seq, offset, commit second,
    database, statement) from header-only walks — the schema-history
    topic a Debezium-style consumer keeps so it can decode old events
    under old schemas. Distributed one-file-per-task mapInPandas; no
    row decode anywhere. The reference default-skips QUERY events
    entirely (binlog_table_reader.cc:427-428), so DDL provenance is
    invisible to it."""
    import pandas as pd

    paths = _binlog_paths(path)
    schema = (
        "gno long, file_seq int, offset long, commit_ts long, "
        "database string, statement string"
    )
    if not paths:
        return spark.createDataFrame([], schema)
    files = spark.createDataFrame(
        [(p, _file_seq_of(p)) for p in paths], "path string, file_seq int"
    ).repartition(min(len(paths), spark.sparkContext.defaultParallelism))

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for p, seq in zip(pdf["path"], pdf["file_seq"]):
                recs = binlog_file_ddl(str(p))
                yield pd.DataFrame(
                    {
                        "gno": [r["gno"] for r in recs],
                        "file_seq": [int(seq)] * len(recs),
                        "offset": [r["offset"] for r in recs],
                        "commit_ts": [r["ts"] for r in recs],
                        "database": [r["database"] for r in recs],
                        "statement": [r["statement"] for r in recs],
                    }
                )

    return files.mapInPandas(walk, schema=schema)


def binlog_file_event_census(path: str) -> dict[int, tuple[int, int]]:
    """{event_type: (count, bytes)} for one file from its event headers
    — the `mysqlbinlog | grep`-style census an operator runs to see
    what a series is made of, without decoding a row."""
    out: dict[int, tuple[int, int]] = {}
    with _mapped(path) as mm:
        for _o, _t, tc, size, _b, _c in _events(mm, where=f"{path}: "):
            c, b = out.get(tc, (0, 0))
            out[tc] = (c + 1, b + size)
    return out


def binlog_head_timestamp(path: str) -> int:
    """The file's first event timestamp (the FDE's header ts, u32 LE at
    offset 4+0) — when the file was created, i.e., a lower bound on
    every event inside it. One 23-byte read; the file-ordering
    primitive for time-bounded scans."""
    with open(path, "rb") as f:
        head = f.read(4 + _HEADER_LEN)
        if head[:4] != BINLOG_MAGIC or len(head) < 4 + _HEADER_LEN:
            raise ValueError(f"{path}: not a binlog file")
        return int(struct.unpack_from("<I", head, 4)[0])


def _first_gno_at_or_after_ts(path: str, ts_bound: int) -> int | None:
    """Header-walk one file for the FIRST transaction whose GTID event
    timestamp is >= ts_bound; None if every transaction predates it."""
    with _mapped(path) as mm:
        for _o, ts, tc, _s, body, _c in _events(mm, where=f"{path}: "):
            if tc == EV_GTID and ts >= ts_bound:
                return int(struct.unpack_from("<q", body, 17)[0])
    return None


_GNO_INF = 1 << 62  # "past every gno": empty-window sentinel


def binlog_time_to_gno_bounds(
    paths: list[str],
    start_ts: int | None,
    stop_ts: int | None,
) -> tuple[int | None, int | None]:
    """Translate a wall-clock window [start_ts, stop_ts) into the
    (start_after_gno, stop_at_gno] bounds the GTID-positioned scan
    takes — the planning step of point-in-time reads. File heads give
    each file's creation time (one 23-byte read per file); only the
    boundary file (the last whose head precedes the bound) and, if
    the bound falls past its tail, its successors are header-walked
    for the first in-bound gno. Assumes the single-writer monotone
    contract (commit timestamps and gnos non-decreasing together —
    what mysqlbinlog --start/--stop-datetime assumes too)."""
    if start_ts is None and stop_ts is None:
        return None, None
    heads = sorted((binlog_head_timestamp(p), p) for p in paths)

    def locate(bound: int) -> int | None:
        # first file that can contain an event >= bound is the LAST
        # file created STRICTLY before the bound (the bound may fall
        # inside it). Strict, not <=: when a rotation lands in the
        # same second as the bound (next file's head ts == bound), the
        # previous file can still hold same-second tail transactions
        # with ts == bound — advancing past it would silently drop
        # them, and the start side's residual ``__tm >= start_ts``
        # filter cannot recover rows that were never decoded. (The
        # stop side only gains: a smaller first-gno just means fewer
        # extras for its residual filter to trim.)
        start_i = 0
        for i, (hts, _p) in enumerate(heads):
            if hts < bound:
                start_i = i
            else:
                break
        for _hts, p in heads[start_i:]:
            g = _first_gno_at_or_after_ts(p, bound)
            if g is not None:
                return g
        return None  # bound is past every event

    start_after: int | None = None
    if start_ts is not None:
        g = locate(start_ts)
        # include everything from the first in-window txn on; if the
        # window starts past the last event, nothing qualifies
        start_after = g - 1 if g is not None else _GNO_INF
    stop_at: int | None = None
    if stop_ts is not None:
        g = locate(stop_ts)
        stop_at = g - 1 if g is not None else None
    return start_after, stop_at


def mysql_binlog_read_time_range(
    spark: SparkSession,
    path: str,
    target: T.StructType,
    database: str,
    table: str,
    *,
    start_ts: int | None = None,
    stop_ts: int | None = None,
    split_bytes: int = 64 << 20,
    gtid_format: str = "long",
    capture_query: bool = False,
) -> DataFrame:
    """Time-bounded batch read — the mysqlbinlog
    --start-datetime/--stop-datetime analogue (window [start_ts,
    stop_ts), epoch seconds): the wall-clock window is translated to
    GNO bounds off the file heads + one or two boundary header walks
    (binlog_time_to_gno_bounds), then the GTID-positioned scan does
    the pruning (series-level file skips, bounded walks, no
    out-of-window decode). A residual __tm filter pins the emitted
    window exactly. The reference has no time surface at all — its
    users re-scan everything and filter __tm after decoding the full
    history."""
    paths = _binlog_paths(path)
    start_after, stop_at = binlog_time_to_gno_bounds(
        paths, start_ts, stop_ts
    )
    out = mysql_binlog_read_parallel(
        spark,
        path,
        target,
        database,
        table,
        split_bytes=split_bytes,
        gtid_format=gtid_format,
        capture_query=capture_query,
        start_after_gno=start_after,
        stop_at_gno=stop_at,
    )
    from pyspark.sql import functions as F

    if start_ts is not None:
        out = out.filter(F.col("__tm").cast("long") >= start_ts)
    if stop_ts is not None:
        out = out.filter(F.col("__tm").cast("long") < stop_ts)
    return out


def scan_binlog_splits_file(
    path: str,
    target_split_bytes: int = 64 << 20,
    *,
    start_after_gno: int | None = None,
    stop_at_gno: int | None = None,
    start_after_sets: dict[bytes, int] | None = None,
    track_ddl: bool = False,
) -> list[dict]:
    """File twin of scan_binlog_splits: the same walk over the file
    mapped read-only, so IDENTICAL split specs without ever reading the
    file into memory (the bytes-based variant serves tests and
    already-loaded buffers). GTID bounds behave as in
    scan_binlog_splits, including the O(1)-read whole-file skip off the
    PREVIOUS_GTIDS head and the early exit at the stop bound.

    ``start_after_sets`` ({sid: last-consumed gno}) is the MULTI-SOURCE
    start bound (round-8, watch item 3): the window opens at the first
    transaction whose gno exceeds its OWN sid's bound (absent sid → 0,
    i.e. its first transaction). Every event before that point is
    consumed for its own sid — per-sid sequences are monotone — so a
    boundary file's consumed prefix is pruned at the HEADER walk
    instead of being range-decoded and row-filtered. Interleaved
    consumed transactions AFTER the window opens still decode; the
    caller's per-sid residual filter (mysql_binlog_read_gtid_sets)
    keeps output exact.

    ``track_ddl=True`` (the schema-history planner, ``_history_plan``)
    also gives each spec ``ddl``, the file's DDL statements
    ([(session_db, statement), ...]) before the range, and returns
    ``(specs, every statement of the file)``."""
    with _mapped(path) as mm:
        return _split_walk(
            mm, target_split_bytes, start_after_gno, stop_at_gno,
            start_after_sets, track_ddl, where=f"{path}: ",
        )


# In-memory split-spec cache: a bounded LRU, not a plain dict, so a
# long-lived planner process scanning many files and windows does not
# pin every (path, size, mtime, bounds) combination's split list
# (TABLE_MAP bodies included) for its lifetime.
import collections as _collections

_SPLIT_MEM_CACHE: "_collections.OrderedDict" = _collections.OrderedDict()
_SPLIT_MEM_CACHE_MAX = 64


def scan_binlog_splits_cached(
    path: str,
    target_split_bytes: int = 64 << 20,
    *,
    start_after_gno: int | None = None,
    stop_at_gno: int | None = None,
    start_after_sets: dict[bytes, int] | None = None,
    track_ddl: bool = False,
) -> list[dict]:
    """``scan_binlog_splits_file`` behind an in-process LRU keyed on
    (abs path, size, mtime_ns, split_bytes, GTID bounds, track_ddl).
    Callers must not mutate what it returns. The planner
    walks only files that must be cut or that a GTID bound must locate
    (``_window_ranges``), and Spark plans a session's reads in one
    reused Python worker, so a re-plan of the same file and window
    skips its header walk. A sealed binlog never changes in place; if
    one does, its size or mtime rotates the key and the stale entry
    ages out."""
    ap = os.path.abspath(path)
    st = os.stat(ap)
    sets_key = (
        None
        if start_after_sets is None
        else tuple(sorted(
            (sid.hex(), int(g)) for sid, g in start_after_sets.items()
        ))
    )
    key = (
        ap, st.st_size, st.st_mtime_ns, target_split_bytes,
        start_after_gno, stop_at_gno, sets_key, track_ddl,
    )
    splits = _SPLIT_MEM_CACHE.get(key)
    if splits is None:
        splits = scan_binlog_splits_file(
            ap,
            target_split_bytes,
            start_after_gno=start_after_gno,
            stop_at_gno=stop_at_gno,
            start_after_sets=start_after_sets,
            track_ddl=track_ddl,
        )
        _SPLIT_MEM_CACHE[key] = splits
    _SPLIT_MEM_CACHE.move_to_end(key)
    while len(_SPLIT_MEM_CACHE) > _SPLIT_MEM_CACHE_MAX:
        _SPLIT_MEM_CACHE.popitem(last=False)
    return splits


def mysql_binlog_read_parallel(
    spark: SparkSession,
    path: str,
    target: T.StructType,
    database: str,
    table: str,
    *,
    split_bytes: int = 64 << 20,
    gtid_format: str = "long",
    capture_query: bool = False,
    start_after_gno: int | None = None,
    stop_at_gno: int | None = None,
    start_after_sets: dict[bytes, int] | None = None,
) -> DataFrame:
    """``format("mysql_binlog")`` with explicit split and GTID options.
    The reader cuts each file into transaction-aligned byte ranges of
    about ``split_bytes`` — the scan the reference cannot express (its
    unit is one file walked sequentially,
    binlog_table_reader.cc:75-96), so even a 50 GB relay/restore file
    decodes in parallel. Ranges cut only at transaction starts, carried
    TABLE_MAP/GTID/checksum state replays first, and __event_seq stays
    the ABSOLUTE file offset — byte-identical rows to a whole-file
    decode, any split size. Tasks reopen paths with plain ``open``, so
    paths must be executor-local; on object stores mount them first.

    ``capture_query=True`` surfaces ROWS_QUERY statements as __query —
    no extra carried state: ranges cut at GTID boundaries, exactly
    where the statement scope resets.

    ``start_after_gno``/``stop_at_gno`` make the scan GTID-positioned
    (see scan_binlog_splits): out-of-window transactions are pruned at
    the HEADER walk — never range-decoded — and files whose
    PREVIOUS_GTIDS head already covers the window skip after one event
    read. A residual row filter on __gtid keeps the output exact even
    if a malformed stream violates gno monotonicity inside a kept
    range (single-source contract; multi-source resume needs per-uuid
    sets).

    ``start_after_sets`` ({sid: last-consumed gno}) is the MULTI-SOURCE
    start bound (see mysql_binlog_read_gtid_sets); it needs
    ``gtid_format="uuid_gno"``."""
    sets = None
    if start_after_sets:
        sets = ",".join(
            f"{_sid_to_uuid(sid)}:{int(g)}"
            for sid, g in start_after_sets.items()
        )
    return _format_read(
        spark, path, target, database, table,
        split_bytes=split_bytes, gtid_format=gtid_format,
        capture_query=capture_query, start_after_gno=start_after_gno,
        stop_at_gno=stop_at_gno, start_after_sets=sets,
    )


def mysql_binlog_read_gtid_range(
    spark: SparkSession,
    path: str,
    target: T.StructType,
    database: str,
    table: str,
    *,
    start_after_gno: int,
    stop_at_gno: int | None = None,
    split_bytes: int = 64 << 20,
    gtid_format: str = "long",
    capture_query: bool = False,
) -> DataFrame:
    """GTID-positioned batch read — the resume/point-in-time entry
    point: only transactions with ``start_after_gno < gno``
    (``<= stop_at_gno`` when set) are decoded. Equivalent to filtering
    mysql_binlog_read's output on __gtid, but the pruning happens where
    it matters at scale: whole files skip off their PREVIOUS_GTIDS head
    with a single event read, the header walk stops at the stop bound,
    and out-of-window transactions are never range-decoded — resuming
    near the tail of 100 TB of retained binlog costs O(new data), not
    O(history). The reference re-decodes every file from its first
    event on every scan (binlog_table_reader.cc:75-96) and has no
    position surface at all."""
    return _format_read(
        spark, path, target, database, table,
        split_bytes=split_bytes, gtid_format=gtid_format,
        capture_query=capture_query, start_after_gno=start_after_gno,
        stop_at_gno=stop_at_gno,
    )


def mysql_binlog_read_gtid_sets(
    spark: SparkSession,
    path: str,
    target: T.StructType,
    database: str,
    table: str,
    *,
    start_after: dict[bytes, int],
    split_bytes: int = 64 << 20,
    capture_query: bool = False,
) -> DataFrame:
    """MULTI-SOURCE resume — the real MASTER_AUTO_POSITION semantics:
    ``start_after`` maps each origin server's 16-byte UUID to its last
    consumed gno (absent sid = consume from its first transaction),
    the way a replica hands its gtid_executed to each source. A
    multi-source replica's binlog interleaves per-sid monotone gno
    sequences that are NOT globally ordered, so the single-bound
    early-exit walk doesn't apply; instead: (1) FILE level —
    rotation-ordered files whose successor's PREVIOUS_GTIDS head shows
    every listed sid consumed are never scheduled
    (prune_binlog_series_by_gtid_sets); (2) ROW level — output is
    ``gtid_format="uuid_gno"`` (the filter needs the source UUID) and
    each row keeps iff its gno exceeds its OWN sid's bound. Boundary
    files skip their consumed prefix at the header walk — at scale that
    is 1-2 files per source against a pruned history. Closes the
    single-source-only caveat of mysql_binlog_read_gtid_range."""
    return mysql_binlog_read_parallel(
        spark, path, target, database, table,
        split_bytes=split_bytes, gtid_format="uuid_gno",
        capture_query=capture_query, start_after_sets=start_after,
    )


def mysql_binlog_read_stream(
    spark: SparkSession,
    path: str,
    target: T.StructType,
    database: str,
    table: str,
    *,
    gtid_format: str = "long",
) -> DataFrame:
    """Streaming tail of a binlog directory: each ROTATED file is
    consumed exactly once per the file-source offset log (checkpointed;
    restart resumes where it left off) — the incremental replacement for
    the reference's replay-everything-per-scan (binlogdb.cc:487). Note
    the file source reads a file when it APPEARS: the active, still-
    growing binlog file is picked up on rotation, so end-to-end latency
    is one rotation. For SUB-ROTATION latency use
    ``mysql_binlog_tail_stream`` (the ``mysql_binlog_tail`` DataSource),
    which re-reads the active file's decodable prefix every micro-batch
    the way the reference's scan does (binlog_table_reader.cc:75-96) —
    but incrementally, off a checkpointed (file_seq, byte) cursor."""
    files = (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_SCHEMA)
        .load(path)
        .where(~F.col("path").endswith(".index"))  # listing file, not data
    )
    return _decode_files(files, target, database, table, gtid_format)


# --- sub-rotation streaming tail (custom DataSource) -------------------------


def _event_boundary_walk(
    buf: bytes, start: int, base: int = 0, where: str = ""
) -> int:
    """Advance ``start`` (an event boundary within ``buf``, whose first
    byte sits at file offset ``base``) past every complete event —
    serves mid-file resumes where the caller seek-read from a known
    boundary."""
    pos = start
    for off, _t, _tc, size, _b, _c in _events(
        buf, start, base=base, where=where
    ):
        pos = off - base + size
    return pos


def _complete_prefix_len_path(path: str) -> int:
    """Last complete-event boundary of an ON-DISK binlog file — the safe
    cursor position for the ACTIVE, still-growing file. A raw
    ``os.path.getsize()`` can fall mid-event (torn tail write); every
    cursor in this reader means an event boundary, and a mid-event pos
    would make later micro-batches read garbage event sizes (permanent
    stall or CRC kill)."""
    with _mapped(path) as mm:
        return _complete_prefix_len(mm, where=f"{path}: ")


def _complete_prefix_len(blob: bytes, start: int = 4, where: str = "") -> int:
    """Byte length of the longest whole-event prefix (magic included):
    the safe read horizon of the ACTIVE, still-growing binlog file.
    ``start`` (an event boundary ≥4) resumes the walk mid-file so a
    tail micro-batch only walks bytes it hasn't seen."""
    if blob[:4] != BINLOG_MAGIC:
        return 0
    return _event_boundary_walk(blob, max(start, 4), where=where)


def _carry_walk(
    blob: bytes, frm: int, upto: int, state: dict, base: int = 0
) -> None:
    """Walk of blob[frm:upto] (event boundaries; ``blob`` starts at file
    offset ``base``), folding decoder state into ``state`` =
    {"checksum", "gtid", "sid", "maps": {tid: body}} — the same
    replayable state the parallel split scan carries
    (scan_binlog_splits), but resumable so the streaming tail pays only
    the NEW bytes each micro-batch instead of re-decoding the whole
    active-file prefix."""
    for _o, _t, tc, _s, body, checksum in _events(
        blob, frm, upto, base, state["checksum"]
    ):
        if tc == EV_FORMAT_DESCRIPTION:
            state["checksum"] = checksum
        elif tc == EV_GTID:
            state["gtid"] = struct.unpack_from("<q", body, 17)[0]
            state["sid"] = bytes(body[1:17])
            # statement scope is one transaction (mirrors the decode
            # walk): a cursor can sit between ROWS_QUERY and its rows
            # event, so the carry must fold it
            state["rows_query"] = None
        elif tc == EV_ROWS_QUERY:
            # lossy for the same reason as the decode walk: the
            # statement charset is the connection's, not UTF-8
            state["rows_query"] = body[1:].decode("utf-8", errors="replace")
        elif tc == EV_TABLE_MAP:
            state["maps"][int.from_bytes(body[0:6], "little")] = bytes(body)


def _tail_target(options: dict) -> T.StructType:
    from mysql_cdc_table_spark.sources.datasource import _parse_ddl

    if options.get("schema_ddl") in (None, ""):
        raise ValueError(
            "option schema_ddl is required: the table layout to decode "
            "or write (extended DDL or StructType JSON)"
        )
    return _parse_ddl(options["schema_ddl"])


# --- the GTID window and range decode both binlog readers share --------------


class _BinlogWindow(NamedTuple):
    """The read options of ``format("mysql_binlog")`` and
    ``format("mysql_binlog_tail")``: what to decode, the output columns
    and the GTID window. ``history`` is the series-final
    ``SchemaHistory`` of a read without ``schema_ddl`` (``target`` is
    then its layout)."""

    target: T.StructType
    database: str
    table: str
    gtid_format: str
    capture_query: bool
    start_after_gno: int | None
    stop_at_gno: int | None
    start_after_sets: dict[str, int] | None  # {origin uuid: last gno}
    history: object = None

    @property
    def out_schema(self) -> T.StructType:
        return _binlog_out_schema(
            self.target, self.gtid_format, self.capture_query
        )


def _binlog_window(options: dict, history=None) -> _BinlogWindow:
    """Parse the shared read options. The layout is ``schema_ddl``'s,
    or ``history``'s when the caller learned it from the log.
    ``start_after_gno`` and ``stop_at_gno`` bound one source's gnos;
    ``start_after_sets`` ("uuid:gno,uuid:gno", the gtid_executed a
    replica hands each source) bounds every origin on its own, because
    a multi-source relay interleaves per-sid gno sequences without a
    global order (an absent sid reads from its first transaction)."""

    def bound(key: str) -> int | None:
        raw = options.get(key)
        return None if raw in (None, "") else int(raw)

    gtid_format = options.get("gtid_format", "long")
    start_after_gno = bound("start_after_gno")
    raw_sets = options.get("start_after_sets")
    sets: dict[str, int] | None = None
    if raw_sets not in (None, ""):
        if start_after_gno is not None:
            raise ValueError(
                "start_after_gno and start_after_sets are mutually "
                "exclusive — per-sid bounds subsume the single bound"
            )
        if gtid_format != "uuid_gno":
            raise ValueError(
                "start_after_sets needs gtid_format=uuid_gno — the "
                "per-row filter keys on each row's origin UUID"
            )
        sets = {}
        for part in str(raw_sets).split(","):
            u, _, g = part.strip().partition(":")
            if not g:
                raise ValueError(
                    f"start_after_sets entry {part!r} is not uuid:gno"
                )
            sets[u.lower()] = int(g)
    return _BinlogWindow(
        _tail_target(options) if history is None else history.schema,
        options["database"],
        options["table"],
        gtid_format,
        str(options.get("capture_query", "false")).lower() == "true",
        start_after_gno,
        bound("stop_at_gno"),
        sets,
        history,
    )


def _window_ranges(
    paths: list[str], w: _BinlogWindow, split_bytes: int
) -> Iterator[tuple[str, dict]]:
    """``(path, spec)`` for every in-window byte range of ``paths``,
    lazily and in rotation order. A spec's ``start`` is an event
    boundary.

    With no GTID bound, a file no larger than ``split_bytes`` is one
    range, ``[4, size)`` with no carried state: its header walk could
    return nothing else, since it starts at 4 with nothing carried and
    keeps a torn tail on the last range. So stat plans it, and only its
    magic is read; a corrupt event in it raises when the range decodes.
    Every other file is header-walked (``scan_binlog_splits_cached``)
    with the window's bounds, which cuts it and skips its out-of-window
    prefix, after files wholly outside the window are pruned off their
    PREVIOUS_GTIDS heads unwalked."""
    bounds = None  # start_after_sets keyed by the 16-byte sid
    if w.start_after_sets is not None:
        bounds = {
            bytes.fromhex(u.replace("-", "")): g
            for u, g in w.start_after_sets.items()
        }
        paths = prune_binlog_series_by_gtid_sets(paths, bounds)
    else:
        paths = prune_binlog_series_by_gtid(
            paths, w.start_after_gno, w.stop_at_gno
        )
    unbounded = (
        bounds is None and w.start_after_gno is None and w.stop_at_gno is None
    )
    for p in paths:
        if unbounded and (size := os.path.getsize(p)) <= split_bytes:
            with open(p, "rb") as fh:
                if fh.read(4) != BINLOG_MAGIC:
                    raise ValueError(f"{p}: not a binlog file (bad magic)")
            yield p, {
                "start": 4, "end": size, "checksum": None,
                "gtid": None, "sid": None, "table_maps": [],
            }
            continue
        for spec in scan_binlog_splits_cached(
            p,
            split_bytes,
            start_after_gno=w.start_after_gno,
            stop_at_gno=w.stop_at_gno,
            start_after_sets=bounds,
        ):
            yield p, spec


def _history_plan(
    paths: list[str], database: str, table: str, split_bytes: int
) -> tuple[list[tuple[str, dict]], object]:
    """Plan a read whose layout comes from the series' own DDL. Every
    file is header-walked in rotation order with DDL tracking
    (``scan_binlog_splits_cached``, no stat plan: a stat cannot see a
    file's DDL). Each range's ``ddl`` becomes the earlier files'
    statements plus its in-file prefix, so the range opens in the
    generation in effect at its first transaction, and every statement
    folds into the series-final ``SchemaHistory``, the layout all
    ranges' rows surface under. Returns ``([(path, spec), ...],
    final)``."""
    from mysql_cdc_table_spark.sources.mysql_ddl import SchemaHistory

    ranges: list[tuple[str, dict]] = []
    acc: list[tuple[str, str]] = []
    for p in paths:
        specs, ddl = scan_binlog_splits_cached(p, split_bytes, track_ddl=True)
        # fresh dicts: the cached specs stay as the walk left them
        ranges += [(p, {**s, "ddl": acc + s["ddl"]}) for s in specs]
        acc = acc + ddl
    final = SchemaHistory(table, database=database)
    for db0, stmt in acc:
        final.apply(stmt, default_db=db0 or None)
    if final.schema is None:
        raise ValueError(
            f"no CREATE TABLE for {database}.{table} in the series' "
            "DDL history — declare a schema (option schema_ddl) or "
            "read a series that opens with the table's DDL"
        )
    return ranges, final


def _gtid_window_filter(batch, w: _BinlogWindow):
    """The one residual GTID filter: file pruning and the header walk
    cut a superset, this pins the window exactly. Start bounds let a row
    with a null ``__gtid`` (a transaction with no GTID event) through;
    the stop bound drops it."""
    import pyarrow as pa
    import pyarrow.compute as pc

    gtid = batch["__gtid"]
    keep = None
    if w.start_after_gno is not None:
        keep = pc.fill_null(pc.greater(gtid, w.start_after_gno), True)
    elif w.start_after_sets is not None:
        # each row's bound is its own origin's; an absent sid's is 0
        at = pc.index_in(
            pc.utf8_lower(batch["__gtid_src"]),
            value_set=pa.array(list(w.start_after_sets), pa.string()),
        )
        bound = pc.take(
            pa.array(list(w.start_after_sets.values()), pa.int64()), at
        )
        keep = pc.fill_null(pc.greater(gtid, pc.fill_null(bound, 0)), True)
    if w.stop_at_gno is not None:
        stop = pc.less_equal(gtid, w.stop_at_gno)
        keep = stop if keep is None else pc.and_kleene(keep, stop)
    return batch if keep is None else batch.filter(keep)


def _decode_binlog_range(blob, file_seq: int, spec: dict, w: _BinlogWindow):
    """The one range decode of both binlog readers. ``blob`` holds the
    file's bytes ``[spec["start"], spec["end"])``, both event boundaries,
    and the spec carries the decoder state that precedes the range (FDE
    checksum flag, pending GTID and sid, ROWS_QUERY statement, TABLE_MAP
    bodies). In a schema-history read (``w.history``) the spec's ``ddl``
    prefix seeds a fresh ``SchemaHistory``, in-range DDL keeps folding,
    and rows surface under ``w.history`` by column identity: a prefix
    replay plus the in-range fold allocates exactly the ids a fold over
    the whole series does. Yields the columnar kernel's non-empty Arrow
    batches, cut to the GTID window."""
    from mysql_cdc_table_spark.sources.mysql_binlog_vec import (
        decode_binlog_record_batches,
    )
    from mysql_cdc_table_spark.sources.mysql_ddl import SchemaHistory

    live = None
    if w.history is not None:
        live = SchemaHistory(w.table, database=w.database)
    for batch in decode_binlog_record_batches(
        blob,
        w.target,
        w.database,
        w.table,
        file_seq=file_seq,
        gtid_format=w.gtid_format,
        capture_query=w.capture_query,
        init_state=spec,
        seq_base=spec["start"],
        schema_history=live,
        final_history=w.history,
    ):
        batch = _gtid_window_filter(batch, w)
        if batch.num_rows:
            yield batch


from pyspark.sql.datasource import (  # noqa: E402  (public DataSource API)
    DataSource as _DataSource,
    SimpleDataSourceStreamReader as _SimpleStreamReader,
)


class MysqlBinlogTailStreamReader(_SimpleStreamReader):
    """SimpleDataSourceStreamReader over a live binlog directory. It
    shares the GTID window (``_binlog_window``, ``_window_ranges``) and
    the range decode (``_decode_binlog_range``) with the batch reader,
    ``MysqlBinlogReader``, and adds only what a live tail needs: the
    cursor and the carried decoder state.

    Offset = ``{"seq": <highest file seq seen>, "pos": <bytes of that
    file's consumed whole-event prefix>}``. Per micro-batch: rotated
    files newer than the cursor are consumed whole; for the ACTIVE
    (highest seq) file, decoder state (FDE checksum flag, pending
    GTID + sid, latest TABLE_MAP per table id — the format's context
    that precedes the cursor) is folded over the consumed prefix by a
    resumable HEADER-ONLY walk cached across batches, and only
    [cursor, new-prefix) value-decodes, through the columnar kernel —
    O(delta) events-to-visible latency (round 6; measured flat
    0.12–0.23s from 1 to 64 MiB active files, SCALE.md). ``read``
    returns the kernel's Arrow batches, cast to Spark's Arrow schema.
    The reference re-reads EVERY file on EVERY query
    (binlog_table_reader.cc:75-96). Files are append-only and seqs
    strictly increase (MySQL rotation), which makes readBetweenOffsets
    deterministic for replay (a replay older than the carry cache walks
    fresh, without touching the cache).

    GTID-positioned start: ``start_after_gno`` or ``start_after_sets``
    shape only the FIRST offset (the first in-window range) and then
    stay as the residual row filter; after that the (seq, pos) cursor
    owns progress."""

    def __init__(self, options: dict):
        self.path = options["path"]
        # a live tail has no end: stop_at_gno is the batch reader's
        self.window = _binlog_window(options)._replace(stop_at_gno=None)
        # round 6: per-file carried decoder state, so each micro-batch
        # header-walks and value-decodes only bytes past the cursor —
        # events-to-visible latency becomes O(delta), not O(active file)
        self._carry: dict[int, tuple[int, dict]] = {}

    def initialOffset(self):
        w = self.window
        files = self._files()
        if not files or (
            w.start_after_gno is None and w.start_after_sets is None
        ):
            return {"seq": -1, "pos": 0}
        # the first in-window range opens the stream at an event
        # boundary, which is what the (seq, pos) cursor means
        first = next(
            _window_ranges([p for _seq, p in files], w, 1 << 62),
            None,
        )
        if first is not None:
            return {"seq": _file_seq_of(first[0]), "pos": first[1]["start"]}
        # Everything is consumed: park at the newest file's last
        # COMPLETE-event boundary (not raw getsize(): on the active,
        # still-growing file that can fall mid-event on a torn tail
        # write, and a mid-event cursor makes every later micro-batch
        # read garbage event sizes — permanent stall or CRC kill) so
        # only new events surface.
        last_seq, last_path = files[-1]
        return {"seq": last_seq, "pos": _complete_prefix_len_path(last_path)}

    def _files(self) -> list[tuple[int, str]]:
        return [(_file_seq_of(p), p) for p in _binlog_paths(self.path)]

    def _delta(self, start: dict, upto: dict | None = None):
        from pyspark.sql.pandas.types import to_arrow_schema

        # the streaming source requires Spark's own Arrow schema (__tm
        # in UTC, the key columns not null); the batch scan skips this
        # cast, which costs its JVM side about a tenth of a replay
        schema = to_arrow_schema(self.window.out_schema)
        batches: list = []
        end = {"seq": start["seq"], "pos": start["pos"]}
        for seq, path in self._files():
            if seq < start["seq"]:
                continue
            if upto is not None and seq > upto["seq"]:
                continue
            lo = start["pos"] if seq == start["seq"] else 0
            # mid-file resume with a warm carry: seek to the cached
            # watermark and read only [watermark, EOF) — per-batch I/O
            # is O(new bytes), not O(active file). Cold (no cache, or a
            # replay older than it): read from 0 so the magic check
            # still guards foreign/just-rotated files.
            cached = self._carry.get(seq) if lo > 4 else None
            if cached is not None and cached[0] > lo:
                cached = None  # replay predates the cache: walk fresh
            base = cached[0] if cached is not None else 0
            with open(path, "rb") as fh:
                if base:
                    fh.seek(base)
                blob = fh.read()
            if base == 0:
                prefix = _complete_prefix_len(
                    blob, max(lo, 4), where=f"{path}: "
                )
                if prefix < 4:
                    # Not (yet) a binlog file: a just-rotated file whose
                    # 4-byte magic isn't on disk, or a foreign file in
                    # the watched dir (recovery temp, editor droppings).
                    # Skip this batch; a real binlog file is picked up
                    # once its magic lands — decoding b"" would kill
                    # the query.
                    continue
            else:
                prefix = base + _event_boundary_walk(
                    blob, lo - base, base, where=f"{path}: "
                )
            if upto is not None and seq == upto["seq"]:
                prefix = min(prefix, upto["pos"])
            if prefix <= lo and seq == start["seq"]:
                continue  # no new complete events in the active file
            state = {
                "checksum": None, "gtid": None, "sid": None,
                "rows_query": None, "maps": {},
            }
            if lo > 4:
                # fold decoder state over the consumed prefix (cached
                # across batches — only NEW bytes walk)
                walk_from = 4
                if cached is not None:
                    walk_from, state = cached
                _carry_walk(blob, walk_from - base, lo - base, state, base)
                if seq not in self._carry or lo >= self._carry[seq][0]:
                    self._carry[seq] = (lo, state)
            # then value-decode just [lo, prefix); a read from the file
            # head is the range [4, prefix) with nothing carried, the
            # magic already checked by _complete_prefix_len
            lo = max(lo, 4)
            spec = {
                "start": lo, "end": prefix,
                "checksum": state["checksum"], "gtid": state["gtid"],
                "sid": state["sid"], "rows_query": state["rows_query"],
                "table_maps": list(state["maps"].values()),
            }
            try:
                batches.extend(
                    b.cast(schema)
                    for b in _decode_binlog_range(
                        blob[lo - base : prefix - base], seq, spec,
                        self.window,
                    )
                )
            except Exception as e:
                e.add_note(f"{path}: bytes {lo}..{prefix}")
                raise
            if seq > end["seq"] or (seq == end["seq"] and prefix > end["pos"]):
                end = {"seq": seq, "pos": prefix}
        return batches, end

    def read(self, start):
        batches, end = self._delta(start)
        return iter(batches), end

    def readBetweenOffsets(self, start, end):
        return iter(self._delta(start, upto=end)[0])

    def commit(self, end):
        # rotated-away files never become active again: drop their
        # carry state so a long-running tail over a fast-rotating
        # server doesn't accumulate dead (watermark, maps) entries
        for seq in [s for s in self._carry if s < end["seq"]]:
            del self._carry[seq]


class MysqlBinlogTailDataSource(_DataSource):
    """``spark.readStream.format("mysql_binlog_tail")`` — the
    sub-rotation-latency tail of a live binlog directory. Options:
    path, schema_ddl (extended DDL, see datasource._parse_ddl),
    database, table."""

    @classmethod
    def name(cls) -> str:
        return "mysql_binlog_tail"

    def schema(self):
        return _binlog_window(dict(self.options)).out_schema

    def simpleStreamReader(self, schema):
        return MysqlBinlogTailStreamReader(dict(self.options))


def mysql_binlog_tail_stream(
    spark: SparkSession,
    path: str,
    schema_ddl: str,
    database: str,
    table: str,
    *,
    start_after_gno: int | None = None,
    start_after_sets: dict[str, int] | None = None,
    gtid_format: str | None = None,
) -> DataFrame:
    """readStream over the ``mysql_binlog_tail`` DataSource (register
    with ``sources.datasource.register``): sub-rotation-latency tail of
    a live binlog directory. ``schema_ddl`` uses the extended DDL of
    ``sources.datasource._parse_ddl`` (enum(...)/set(...)/bit/json/
    geometry).
    ``start_after_gno`` starts the FIRST micro-batch at the first
    transaction past a checkpointed GTID (head-pruned seek, same
    machinery as the batch resume) instead of the history's beginning;
    once running, the (seq, pos) offset owns progress as before.
    ``start_after_sets`` ({origin uuid: last-consumed gno}) is the
    MULTI-SOURCE form — the gtid_executed handoff of
    mysql_binlog_read_gtid_sets, for interleaved relay logs; it
    requires (and implies) gtid_format="uuid_gno"."""
    reader = (
        spark.readStream.format("mysql_binlog_tail")
        .option("path", path)
        .option("schema_ddl", schema_ddl)
        .option("database", database)
        .option("table", table)
    )
    if start_after_sets is not None:
        gtid_format = gtid_format or "uuid_gno"
        reader = reader.option(
            "start_after_sets",
            ",".join(f"{u}:{g}" for u, g in start_after_sets.items()),
        )
    if gtid_format is not None:
        reader = reader.option("gtid_format", gtid_format)
    if start_after_gno is not None:
        reader = reader.option("start_after_gno", str(start_after_gno))
    return reader.load()


def mysql_binlog_relay(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    schema_ddl: str,
    database: str,
    table: str,
    *,
    checkpoint: str,
    predicate=None,
    partitions: int = 4,
    compression: str | None = None,
    available_now: bool = False,
    processing_time: str = "1 second",
    start_after_gno: int | None = None,
):
    """The engine as a FILTERING binlog replication relay — a
    capability the reference cannot express at all (read-only scans,
    no write path, binlogdb.cc:283-345): tail a live binlog directory
    (sub-rotation latency, checkpointed cursor), optionally filter the
    changelog (``predicate``: Column or SQL string), and re-emit it as
    a new continuous rotating v4 series a downstream consumer — or
    this same engine — can tail in turn. Optionally re-compress
    (``compression="zstd"``) so the relay upgrades an uncompressed
    upstream to binlog_transaction_compression on the way through.

    Exactly-once at the row level across restarts (tail offsets +
    idempotent batch-id-named sink commits; the producer/consumer seam
    is covered by tests/test_mysql_binlog.py's concurrent relay test).
    Predicates must be TRANSACTION-STABLE: filter on keys, gtids, or
    columns constant within a transaction — a predicate that keeps one
    update image and drops its pair raises the sink's torn-transaction
    error rather than silently writing a broken series. Returns the
    StreamingQuery."""
    cl = mysql_binlog_tail_stream(
        spark, src_path, schema_ddl, database, table,
        start_after_gno=start_after_gno,
    )
    if predicate is not None:
        cl = cl.filter(predicate)
    w = (
        cl.repartition(partitions, "__gtid")
        .writeStream.format("mysql_binlog")
        .option("schema_ddl", schema_ddl)
        .option("database", database)
        .option("table", table)
        .option("checkpointLocation", checkpoint)
    )
    if compression is not None:
        w = w.option("compression", compression)
    if available_now:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime=processing_time)
    return w.start(dst_path)


# --- oracle-checked roundtrip query ------------------------------------------


def cdc_mysql_binlog_roundtrip(
    spark: SparkSession,
    sf_dir: str,
    payload_wrap: bool | str = False,
    _via: str = "inline",
) -> DataFrame:
    """End-to-end proof of the REAL binlog v4 format: derive a typed
    changelog from ``orders`` (LONGLONG + NEWDECIMAL + ENUM + DATE +
    fixed-width CHAR(2) + TIME(3)), frame it as byte-exact binlog
    files (one per Arrow batch — magic, FDE, GTID/TABLE_MAP/ROWS
    events), decode the files back, and aggregate per status with
    op-code and GTID terms in the output. The encode runs per batch
    (``_encode_files``) and the decode through the production columnar
    kernel (``_decode_files``) — no driver hop. The oracle
    computes the same aggregate straight from ``orders`` with integer
    arithmetic, so any framing/codec bit-rot (decimal group packing,
    enum index, date bit layout, binary-JSON tree encode/decode, update
    image ordering, GTID stamping) breaks the value hash. Every 10th
    key becomes an update pair (before-image price+1) instead of an
    insert. The ``props`` column rides MySQL's binary JSON wire format
    (type 245) both ways; its decoded text feeds ``get_json_object``
    and a length sum, so a single mis-encoded offset breaks the hash.
    The ``flag`` column is a fixed-width CHAR(2) — type 254 with the
    packed Field_string metadata the reference decodes via
    Field::unpack (binlog_table_reader.cc:151-156) — and ``took`` a
    TIME(3) whose values include NEGATIVE times, exercising the
    floor/truncation sign borrow between TIME2's int part and its
    fractional bytes; both land in the value hash via order-free
    aggregates (codepoint sum, signed total-milliseconds sum).
    The ``note`` column is a latin1 TEXT: its values carry bytes
    >= 0x80 that are NOT valid utf-8, so the columnar kernel's
    vectorized latin1->utf-8 transcode must be charset-aware or the
    codepoint sum (and Arrow's utf-8 validation) breaks."""
    import pandas as pd
    from decimal import Decimal as _D

    from pyspark.sql import functions as F

    from mysql_cdc_table_spark.operators._util import t

    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("price", T.DecimalType(12, 2)),
            T.StructField(
                "status",
                T.StringType(),
                metadata={"mysql_type": "enum", "values": ["F", "O", "P"]},
            ),
            T.StructField("odate", T.DateType()),
            T.StructField(
                "props", T.StringType(), metadata={"mysql_type": "json"}
            ),
            T.StructField(
                "flag",
                T.StringType(),
                metadata={"mysql_type": "char", "char_len": 2},
            ),
            T.StructField(
                "took",
                T.StringType(),
                metadata={"mysql_type": "time", "fsp": 3},
            ),
            T.StructField(
                "note",
                T.StringType(),
                metadata={"mysql_type": "text", "charset": "latin1"},
            ),
        ]
    )
    base = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.expr(
                "cast(cast(o_orderkey % 100000 as decimal(30,2)) / 100"
                " as decimal(12,2))"
            ).alias("price"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderdate").cast("date").alias("odate"),
            F.expr(
                "char(65 + o_orderkey % 26) || "
                "char(65 + (o_orderkey div 26) % 26)"
            ).alias("flag"),
            # every 7th key is a NEGATIVE duration — the TIME2 sign
            # borrow must survive encode+decode to keep the hash
            F.expr(
                "concat(if(o_orderkey % 7 = 0, '-', ''),"
                " o_orderkey % 120, ':',"
                " lpad(o_orderkey % 60, 2, '0'), ':',"
                " lpad((o_orderkey * 7) % 60, 2, '0'), '.',"
                " lpad(o_orderkey % 1000, 3, '0'))"
            ).alias("took"),
            # latin1 TEXT: codepoints U+00C0-DF and U+00A1-B0 — single
            # bytes >= 0x80 on the latin1 wire, NOT valid utf-8
            F.expr(
                "char(192 + o_orderkey % 32) || 'n' || "
                "char(161 + o_orderkey % 16)"
            ).alias("note"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "id")
    )

    def build(pdf: pd.DataFrame) -> bytes:
        txns = []
        for r in pdf.itertuples(index=False):
            rid = int(r.id)
            # keys already in MySQL's canonical (length, bytes) key
            # order so decode(encode(text)) reproduces text exactly
            props = (
                f'{{"k":{rid % 10007},"s":"{r.status}",'
                f'"arr":[{rid % 3},null,true]}}'
            )
            row = {
                "id": rid,
                "price": r.price,
                "status": r.status,
                "odate": r.odate,
                "props": props,
                "flag": r.flag,
                "took": r.took,
                "note": r.note,
            }
            if row["id"] % 10 == 0:
                before = dict(row, price=row["price"] + _D(1))
                txns.append({"gno": row["id"], "op": "u", "rows": [(before, row)]})
            else:
                txns.append({"gno": row["id"], "op": "w", "rows": [row]})
        # checksum=True mirrors MySQL 8's default binlog_checksum=
        # CRC32, so the driver's value hash covers CRC write AND
        # the reader's verify-on-decode (round 5)
        return build_binlog_file(
            "tpch", "orders", target, txns, payload_wrap=payload_wrap,
            checksum=True,
        )

    files = _encode_files(base, build)

    if _via == "parallel":
        decoded = _stage_and_read_parallel(
            spark, sf_dir, files, target, payload_wrap
        )
    else:
        decoded = _decode_files(files, target, "tpch", "orders")

    after = F.col("__op").isin(CDC_INSERT, CDC_UPDATE_AFTER)
    return decoded.groupBy("status").agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(F.col("__op") == CDC_UPDATE_AFTER, 1)).alias(
            "n_update_pairs"
        ),
        F.sum(F.when(after, (F.col("price") * 100).cast("long"))).alias(
            "cents_sum"
        ),
        F.sum(F.when(after, F.col("__gtid"))).alias("gtid_sum"),
        F.min("odate").alias("first_date"),
        F.max("odate").alias("last_date"),
        F.sum(
            F.when(
                after, F.get_json_object("props", "$.k").cast("long")
            )
        ).alias("json_k_sum"),
        F.sum(F.when(after, F.length("props").cast("long"))).alias(
            "json_len_sum"
        ),
        # CHAR(2): both codepoints weighted so a swapped/garbled byte
        # moves the sum; TIME(3): signed total milliseconds re-parsed
        # from the DECODED canonical string — any fsp/sign/borrow slip
        # in the wire codec lands here
        F.sum(
            F.when(
                after,
                F.ascii("flag") * 256
                + F.ascii(F.substring("flag", 2, 1)),
            ).cast("long")
        ).alias("flag_ord_sum"),
        F.sum(
            F.when(
                after,
                F.expr(
                    "if(startswith(took, '-'), -1, 1) * ("
                    " cast(regexp_extract(took, '^-?(\\\\d+):', 1) as bigint)"
                    "   * 3600000"
                    " + cast(regexp_extract(took, ':(\\\\d{2}):', 1) as bigint)"
                    "   * 60000"
                    " + cast(regexp_extract(took, ':(\\\\d{2})\\\\.', 1) as bigint)"
                    "   * 1000"
                    " + cast(regexp_extract(took, '\\\\.(\\\\d{3})$', 1) as bigint))"
                ),
            )
        ).alias("took_ms_sum"),
        # latin1 TEXT: both non-ASCII codepoints weighted — a decode
        # that mangled either latin1 byte (or mojibake'd it through a
        # utf-8 assumption) moves the sum
        F.sum(
            F.when(
                after,
                F.ascii("note") * 1000
                + F.ascii(F.substring("note", 3, 1)),
            ).cast("long")
        ).alias("note_ord_sum"),
    )


def _stage_binlog_files(
    spark: SparkSession, files: DataFrame, tag_seed: str
) -> str:
    """Write ``(path, content)`` rows (``_encode_files``) to a
    per-application staging dir, each under its ``path`` name, and
    return the dir. The dir is wiped before each invocation so a
    changed partition count can't leave stale files, and an atexit
    hook removes it when the driver exits."""
    import atexit
    import hashlib
    import shutil
    import tempfile

    import pandas as pd

    from mysql_cdc_table_spark.sources import fs as _hfs

    # per-application dir: repeated invocations in ONE session reuse and
    # rewrite it deterministically; concurrent sessions are isolated, so
    # the wipe below cannot race another session's in-flight read
    tag = hashlib.md5(
        f"{tag_seed}|{spark.sparkContext.applicationId}".encode()
    ).hexdigest()[:8]
    stage = os.path.join(tempfile.gettempdir(), f"cdc_parallel_binlogs_{tag}")
    if _hfs.exists(spark, stage):
        _hfs.delete(spark, stage)
    os.makedirs(stage, exist_ok=True)
    atexit.register(shutil.rmtree, stage, ignore_errors=True)

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, blob in zip(pdf["path"], pdf["content"]):
                b = bytes(blob)
                name = os.path.basename(str(path))
                with open(os.path.join(stage, name), "wb") as fh:
                    fh.write(b)
                yield pd.DataFrame({"n": [len(b)]})

    files.mapInPandas(write, schema="n long").agg(F.sum("n")).collect()
    return stage


def _stage_and_read_parallel(
    spark: SparkSession,
    sf_dir: str,
    files: DataFrame,
    target: T.StructType,
    payload_wrap,
) -> DataFrame:
    """Stage the encoded blobs (_stage_binlog_files), then read them
    back through the PARALLEL split scan with a split size small enough
    to force several ranges per file."""
    stage = _stage_binlog_files(spark, files, f"{sf_dir}|{payload_wrap}")
    return mysql_binlog_read_parallel(
        spark, stage, target, "tpch", "orders", split_bytes=4096
    )



def cdc_binlog_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived state THROUGH the real binlog format: frame an
    insert/update/delete changelog as binlog v4 bytes, decode, then run
    ``latest_state`` and aggregate the surviving keys. This pins the
    ordering semantics end-to-end in the value hash: the update
    after-image (price unchanged) must beat its before-image (price+1)
    on (__gtid, __event_seq, __image_seq), and every 17th key's delete
    transaction (a later GTID) must drop the key entirely. A decode
    that scrambled image order or missed tombstones shifts cents_sum or
    n_live."""
    import pandas as pd
    from decimal import Decimal as _D

    from pyspark.sql import functions as F

    from mysql_cdc_table_spark.cdc.ops import latest_state
    from mysql_cdc_table_spark.operators._util import t

    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("price", T.DecimalType(12, 2)),
            T.StructField(
                "status",
                T.StringType(),
                metadata={"mysql_type": "enum", "values": ["F", "O", "P"]},
            ),
        ]
    )
    base = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.expr(
                "cast(cast(o_orderkey % 100000 as decimal(30,2)) / 100"
                " as decimal(12,2))"
            ).alias("price"),
            F.col("o_orderstatus").alias("status"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "id")
    )

    def build(pdf: pd.DataFrame) -> bytes:
        txns = []
        for r in pdf.itertuples(index=False):
            row = {"id": int(r.id), "price": r.price, "status": r.status}
            if row["id"] % 10 == 0:
                before = dict(row, price=row["price"] + _D(1))
                txns.append(
                    {"gno": row["id"], "op": "u", "rows": [(before, row)]}
                )
            else:
                txns.append({"gno": row["id"], "op": "w", "rows": [row]})
            if row["id"] % 17 == 0:
                txns.append(
                    {
                        "gno": row["id"] + 1_000_000_000,
                        "op": "d",
                        "rows": [row],
                    }
                )
        return build_binlog_file("tpch", "orders", target, txns)

    files = _encode_files(base, build)
    live = latest_state(_decode_files(files, target, "tpch", "orders"), ["id"])
    return live.groupBy("status").agg(
        F.count("*").alias("n_live"),
        F.sum((F.col("price") * 100).cast("long")).alias("cents_sum"),
    )


def cdc_binlog_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ALTER TABLE ADD COLUMN mid-stream, driver-checked end-to-end:
    every file holds a pre-ALTER generation (TABLE_MAP with two
    columns: even order keys) followed by a post-ALTER generation
    (three columns: odd keys). Decoding with the LATEST schema must
    surface the old generation's missing ``status`` as NULL and the new
    generation's values intact — the aggregate groups by that
    NULL-ness, so a decoder that misaligned either generation's layout
    (the reference rebuilds its table_def from EVERY table map and
    would interleave them, binlog_table_reader.cc:402-403) breaks the
    hash."""
    import pandas as pd

    from pyspark.sql import functions as F

    from mysql_cdc_table_spark.operators._util import t

    old_target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("price", T.DecimalType(12, 2)),
        ]
    )
    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("price", T.DecimalType(12, 2)),
            T.StructField(
                "status",
                T.StringType(),
                metadata={"mysql_type": "enum", "values": ["F", "O", "P"]},
            ),
        ]
    )
    base = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.expr(
                "cast(cast(o_orderkey % 100000 as decimal(30,2)) / 100"
                " as decimal(12,2))"
            ).alias("price"),
            F.col("o_orderstatus").alias("status"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "id")
    )

    def build(pdf: pd.DataFrame) -> bytes:
        old_txns, new_txns = [], []
        for r in pdf.itertuples(index=False):
            rid = int(r.id)
            if rid % 2 == 0:  # pre-ALTER generation
                old_txns.append(
                    {"gno": rid, "op": "w",
                     "rows": [{"id": rid, "price": r.price}]}
                )
            else:
                new_txns.append(
                    {"gno": rid, "op": "w",
                     "rows": [{"id": rid, "price": r.price,
                               "status": r.status}]}
                )
        blob = build_binlog_file("tpch", "orders", old_target, old_txns)
        # the ALTER: a new TABLE_MAP generation in the same stream
        blob += build_binlog_file("tpch", "orders", target, new_txns)[4:]
        return blob

    decoded = _decode_files(
        _encode_files(base, build), target, "tpch", "orders"
    )
    return decoded.groupBy(
        F.col("status").isNotNull().alias("post_alter")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum((F.col("price") * 100).cast("long")).alias("cents_sum"),
        F.sum("__gtid").alias("gtid_sum"),
        F.count("status").alias("n_status"),
    )


CDC_BINLOG_SCHEMA_EVOLUTION_SQL = """
SELECT (o_orderkey % 2 = 1) AS post_alter,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_orderkey % 100000) AS BIGINT) AS cents_sum,
       CAST(sum(o_orderkey) AS BIGINT) AS gtid_sum,
       CAST(count(CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END)
            AS BIGINT) AS n_status
FROM orders GROUP BY 1
"""


def cdc_binlog_multi_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table demux of an INTERLEAVED multi-table stream: each file
    alternates orders-table and audit-table transactions (distinct
    table_ids, different layouts) in gno order, the way concurrent
    sessions land in a real binlog. The decode runs once per target
    table over the same bytes — table_id filtering plus per-table
    TABLE_MAP state — and the union aggregates per table. A filter
    leak doubles counts; cross-table layout bleed (the reference's
    rebuild-from-every-map reader, binlog_table_reader.cc:402-403,
    interleaves table_defs exactly here) misaligns a decode and breaks
    the hash."""
    import pandas as pd

    from pyspark.sql import functions as F

    from mysql_cdc_table_spark.operators._util import t

    orders_t = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("price", T.DecimalType(12, 2)),
        ]
    )
    audit_t = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "status",
                T.StringType(),
                metadata={"mysql_type": "enum", "values": ["F", "O", "P"]},
            ),
            T.StructField("note", T.StringType()),
        ]
    )
    base = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.expr(
                "cast(cast(o_orderkey % 100000 as decimal(30,2)) / 100"
                " as decimal(12,2))"
            ).alias("price"),
            F.col("o_orderstatus").alias("status"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "id")
    )

    def build(pdf: pd.DataFrame) -> bytes:
        o_txns, a_txns = [], []
        for r in pdf.itertuples(index=False):
            rid = int(r.id)
            o_txns.append(
                {"gno": 2 * rid, "op": "w",
                 "rows": [{"id": rid, "price": r.price}]}
            )
            a_txns.append(
                {"gno": 2 * rid + 1, "op": "w",
                 "rows": [{"id": rid, "status": r.status,
                           "note": f"n{rid % 97}"}]}
            )
        return build_binlog_file_multi(
            [
                {"db": "tpch", "table": "orders", "target": orders_t,
                 "table_id": 23, "txns": o_txns},
                {"db": "tpch", "table": "orders_audit", "target": audit_t,
                 "table_id": 24, "txns": a_txns},
            ]
        )

    files = _encode_files(base, build)
    # No persist: encode is deterministic, so letting each decode branch
    # recompute it costs one extra linear pass but leaks no cached
    # blocks across the bench's repeated invocations of this query.
    orders_cl = _decode_files(files, orders_t, "tpch", "orders")
    audit_cl = _decode_files(files, audit_t, "tpch", "orders_audit")
    o_agg = orders_cl.agg(
        F.lit("orders").alias("src_table"),
        F.count("*").alias("n_rows"),
        F.sum((F.col("price") * 100).cast("long")).alias("value_sum"),
        F.sum("__gtid").alias("gtid_sum"),
    ).select("src_table", "n_rows", "value_sum", "gtid_sum")
    a_agg = audit_cl.agg(
        F.lit("orders_audit").alias("src_table"),
        F.count("*").alias("n_rows"),
        F.sum(F.length("note").cast("long")).alias("value_sum"),
        F.sum("__gtid").alias("gtid_sum"),
    ).select("src_table", "n_rows", "value_sum", "gtid_sum")
    return o_agg.unionByName(a_agg)


CDC_BINLOG_MULTI_TABLE_SQL = """
SELECT 'orders' AS src_table,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_orderkey % 100000) AS BIGINT) AS value_sum,
       CAST(sum(2 * o_orderkey) AS BIGINT) AS gtid_sum
FROM orders
UNION ALL
SELECT 'orders_audit' AS src_table,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(1 + length(CAST(o_orderkey % 97 AS VARCHAR))) AS BIGINT)
         AS value_sum,
       CAST(sum(2 * o_orderkey + 1) AS BIGINT) AS gtid_sum
FROM orders
"""


def cdc_binlog_zstd_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cdc_mysql_binlog_roundtrip changelog THROUGH
    binlog_transaction_compression=ON (MySQL 8.0.20+): each
    transaction's TABLE_MAP + ROWS stream is zstd-compressed inside a
    TRANSACTION_PAYLOAD event and decompressed during decode (stdlib /
    zstandard / ctypes-libzstd backend, whichever resolves). The oracle
    is byte-for-byte the uncompressed query's — compression must be
    invisible in the decoded changelog, ordering keys included. The
    reference skips TRANSACTION_PAYLOAD entirely
    (binlog_table_reader.cc:427-428 default-skips unknown types), so a
    compressed server silently yields an EMPTY changelog there; this
    engine decodes it."""
    return cdc_mysql_binlog_roundtrip(spark, sf_dir, payload_wrap="zstd")


def cdc_binlog_partial_json_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JSON partial updates through the REAL binlog format
    (binlog_row_value_options=PARTIAL_JSON, PARTIAL_UPDATE_ROWS_EVENT
    type 39): every orders row becomes one partial-update transaction —
    the after-image's ``props`` column carries a Json_diff_vector
    (REPLACE $.k, INSERT $.new, REMOVE $.drop, REPLACE $.arr[1])
    instead of a full document, plus a changed non-JSON column (price)
    in the same image. Decode applies the diffs against the before
    image; the aggregate pins before- AND after-image JSON terms, the
    canonical serialized length, the non-JSON after value, and GTID
    propagation in one value hash. The reference default-skips event
    type 39 (binlog_table_reader.cc:427-428) — on a PARTIAL_JSON server
    it silently loses every such update; this engine decodes them."""
    import pandas as pd
    from decimal import Decimal as _D

    from pyspark.sql import functions as F

    from mysql_cdc_table_spark.operators._util import t

    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("price", T.DecimalType(12, 2)),
            T.StructField(
                "status",
                T.StringType(),
                metadata={"mysql_type": "enum", "values": ["F", "O", "P"]},
            ),
            T.StructField(
                "props", T.StringType(), metadata={"mysql_type": "json"}
            ),
        ]
    )
    base = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.expr(
                "cast(cast(o_orderkey % 100000 as decimal(30,2)) / 100"
                " as decimal(12,2))"
            ).alias("price"),
            F.col("o_orderstatus").alias("status"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "id")
    )

    def build(pdf: pd.DataFrame) -> bytes:
        txns = []
        for r in pdf.itertuples(index=False):
            rid = int(r.id)
            before = {
                "id": rid,
                "price": r.price,
                "status": r.status,
                "props": (
                    f'{{"k":{rid % 10007},"s":"{r.status}",'
                    f'"arr":[{rid % 3},null,true],"drop":"x"}}'
                ),
            }
            after = {
                "id": rid,
                "price": r.price + _D(1),
                "status": r.status,
                # props deliberately absent: it travels as diffs
            }
            diffs = {
                "props": [
                    ("replace", "$.k", rid % 211),
                    ("insert", "$.new", rid % 7),
                    ("remove", "$.drop", None),
                    ("replace", "$.arr[1]", rid % 5),
                ]
            }
            txns.append(
                {"gno": rid, "op": "pu", "rows": [(before, after, diffs)]}
            )
        return build_binlog_file("tpch", "orders", target, txns)

    decoded = _decode_files(
        _encode_files(base, build), target, "tpch", "orders"
    )

    bef = F.col("__op") == CDC_UPDATE_BEFORE
    aft = F.col("__op") == CDC_UPDATE_AFTER
    jget = lambda p: F.get_json_object("props", p).cast("long")
    return decoded.groupBy("status").agg(
        F.count(F.when(aft, 1)).alias("n_pairs"),
        F.sum(F.when(bef, jget("$.k"))).alias("before_k_sum"),
        F.sum(F.when(aft, jget("$.k"))).alias("after_k_sum"),
        F.sum(F.when(aft, jget("$.new"))).alias("new_sum"),
        F.sum(F.when(aft, jget("$.arr[1]"))).alias("arr1_sum"),
        F.count(F.when(aft & F.get_json_object("props", "$.drop").isNull(), 1)).alias(
            "drop_gone"
        ),
        F.sum(F.when(aft, (F.col("price") * 100).cast("long"))).alias(
            "after_cents_sum"
        ),
        F.sum(F.when(aft, F.col("__gtid"))).alias("gtid_sum"),
        F.sum(F.when(aft, F.length("props").cast("long"))).alias(
            "after_len_sum"
        ),
    )


CDC_BINLOG_PARTIAL_JSON_SQL = """
WITH b AS (
  SELECT o_orderkey AS id,
         o_orderkey % 100000 AS cents,
         o_orderstatus AS status,
         -- canonical text the diff-apply must serialize to:
         -- {"k":<id%211>,"s":"<status>","arr":[<id%3>,<id%5>,true],"new":<id%7>}
         length('{"k":' || CAST(o_orderkey % 211 AS VARCHAR) || ',"s":"'
                || o_orderstatus || '","arr":[' || CAST(o_orderkey % 3 AS VARCHAR)
                || ',' || CAST(o_orderkey % 5 AS VARCHAR) || ',true],"new":'
                || CAST(o_orderkey % 7 AS VARCHAR) || '}') AS after_len
  FROM orders
)
SELECT status,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(id % 10007) AS BIGINT) AS before_k_sum,
       CAST(sum(id % 211) AS BIGINT) AS after_k_sum,
       CAST(sum(id % 7) AS BIGINT) AS new_sum,
       CAST(sum(id % 5) AS BIGINT) AS arr1_sum,
       CAST(count(*) AS BIGINT) AS drop_gone,
       CAST(sum(cents + 100) AS BIGINT) AS after_cents_sum,
       CAST(sum(id) AS BIGINT) AS gtid_sum,
       CAST(sum(after_len) AS BIGINT) AS after_len_sum
FROM b GROUP BY status
"""


CDC_BINLOG_LATEST_STATE_SQL = """
SELECT o_orderstatus AS status,
       CAST(count(*) AS BIGINT) AS n_live,
       CAST(sum(o_orderkey % 100000) AS BIGINT) AS cents_sum
FROM orders
WHERE o_orderkey % 17 <> 0
GROUP BY o_orderstatus
"""


def cdc_binlog_parallel_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cdc_mysql_binlog_roundtrip THROUGH the parallel split scan
    (mysql_binlog_read_parallel): identical encode, identical
    aggregate, but the staged files decode as transaction-aligned
    byte RANGES with carried TABLE_MAP/GTID/checksum state rather than
    whole files. The oracle is byte-for-byte the sequential
    roundtrip's — splitting must be invisible in the decoded
    changelog. ROUND5_LATE_KEYS: first driver row in round 6."""
    return cdc_mysql_binlog_roundtrip(spark, sf_dir, _via="parallel")


CDC_MYSQL_BINLOG_ROUNDTRIP_SQL = """
WITH b AS (
  SELECT o_orderkey AS id,
         o_orderkey % 100000 AS cents,
         o_orderstatus AS status,
         CAST(o_orderdate AS DATE) AS odate,
         CASE WHEN o_orderkey % 10 = 0 THEN 2 ELSE 1 END AS nimg,
         -- the compact-JSON text the binlog JSON codec must reproduce:
         -- {"k":<id%10007>,"s":"<status>","arr":[<id%3>,null,true]}
         32 + length(CAST(o_orderkey % 10007 AS VARCHAR)) + 1 + 1
           AS props_len,
         -- CHAR(2) codepoints: chr(65+id%26), chr(65+(id//26)%26)
         (65 + o_orderkey % 26) * 256 + 65 + (o_orderkey // 26) % 26
           AS flag_ord,
         -- TIME(3) signed total milliseconds
         (CASE WHEN o_orderkey % 7 = 0 THEN -1 ELSE 1 END) * (
             (o_orderkey % 120) * 3600000
           + (o_orderkey % 60) * 60000
           + ((o_orderkey * 7) % 60) * 1000
           + o_orderkey % 1000
         ) AS took_ms,
         -- latin1 TEXT codepoints: chr(192+id%32) .. chr(161+id%16)
         (192 + o_orderkey % 32) * 1000 + 161 + o_orderkey % 16
           AS note_ord
  FROM orders
)
SELECT status,
       CAST(sum(nimg) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN nimg = 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_update_pairs,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       CAST(sum(id) AS BIGINT) AS gtid_sum,
       min(odate) AS first_date,
       max(odate) AS last_date,
       CAST(sum(id % 10007) AS BIGINT) AS json_k_sum,
       CAST(sum(props_len) AS BIGINT) AS json_len_sum,
       CAST(sum(flag_ord) AS BIGINT) AS flag_ord_sum,
       CAST(sum(took_ms) AS BIGINT) AS took_ms_sum,
       CAST(sum(note_ord) AS BIGINT) AS note_ord_sum
FROM b GROUP BY status
"""

# Compression must be invisible in the decoded changelog, so the zstd
# roundtrip shares the uncompressed roundtrip's oracle verbatim.
CDC_BINLOG_ZSTD_ROUNDTRIP_SQL = CDC_MYSQL_BINLOG_ROUNDTRIP_SQL


def cdc_binlog_legacy_temporal_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pre-5.6.4 temporal wire formats through the real binlog v4
    framing: MYSQL_TYPE_TIMESTAMP (code 7, 4-byte LE unix seconds),
    MYSQL_TYPE_DATETIME (code 12, 8-byte LE decimal-packed
    YYYYMMDDHHMMSS) and MYSQL_TYPE_TIME (code 11, 3-byte LE signed
    H*10000+M*100+S, negatives included) — the formats binlogs from
    servers older than 5.6.4 carry, which the reference inherits from
    Field::unpack (binlog_table_reader.cc:151-156). Encode a typed
    changelog from ``orders`` into binlog files carrying the legacy
    codes, decode back, and fold every component into order-free sums
    so one mispacked digit pair or a dropped sign breaks the value
    hash. The oracle recomputes the sums from ``orders`` arithmetic."""
    import pandas as pd

    from pyspark.sql import functions as F

    from mysql_cdc_table_spark.operators._util import t

    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "ts",
                T.TimestampType(),
                metadata={"mysql_type": "timestamp_v1"},
            ),
            T.StructField(
                "dtm",
                T.TimestampType(),
                metadata={"mysql_type": "datetime_v1"},
            ),
            T.StructField(
                "dur", T.StringType(), metadata={"mysql_type": "time_v1"}
            ),
            T.StructField(
                "status",
                T.StringType(),
                metadata={"mysql_type": "enum", "values": ["F", "O", "P"]},
            ),
        ]
    )
    base = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.timestamp_seconds(
                F.lit(800000000) + F.col("o_orderkey")
            ).alias("ts"),
            F.expr(
                "make_timestamp(1990 + o_orderkey % 30, 1 + o_orderkey % 12,"
                " 1 + o_orderkey % 28, o_orderkey % 24, o_orderkey % 60,"
                " (o_orderkey * 3) % 60)"
            ).alias("dtm"),
            F.expr(
                "concat(if(o_orderkey % 5 = 0, '-', ''),"
                " o_orderkey % 200, ':',"
                " lpad(o_orderkey % 60, 2, '0'), ':',"
                " lpad((o_orderkey * 11) % 60, 2, '0'))"
            ).alias("dur"),
            F.col("o_orderstatus").alias("status"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "id")
    )

    def build(pdf: pd.DataFrame) -> bytes:
        txns = [
            {
                "gno": int(r.id),
                "op": "w",
                "rows": [
                    {
                        "id": int(r.id),
                        "ts": r.ts,
                        "dtm": r.dtm,
                        "dur": r.dur,
                        "status": r.status,
                    }
                ],
            }
            for r in pdf.itertuples(index=False)
        ]
        return build_binlog_file(
            "tpch", "orders_legacy", target, txns, checksum=True
        )

    decoded = _decode_files(
        _encode_files(base, build), target, "tpch", "orders_legacy"
    )
    return decoded.groupBy("status").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.unix_timestamp("ts")).alias("ts_sum"),
        F.sum(
            F.year("dtm") * 10000
            + F.month("dtm") * 100
            + F.dayofmonth("dtm")
        ).cast("long").alias("dtm_date_sum"),
        F.sum(
            F.hour("dtm") * 3600 + F.minute("dtm") * 60 + F.second("dtm")
        ).cast("long").alias("dtm_time_sum"),
        F.sum(
            F.expr(
                "if(startswith(dur, '-'), -1, 1) * ("
                " cast(regexp_extract(dur, '^-?(\\\\d+):', 1) as bigint)"
                "   * 3600"
                " + cast(regexp_extract(dur, ':(\\\\d{2}):', 1) as bigint)"
                "   * 60"
                " + cast(regexp_extract(dur, ':(\\\\d{2})$', 1) as bigint))"
            )
        ).alias("dur_s_sum"),
        F.sum("__gtid").alias("gtid_sum"),
    )


_DDL_CREATE = (
    "CREATE TABLE `tpch`.`orders` (\n"
    "  `id` BIGINT NOT NULL,\n"
    "  `price` DECIMAL(12,2) DEFAULT '0.00',\n"
    "  `flag` CHAR(2) COMMENT 'country, flag',\n"
    "  `note` TEXT,\n"
    "  PRIMARY KEY (`id`)\n"
    ") ENGINE=InnoDB DEFAULT CHARSET=utf8mb4"
)
_DDL_ALTER = (
    "ALTER TABLE `tpch`.`orders` "
    "ADD COLUMN `status` ENUM('F','O','P') NOT NULL, "
    "ADD COLUMN `took` TIME(3) NULL, "
    "ADD INDEX `i_status` (`status`)"
)
_DDL_ALTER2 = (
    "ALTER TABLE `tpch`.`orders` "
    "MODIFY COLUMN `price` DECIMAL(14,4), "
    "CHANGE COLUMN `flag` `cflag` CHAR(2), "
    "RENAME COLUMN `note` TO `memo`"
)


def _ddl_generations() -> list[tuple[str, T.StructType]]:
    """The DDL-history fixture's three ``(statement, layout)``
    generations. The encode layouts come from the DDL itself — the
    same replay the decode side performs (a mis-parse would break
    encode and decode SYMMETRICALLY, which is why the value hash pins
    raw column expressions, not a roundtrip identity)."""
    from mysql_cdc_table_spark.sources.mysql_ddl import schema_from_ddl_history

    ddls = [_DDL_CREATE, _DDL_ALTER, _DDL_ALTER2]
    return [
        (d, schema_from_ddl_history(ddls[: g + 1], "tpch.orders"))
        for g, d in enumerate(ddls)
    ]


def _ddl_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql_cdc_table_spark.operators._util import t

    return (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.expr(
                "cast(cast(o_orderkey % 100000 as decimal(30,2)) / 100"
                " as decimal(12,2))"
            ).alias("price"),
            F.expr(
                "char(65 + o_orderkey % 26) || "
                "char(65 + (o_orderkey div 26) % 26)"
            ).alias("flag"),
            F.expr(
                "repeat('x', o_orderkey % 37) || '#' || o_orderkey"
            ).alias("note"),
            F.col("o_orderstatus").alias("status"),
            F.expr(
                "concat(if(o_orderkey % 7 = 0, '-', ''),"
                " o_orderkey % 120, ':',"
                " lpad(o_orderkey % 60, 2, '0'), ':',"
                " lpad((o_orderkey * 7) % 60, 2, '0'), '.',"
                " lpad(o_orderkey % 1000, 3, '0'))"
            ).alias("took"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "id")
    )


def _ddl_rows(pdf, g: int) -> list[dict]:
    """Insert transactions for the batch's generation-``g`` keys
    (id % 3 == g), framed under that generation's column names."""
    txns = []
    for r in pdf.itertuples(index=False):
        rid = int(r.id)
        if rid % 3 != g:
            continue
        if g == 0:  # CREATE generation
            row = {"id": rid, "price": r.price, "flag": r.flag, "note": r.note}
        elif g == 1:  # post-ADD generation
            row = {
                "id": rid, "price": r.price, "flag": r.flag, "note": r.note,
                "status": r.status, "took": r.took,
            }
        else:  # post-MODIFY/CHANGE/RENAME generation
            row = {
                "id": rid, "price": r.price, "cflag": r.flag, "memo": r.note,
                "status": r.status, "took": r.took,
            }
        txns.append({"gno": rid + 10, "op": "w", "rows": [row]})
    return txns


def _ddl_fixture(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, T.StructType]:
    """Debezium-style schema-history fixture: the stream's layout is
    learned ONLY from the DDL statements in the log — a CREATE TABLE
    Query_log_event opens each file, rows of that generation follow, an
    ALTER TABLE ADD COLUMN Query event lands mid-stream, and the later
    generation's rows carry the added columns. No user-declared schema,
    no binlog_row_metadata=FULL TLVs (the path MINIMAL-metadata and
    pre-8.0.1 binlogs need; the inference twin of
    ``cdc_binlog_full_metadata_roundtrip``). THREE generations stream
    through one log: the CREATE's layout, an ALTER ADD COLUMN
    generation (older TABLE_MAPs prefix-match, added columns surface
    NULL), and an ALTER mixing MODIFY COLUMN (decimal widened
    (12,2)→(14,4)), CHANGE COLUMN (rename + retype) and RENAME COLUMN,
    which NO latest-schema prefix match can decode: the reader carries
    a ``SchemaHistory`` through the walk, resolves each TABLE_MAP
    against the generation in effect, and joins old positions to the
    latest names on column IDENTITY. The DDL text deliberately carries
    the traps a lazy parser trips on: quoted identifiers, a quoted
    comma inside a COMMENT, DEFAULT literals, PRIMARY KEY/INDEX
    clauses, a multi-op ALTER mixing ADD COLUMNs with an ADD INDEX,
    ENGINE options. Any mis-parse misaligns the positional decode and
    breaks the value hash (CHAR, ENUM, TIME(3) with negative values
    all land in it). The reference cannot see QUERY events at all
    (binlog_table_reader.cc:427-428). Returns the encoded ``(path,
    content)`` files and the final layout."""
    gens = _ddl_generations()

    def build(pdf) -> bytes:
        blob = b""
        for g, (ddl, layout) in enumerate(gens):
            part = build_binlog_file(
                "tpch", "orders", layout,
                [{"gno": g + 1, "ddl": ddl}] + _ddl_rows(pdf, g),
                checksum=True,
            )
            blob += part if g == 0 else part[4:]
        return blob

    return _encode_files(_ddl_base(spark, sf_dir), build), gens[-1][1]


def cdc_binlog_ddl_schema_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ``_ddl_fixture`` log through the SCALAR walk
    (``decode_binlog_bytes(schema_history=...)``): the reference model
    the columnar twin ``cdc_binlog_ddl_vec_decode`` is held to — the
    two share one oracle verbatim, so both kernels must produce
    identical aggregates from identical bytes."""
    import pandas as pd

    from mysql_cdc_table_spark.sources.mysql_ddl import SchemaHistory

    files, target = _ddl_fixture(spark, sf_dir)
    out_schema = changelog_schema(target)
    names = [f.name for f in out_schema.fields]

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for blob in pdf["content"]:
                # ONE pass: the history folds as the walk streams past
                # the Query events; per-generation TABLE_MAPs resolve
                # against the layout in effect, rows surface under the
                # latest names via column identity
                rows = decode_binlog_bytes(
                    bytes(blob), None, "tpch", "orders",
                    schema_history=SchemaHistory("orders", database="tpch"),
                )
                yield pd.DataFrame(
                    {n: [r.get(n) for r in rows] for n in names}
                )

    return _ddl_fixture_agg(files.mapInPandas(decode, schema=out_schema))


def cdc_binlog_ddl_vec_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME three-generation DDL-history fixture through the
    COLUMNAR Arrow kernel (``_decode_files(schema_history=...)``): the
    kernel pre-walks each file's DDL headers to learn the final
    generation, batches each generation's rows vectorized, and places
    columns by identity with type casts at flush. Shares
    ``cdc_binlog_ddl_schema_decode``'s oracle verbatim."""
    from mysql_cdc_table_spark.sources.mysql_ddl import SchemaHistory

    files, target = _ddl_fixture(spark, sf_dir)
    return _ddl_fixture_agg(
        _decode_files(
            files, target, "tpch", "orders",
            schema_history=SchemaHistory("orders", database="tpch"),
        )
    )


def cdc_binlog_ddl_split_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The series fixture (``_ddl_series_stage``) decoded as PARALLEL
    transaction-aligned byte ranges: ``format("mysql_binlog")`` without
    a schema, with ``split_bytes`` an eighth of the smallest staged data
    file, so every data file cuts into several ranges at any scale.
    Each range decodes INDEPENDENTLY through the columnar kernel: a
    fresh ``SchemaHistory`` seeded from the DDL that precedes it (here
    all in earlier files), columns placed onto the series-final
    generation by column identity. The union must aggregate identically
    to the whole-file walk (the oracle is shared verbatim). The
    per-file ``_ddl_fixture`` cannot be read as one series: each of
    its files re-states CREATE TABLE after its ALTERs, which opens a
    new generation and would null the renamed columns."""
    import glob

    stage = _ddl_series_stage(spark, sf_dir, "ddlsplit")
    data = glob.glob(os.path.join(stage, "binlog.p*"))
    split = max(1, min(os.path.getsize(p) for p in data) // 8)
    return _ddl_fixture_agg(
        _format_read(spark, stage, None, "tpch", "orders", split_bytes=split)
    )


def _ddl_series_stage(spark: SparkSession, sf_dir: str, tag: str) -> str:
    """Stage the three generations as a ROTATED series, so the layout
    governing a file's rows was declared in an EARLIER file. Each
    generation's DDL rides its own tiny DDL-only rotation file
    (binlog.1000/2000/3000, built driver-side — MySQL logs DDL as its
    own transaction anyway), and every partition writes its DATA files
    (``binlog.p*``) per generation numbered just after that
    generation's DDL file (``_encode_files(seq_base=...)``), so the
    encode stays fully parallel while rotation order puts each
    generation's DDL before every file of rows it governs, and the data
    files carry no DDL of their own. Returns the staging dir."""
    gens = _ddl_generations()
    base = _ddl_base(spark, sf_dir)
    files = spark.createDataFrame(
        [
            (
                f"binlog.{(g + 1) * 1000}",
                build_binlog_file(
                    "tpch", "orders", layout,
                    [{"gno": g + 1, "ddl": ddl}], checksum=True,
                ),
            )
            for g, (ddl, layout) in enumerate(gens)
        ],
        "path string, content binary",
    )
    for g, (_ddl, layout) in enumerate(gens):

        def build(pdf, g=g, layout=layout) -> bytes:
            return build_binlog_file(
                "tpch", "orders", layout, _ddl_rows(pdf, g), checksum=True
            )

        files = files.unionByName(
            _encode_files(
                base.where(F.col("id") % 3 == g), build,
                seq_base=(g + 1) * 1000 + 1,
            )
        )
    return _stage_binlog_files(spark, files, f"{sf_dir}|{tag}")


def cdc_binlog_ddl_series_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SAME three generations spread across a ROTATED series
    (``_ddl_series_stage``): the cross-file half of Debezium's
    schema-history contract. The read is the zero-declaration entry
    point ``mysql_binlog_read_ddl_history`` (``format("mysql_binlog")``
    without a schema): the planner header-walks the series for each
    range's DDL prefix and the series-final layout, each range decodes
    through the COLUMNAR kernel seeded with its prefix, and rows remap
    onto the series-final names by column identity. Oracle shared
    verbatim with the other three siblings."""
    stage = _ddl_series_stage(spark, sf_dir, "ddlseries")
    return _ddl_fixture_agg(
        mysql_binlog_read_ddl_history(spark, stage, "tpch", "orders")
    )


def _ddl_fixture_agg(decoded: DataFrame) -> DataFrame:
    """The DDL-history fixture's shared per-generation aggregate (all
    four sibling keys return this; the oracle is shared verbatim)."""
    from pyspark.sql import functions as F

    return decoded.groupBy(
        (F.col("id") % 3).cast("long").alias("gen")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum((F.col("price") * 100).cast("long")).alias("cents_sum"),
        F.sum(
            (F.ascii("cflag") * 256 + F.ascii(F.substring("cflag", 2, 1)))
            .cast("long")
        ).alias("flag_ord_sum"),
        F.sum(F.length("memo").cast("long")).alias("note_len_sum"),
        F.sum(
            F.expr(
                "if(startswith(took, '-'), -1, 1) * ("
                " cast(regexp_extract(took, '^-?(\\\\d+):', 1) as bigint)"
                "   * 3600000"
                " + cast(regexp_extract(took, ':(\\\\d{2}):', 1) as bigint)"
                "   * 60000"
                " + cast(regexp_extract(took, ':(\\\\d{2})\\\\.', 1) as bigint)"
                "   * 1000"
                " + cast(regexp_extract(took, '\\\\.(\\\\d{3})$', 1) as bigint))"
            )
        ).alias("took_ms_sum"),
        F.sum(F.col("__gtid") - 10).alias("gtid_sum"),
    )


CDC_BINLOG_DDL_SCHEMA_DECODE_SQL = """
SELECT CAST(o_orderkey % 3 AS BIGINT) AS gen,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_orderkey % 100000) AS BIGINT) AS cents_sum,
       CAST(sum((65 + o_orderkey % 26) * 256 + 65 + (o_orderkey // 26) % 26)
            AS BIGINT) AS flag_ord_sum,
       CAST(sum(o_orderkey % 37 + 1 + length(CAST(o_orderkey AS VARCHAR)))
            AS BIGINT) AS note_len_sum,
       CAST(sum(CASE WHEN o_orderkey % 3 <> 0 THEN
           (CASE WHEN o_orderkey % 7 = 0 THEN -1 ELSE 1 END) * (
               (o_orderkey % 120) * 3600000
             + (o_orderkey % 60) * 60000
             + ((o_orderkey * 7) % 60) * 1000
             + o_orderkey % 1000)
       END) AS BIGINT) AS took_ms_sum,
       CAST(sum(o_orderkey) AS BIGINT) AS gtid_sum
FROM orders GROUP BY 1
"""


CDC_BINLOG_LEGACY_TEMPORAL_SQL = """
WITH b AS (
  SELECT o_orderkey AS id,
         o_orderstatus AS status,
         800000000 + o_orderkey AS ts_secs,
         (1990 + o_orderkey % 30) * 10000
           + (1 + o_orderkey % 12) * 100
           + 1 + o_orderkey % 28 AS dtm_date,
         (o_orderkey % 24) * 3600 + (o_orderkey % 60) * 60
           + (o_orderkey * 3) % 60 AS dtm_time,
         (CASE WHEN o_orderkey % 5 = 0 THEN -1 ELSE 1 END) * (
             (o_orderkey % 200) * 3600
           + (o_orderkey % 60) * 60
           + (o_orderkey * 11) % 60
         ) AS dur_s
  FROM orders
)
SELECT status,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(ts_secs) AS BIGINT) AS ts_sum,
       CAST(sum(dtm_date) AS BIGINT) AS dtm_date_sum,
       CAST(sum(dtm_time) AS BIGINT) AS dtm_time_sum,
       CAST(sum(dur_s) AS BIGINT) AS dur_s_sum,
       CAST(sum(id) AS BIGINT) AS gtid_sum
FROM b GROUP BY status
"""


def cdc_binlog_gtid_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GTID-positioned resume through the real binlog format — the CDC
    consumer's bread-and-butter read the reference cannot do at all
    (binlog_table_reader.cc:75-96 re-decodes every file from its first
    event; there is no position surface). The fixture models a rotated
    binlog series: ``orders`` RANGE-partitioned by key so each staged
    file covers a contiguous gno range in gno order, each file head
    carrying the PREVIOUS_GTIDS summary of everything before it —
    exactly what MySQL writes at rotation since 5.6. The read resumes
    after gno S = (max_gno*2)//5 and stops at E = (max_gno*4)//5
    (mysql_binlog_read_gtid_range): files wholly past E skip off their
    PREVIOUS_GTIDS head after ONE event read, files wholly before S
    emit no ranges from the header walk, and the two boundary files
    trim to in-window transactions — decode work is O(window), not
    O(history). Every 10th key is an update pair, so image pairing
    survives the trimmed ranges too. The aggregate pins the window
    EDGES in the value hash (per-status min/max gno + gno sum): any
    off-by-one at either bound — or a file wrongly pruned — breaks the
    driver row."""
    import pandas as pd

    from pyspark.sql import functions as F

    from mysql_cdc_table_spark.operators._util import t

    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "status",
                T.StringType(),
                metadata={"mysql_type": "enum", "values": ["F", "O", "P"]},
            ),
        ]
    )
    base = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.col("o_orderstatus").alias("status"),
        )
        .repartitionByRange(
            spark.sparkContext.defaultParallelism, "id"
        )
        .sortWithinPartitions("id")
    )
    # bounded driver scalar: the resume position (one BIGINT), exactly
    # what a checkpoint store would hand the reader
    mx = base.agg(F.max("id")).collect()[0][0] or 0
    start_after = (mx * 2) // 5
    stop_at = (mx * 4) // 5

    def build(pdf: pd.DataFrame) -> bytes:
        txns = []
        for r in pdf.itertuples(index=False):
            rid = int(r.id)
            row = {"id": rid, "status": r.status}
            if rid % 10 == 0:
                txns.append(
                    {"gno": rid, "op": "u", "rows": [(dict(row), row)]}
                )
            else:
                txns.append({"gno": rid, "op": "w", "rows": [row]})
        min_gno = txns[0]["gno"]  # sortWithinPartitions: gno order
        return build_binlog_file(
            "tpch",
            "orders",
            target,
            txns,
            checksum=True,
            # the file-head executed-set summary MySQL writes at
            # every rotation: all gnos below this file's first
            # (the series' first file carries the EMPTY set, as a
            # fresh server's binlog.000001 does)
            previous_gtids=(
                {b"\x11" * 16: [(1, min_gno)]}
                if min_gno > 1
                else {b"\x11" * 16: []}
            ),
        )

    files = _encode_files(base, build)
    stage = _stage_binlog_files(spark, files, f"{sf_dir}|gtid_resume")
    decoded = mysql_binlog_read_gtid_range(
        spark,
        stage,
        target,
        "tpch",
        "orders",
        start_after_gno=start_after,
        stop_at_gno=stop_at,
        split_bytes=4096,
    )
    return decoded.groupBy("status").agg(
        F.count("*").alias("n_rows"),
        F.count_if(F.col("__op") == CDC_UPDATE_BEFORE).alias(
            "n_update_pairs"
        ),
        F.sum("__gtid").alias("gtid_sum"),
        F.min("__gtid").alias("min_gno"),
        F.max("__gtid").alias("max_gno"),
    )


CDC_BINLOG_GTID_RESUME_SQL = """
WITH m AS (
  SELECT (max(o_orderkey) * 2) // 5 AS s,
         (max(o_orderkey) * 4) // 5 AS e
  FROM orders
), b AS (
  SELECT o_orderkey AS id,
         o_orderstatus AS status,
         CASE WHEN o_orderkey % 10 = 0 THEN 2 ELSE 1 END AS nimg
  FROM orders, m
  WHERE o_orderkey > m.s AND o_orderkey <= m.e
)
SELECT status,
       CAST(sum(nimg) AS BIGINT) AS n_rows,
       CAST(count(*) FILTER (WHERE nimg = 2) AS BIGINT) AS n_update_pairs,
       CAST(sum(id * nimg) AS BIGINT) AS gtid_sum,
       CAST(min(id) AS BIGINT) AS min_gno,
       CAST(max(id) AS BIGINT) AS max_gno
FROM b GROUP BY status
"""


def cdc_binlog_executed_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gtid_executed reconstruction from the files alone — the
    inventory question a resuming consumer asks first ("what do I
    already have?"), answered WITHOUT decoding a single row image:
    distributed header walks collect the gnos, anti-join
    gaps-and-islands merges them into maximal intervals
    (binlog_executed_gtid_set). The fixture's gnos are the orders
    keys, so the oracle derives the identical interval set from the
    source table — every hole in the sparse key space must surface as
    an interval boundary, making this simultaneously an end-to-end
    check of GTID header decode across every staged file. The
    reference exposes no GTID-set surface at all (its commented-out
    GTID block, binlog_table_reader.cc:418-425)."""
    import pandas as pd

    from pyspark.sql import functions as F

    from mysql_cdc_table_spark.operators._util import t

    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "status",
                T.StringType(),
                metadata={"mysql_type": "enum", "values": ["F", "O", "P"]},
            ),
        ]
    )
    base = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.col("o_orderstatus").alias("status"),
        )
        .repartitionByRange(spark.sparkContext.defaultParallelism, "id")
        .sortWithinPartitions("id")
    )

    def build(pdf: pd.DataFrame) -> bytes:
        txns = [
            {
                "gno": int(r.id),
                "op": "w",
                "rows": [{"id": int(r.id), "status": r.status}],
            }
            for r in pdf.itertuples(index=False)
        ]
        min_gno = txns[0]["gno"]
        return build_binlog_file(
            "tpch", "orders", target, txns, checksum=True,
            previous_gtids=(
                {b"\x11" * 16: [(1, min_gno)]}
                if min_gno > 1
                else {b"\x11" * 16: []}
            ),
        )

    files = _encode_files(base, build)
    stage = _stage_binlog_files(spark, files, f"{sf_dir}|executed_set")
    return binlog_executed_gtid_set(spark, stage)


CDC_BINLOG_EXECUTED_SET_SQL = """
WITH k AS (
  SELECT DISTINCT o_orderkey AS g FROM orders
), i AS (
  SELECT g, g - row_number() OVER (ORDER BY g) AS isl FROM k
)
SELECT CAST(min(g) AS BIGINT) AS start_gno,
       CAST(max(g) + 1 AS BIGINT) AS end_gno,
       CAST(count(*) AS BIGINT) AS n_gnos
FROM i GROUP BY isl
"""


_SID_A = b"\x11" * 16
_SID_B = b"\x22" * 16


def cdc_binlog_multi_source_resume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source GTID resume through an INTERLEAVED two-origin binlog
    — the multi-source replication shape the single-bound resume
    cannot express: source A (even keys) and source B (odd keys)
    alternate transaction-by-transaction inside every file, each with
    its own monotone gno sequence, and the consumer resumes from a
    DIFFERENT position per source (A after 2·mx/5, B after 3·mx/5 —
    exactly what a replica's per-uuid gtid_executed hands each
    master). File heads carry both sids' executed summaries, so files
    wholly consumed for BOTH sources prune off one head read; rows in
    boundary files keep iff their gno exceeds their OWN sid's bound
    (uuid_gno format surfaces the origin). The aggregate splits every
    measure per origin UUID with per-source window edges, so a filter
    that mixed up the bounds — or dropped either source's rows —
    breaks the hash. The reference's multi-source GTID handling is a
    commented-out block (binlog_table_reader.cc:418-425)."""
    import pandas as pd

    from pyspark.sql import functions as F

    from mysql_cdc_table_spark.operators._util import t

    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "status",
                T.StringType(),
                metadata={"mysql_type": "enum", "values": ["F", "O", "P"]},
            ),
        ]
    )
    base = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.col("o_orderstatus").alias("status"),
        )
        .repartitionByRange(spark.sparkContext.defaultParallelism, "id")
        .sortWithinPartitions("id")
    )
    mx = base.agg(F.max("id")).collect()[0][0] or 0
    bound_a = (mx * 2) // 5
    bound_b = (mx * 3) // 5

    def build(pdf: pd.DataFrame) -> bytes:
        txns = [
            {
                "gno": int(r.id),
                "op": "w",
                "rows": [{"id": int(r.id), "status": r.status}],
                "sid": _SID_A if int(r.id) % 2 == 0 else _SID_B,
            }
            for r in pdf.itertuples(index=False)
        ]
        min_gno = txns[0]["gno"]
        prev = (
            {_SID_A: [(1, min_gno)], _SID_B: [(1, min_gno)]}
            if min_gno > 1
            else {_SID_A: [], _SID_B: []}
        )
        return build_binlog_file(
            "tpch", "orders", target, txns, checksum=True,
            previous_gtids=prev,
        )

    files = _encode_files(base, build)
    stage = _stage_binlog_files(spark, files, f"{sf_dir}|multi_src_resume")
    decoded = mysql_binlog_read_gtid_sets(
        spark,
        stage,
        target,
        "tpch",
        "orders",
        start_after={_SID_A: bound_a, _SID_B: bound_b},
        split_bytes=4096,
    )
    uuid_a = _sid_to_uuid(_SID_A)
    is_a = F.col("__gtid_src") == uuid_a
    return decoded.groupBy("status").agg(
        F.count("*").alias("n_rows"),
        F.count_if(is_a).alias("a_rows"),
        F.count_if(~is_a).alias("b_rows"),
        F.sum("__gtid").alias("gtid_sum"),
        F.min(F.when(is_a, F.col("__gtid"))).alias("a_min_gno"),
        F.min(F.when(~is_a, F.col("__gtid"))).alias("b_min_gno"),
        F.max("__gtid").alias("max_gno"),
    )


CDC_BINLOG_MULTI_SOURCE_RESUME_SQL = """
WITH m AS (
  SELECT (max(o_orderkey) * 2) // 5 AS ba,
         (max(o_orderkey) * 3) // 5 AS bb
  FROM orders
), b AS (
  SELECT o_orderkey AS id,
         o_orderstatus AS status,
         o_orderkey % 2 = 0 AS is_a
  FROM orders, m
  WHERE (o_orderkey % 2 = 0 AND o_orderkey > m.ba)
     OR (o_orderkey % 2 = 1 AND o_orderkey > m.bb)
)
SELECT status,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) FILTER (WHERE is_a) AS BIGINT) AS a_rows,
       CAST(count(*) FILTER (WHERE NOT is_a) AS BIGINT) AS b_rows,
       CAST(sum(id) AS BIGINT) AS gtid_sum,
       CAST(min(CASE WHEN is_a THEN id END) AS BIGINT) AS a_min_gno,
       CAST(min(CASE WHEN NOT is_a THEN id END) AS BIGINT) AS b_min_gno,
       CAST(max(id) AS BIGINT) AS max_gno
FROM b GROUP BY status
"""


def cdc_binlog_txn_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-size observability through the real wire format —
    the replication-ops question ("are we shipping many small txns or
    few huge ones?") answered from the decoded changelog: the fixture
    batches orders keys into MULTI-ROW transactions (gno = key//8, one
    WRITE_ROWS event carrying every row of the bucket — the multi-row
    image walk plus __image_seq ordering is finally load-bearing in a
    registry key), the decode re-derives per-txn row counts by
    grouping on __gtid, and the output is the txn-size histogram with
    a per-size gno checksum. A decoder that dropped or duplicated ANY
    row image of a multi-row event shifts its transaction into the
    wrong histogram bucket. Keys co-partition by bucket before encode
    so each transaction serializes whole into one file."""
    import pandas as pd

    from pyspark.sql import functions as F

    from mysql_cdc_table_spark.operators._util import t

    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "status",
                T.StringType(),
                metadata={"mysql_type": "enum", "values": ["F", "O", "P"]},
            ),
        ]
    )
    base = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.col("o_orderstatus").alias("status"),
            (F.col("o_orderkey") / 8).cast("long").alias("bucket"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "bucket")
        .sortWithinPartitions("id")
    )

    def build(pdf: pd.DataFrame) -> bytes:
        by_g: dict[int, list[dict]] = {}
        for r in pdf.itertuples(index=False):
            by_g.setdefault(int(r.bucket), []).append(
                {"id": int(r.id), "status": r.status}
            )
        txns = [
            {"gno": g, "op": "w", "rows": rows}
            for g, rows in sorted(by_g.items())
        ]
        return build_binlog_file(
            "tpch", "orders", target, txns, checksum=True
        )

    files = _encode_files(base, build)
    stage = _stage_binlog_files(spark, files, f"{sf_dir}|txn_stats")
    decoded = mysql_binlog_read_parallel(
        spark, stage, target, "tpch", "orders", split_bytes=4096
    )
    per_txn = decoded.groupBy("__gtid").agg(F.count("*").alias("txn_size"))
    return per_txn.groupBy("txn_size").agg(
        F.count("*").alias("n_txns"),
        F.sum("__gtid").alias("gno_sum"),
    )


CDC_BINLOG_TXN_STATS_SQL = """
WITH b AS (
  SELECT o_orderkey // 8 AS g, count(*) AS s
  FROM orders GROUP BY 1
)
SELECT CAST(s AS BIGINT) AS txn_size,
       CAST(count(*) AS BIGINT) AS n_txns,
       CAST(sum(g) AS BIGINT) AS gno_sum
FROM b GROUP BY s
"""


def cdc_binlog_ddl_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-change provenance through the real format: every 50th
    key commits a DDL transaction (its own GTID + a Query_log_event
    with the ALTER text, exactly how MySQL logs DDL under GTID mode)
    interleaved with the row transactions, and binlog_ddl_history
    recovers the ordered statement log from header walks alone. The
    aggregate hashes the statement TEXT (length sum + a numeric tag
    regexp-extracted back out) plus the gno checksum, so a truncated
    status-vars parse, a mis-sliced database name, or a lost DDL event
    breaks the row. The reference default-skips QUERY events — its
    users cannot see schema history at all."""
    import pandas as pd

    from pyspark.sql import functions as F

    from mysql_cdc_table_spark.operators._util import t

    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "status",
                T.StringType(),
                metadata={"mysql_type": "enum", "values": ["F", "O", "P"]},
            ),
        ]
    )
    base = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.col("o_orderstatus").alias("status"),
        )
        .repartitionByRange(spark.sparkContext.defaultParallelism, "id")
        .sortWithinPartitions("id")
    )

    def build(pdf: pd.DataFrame) -> bytes:
        txns = []
        for r in pdf.itertuples(index=False):
            rid = int(r.id)
            txns.append(
                {
                    "gno": rid,
                    "op": "w",
                    "rows": [{"id": rid, "status": r.status}],
                }
            )
            if rid % 50 == 0:
                txns.append(
                    {
                        "gno": rid + 2_000_000_000,
                        "ddl": (
                            f"ALTER TABLE orders ADD COLUMN "
                            f"extra_{rid % 97} INT /* migration "
                            f"{rid} */"
                        ),
                    }
                )
        return build_binlog_file(
            "tpch", "orders", target, txns, checksum=True
        )

    files = _encode_files(base, build)
    stage = _stage_binlog_files(spark, files, f"{sf_dir}|ddl_history")
    hist = binlog_ddl_history(spark, stage)
    return hist.agg(
        F.count("*").alias("n_stmts"),
        F.sum(F.length("statement").cast("long")).alias("stmt_len_sum"),
        F.sum(
            F.regexp_extract("statement", r"migration (\d+)", 1).cast(
                "long"
            )
        ).alias("tag_sum"),
        F.sum(F.col("gno") - 2_000_000_000).alias("gno_sum"),
        F.count_if(F.col("database") == "tpch").alias("n_db_ok"),
    )


CDC_BINLOG_DDL_HISTORY_SQL = """
WITH d AS (
  SELECT o_orderkey AS id,
         'ALTER TABLE orders ADD COLUMN extra_'
           || CAST(o_orderkey % 97 AS VARCHAR)
           || ' INT /* migration ' || CAST(o_orderkey AS VARCHAR)
           || ' */' AS stmt
  FROM orders WHERE o_orderkey % 50 = 0
)
SELECT CAST(count(*) AS BIGINT) AS n_stmts,
       CAST(sum(length(stmt)) AS BIGINT) AS stmt_len_sum,
       CAST(sum(id) AS BIGINT) AS tag_sum,
       CAST(sum(id) AS BIGINT) AS gno_sum,
       CAST(count(*) AS BIGINT) AS n_db_ok
FROM d
"""


def cdc_binlog_event_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type census of a staged series — what the binlog is MADE
    of (events and bytes per type), from distributed headers-only
    walks: the capacity-planning / anomaly question ("why did the log
    triple — rows, or a DDL storm?") answered without decoding a row.
    The fixture mixes row transactions with every-50th-key DDL
    statements, so the expected census is pure arithmetic over the
    keys: per txn one GTID + one TABLE_MAP + one WRITE_ROWS, per DDL
    one GTID + one QUERY, plus one FDE per file — event COUNTS are
    scale-exact (byte sizes vary with file count, so only counts sit
    in the hash; n_files rides along as its own audited column)."""
    import pandas as pd

    from pyspark.sql import functions as F

    from mysql_cdc_table_spark.operators._util import t

    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "status",
                T.StringType(),
                metadata={"mysql_type": "enum", "values": ["F", "O", "P"]},
            ),
        ]
    )
    base = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.col("o_orderstatus").alias("status"),
        )
        .repartitionByRange(spark.sparkContext.defaultParallelism, "id")
        .sortWithinPartitions("id")
    )

    def build(pdf: pd.DataFrame) -> bytes:
        txns = []
        for r in pdf.itertuples(index=False):
            rid = int(r.id)
            txns.append(
                {"gno": rid, "op": "w",
                 "rows": [{"id": rid, "status": r.status}]}
            )
            if rid % 50 == 0:
                txns.append(
                    {"gno": rid + 2_000_000_000,
                     "ddl": f"ALTER TABLE orders COMMENT 'm{rid}'"}
                )
        return build_binlog_file(
                "tpch", "orders", target, txns, checksum=True
            )

    files = _encode_files(base, build)
    stage = _stage_binlog_files(spark, files, f"{sf_dir}|event_census")

    paths = sorted(
        os.path.join(stage, n)
        for n in os.listdir(stage)
        if not n.startswith(("_", ".")) and not n.endswith(".index")
    )
    fdf = spark.createDataFrame(
        [(p,) for p in paths], "path string"
    ).repartition(min(len(paths), spark.sparkContext.defaultParallelism))

    def census(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for p in pdf["path"]:
                cen = binlog_file_event_census(str(p))
                yield pd.DataFrame(
                    {
                        "tc": list(cen),
                        "n": [c for c, _b in cen.values()],
                    }
                )

    rows = fdf.mapInPandas(census, schema="tc int, n long")
    # compare CONTENT event types only (GTID/TABLE_MAP/WRITE_ROWS/
    # QUERY — key-derived counts); per-file framing (FDE) scales with
    # the partition count, which SQL cannot know
    return (
        rows.filter(F.col("tc").isin(EV_QUERY, EV_TABLE_MAP,
                                     EV_WRITE_ROWS_V2, EV_GTID))
        .groupBy("tc")
        .agg(F.sum("n").alias("n_events"))
    )


# expected census from the fixture arithmetic: per key one GTID +
# TABLE_MAP + WRITE_ROWS; per 50th key one extra GTID + one QUERY
CDC_BINLOG_EVENT_CENSUS_SQL = """
WITH n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(count(*) FILTER (WHERE o_orderkey % 50 = 0) AS BIGINT)
           AS n_ddl
  FROM orders
)
SELECT CAST(2 AS INT) AS tc, n_ddl AS n_events FROM n
UNION ALL
SELECT CAST(19 AS INT), n_keys FROM n
UNION ALL
SELECT CAST(30 AS INT), n_keys FROM n
UNION ALL
SELECT CAST(33 AS INT), n_keys + n_ddl FROM n
"""


PITR_EPOCH = 1_700_000_000  # fixture time origin: commit ts = epoch + gno


def cdc_binlog_pitr_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time window through the real binlog format — the
    mysqlbinlog --start-datetime/--stop-datetime capability
    (mysql_binlog_read_time_range): the wall-clock window maps to GNO
    bounds off the file-head timestamps plus boundary header walks,
    then the GTID-positioned scan prunes files/ranges/rows. The
    fixture pins each transaction's commit ts to PITR_EPOCH + gno
    (strictly monotone across the range-partitioned series, as a
    single writer's clock is), and reads [epoch + 3·mx/10,
    epoch + 7·mx/10) — so the oracle is an exact key-range aggregate,
    with window edges (per-status min/max COMMIT SECOND) in the value
    hash. The reference has no time surface: its users decode the
    whole history and filter __tm after the fact."""
    import pandas as pd

    from pyspark.sql import functions as F

    from mysql_cdc_table_spark.operators._util import t

    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "status",
                T.StringType(),
                metadata={"mysql_type": "enum", "values": ["F", "O", "P"]},
            ),
        ]
    )
    base = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.col("o_orderstatus").alias("status"),
        )
        .repartitionByRange(spark.sparkContext.defaultParallelism, "id")
        .sortWithinPartitions("id")
    )
    mx = base.agg(F.max("id")).collect()[0][0] or 0
    start_ts = PITR_EPOCH + (mx * 3) // 10
    stop_ts = PITR_EPOCH + (mx * 7) // 10

    def build(pdf: pd.DataFrame) -> bytes:
        txns = []
        for r in pdf.itertuples(index=False):
            rid = int(r.id)
            row = {"id": rid, "status": r.status}
            op = "u" if rid % 10 == 0 else "w"
            rows = [(dict(row), row)] if op == "u" else [row]
            txns.append(
                {"gno": rid, "op": op, "rows": rows,
                 "ts": PITR_EPOCH + rid}
            )
        min_gno = txns[0]["gno"]
        return build_binlog_file(
            "tpch",
            "orders",
            target,
            txns,
            checksum=True,
            base_ts=txns[0]["ts"],  # FDE head ts <= every event
            previous_gtids=(
                {b"\x11" * 16: [(1, min_gno)]}
                if min_gno > 1
                else {b"\x11" * 16: []}
            ),
        )

    files = _encode_files(base, build)
    stage = _stage_binlog_files(spark, files, f"{sf_dir}|pitr_window")
    decoded = mysql_binlog_read_time_range(
        spark,
        stage,
        target,
        "tpch",
        "orders",
        start_ts=start_ts,
        stop_ts=stop_ts,
        split_bytes=4096,
    )
    return decoded.groupBy("status").agg(
        F.count("*").alias("n_rows"),
        F.count_if(F.col("__op") == CDC_UPDATE_BEFORE).alias(
            "n_update_pairs"
        ),
        F.sum("__gtid").alias("gtid_sum"),
        F.min(F.col("__tm").cast("long")).alias("min_commit_s"),
        F.max(F.col("__tm").cast("long")).alias("max_commit_s"),
    )


CDC_BINLOG_PITR_WINDOW_SQL = f"""
WITH m AS (
  SELECT (max(o_orderkey) * 3) // 10 AS s,
         (max(o_orderkey) * 7) // 10 AS e
  FROM orders
), b AS (
  SELECT o_orderkey AS id,
         o_orderstatus AS status,
         CASE WHEN o_orderkey % 10 = 0 THEN 2 ELSE 1 END AS nimg
  FROM orders, m
  WHERE o_orderkey >= m.s AND o_orderkey < m.e
)
SELECT status,
       CAST(sum(nimg) AS BIGINT) AS n_rows,
       CAST(count(*) FILTER (WHERE nimg = 2) AS BIGINT) AS n_update_pairs,
       CAST(sum(id * nimg) AS BIGINT) AS gtid_sum,
       CAST({PITR_EPOCH} + min(id) AS BIGINT) AS min_commit_s,
       CAST({PITR_EPOCH} + max(id) AS BIGINT) AS max_commit_s
FROM b GROUP BY status
"""


def cdc_binlog_rows_query_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """binlog_rows_query_log_events=ON roundtrip: each transaction's
    originating SQL statement rides a ROWS_QUERY event (type 29)
    between GTID and TABLE_MAP; ``capture_query=True`` surfaces it on
    every decoded row as ``__query`` — statement-level provenance for
    audit/debug pipelines. The fixture writes a deterministic statement
    per transaction (INSERT or UPDATE text derived from the key);
    updates stamp BOTH images with the same statement. The aggregate
    puts the statement text itself in the value hash (length sum + a
    numeric tag regexp-extracted back out of the text + per-kind
    counts), so a lost, truncated, or mis-scoped ROWS_QUERY breaks the
    driver row. The reference default-skips type 29 entirely
    (binlog_table_reader.cc:427-428) — statement provenance is one
    more capability the changelog there cannot carry."""
    import pandas as pd

    from pyspark.sql import functions as F

    from mysql_cdc_table_spark.operators._util import t

    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "status",
                T.StringType(),
                metadata={"mysql_type": "enum", "values": ["F", "O", "P"]},
            ),
        ]
    )
    base = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.col("o_orderstatus").alias("status"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "id")
    )

    def build(pdf: pd.DataFrame) -> bytes:
        txns = []
        for r in pdf.itertuples(index=False):
            rid = int(r.id)
            row = {"id": rid, "status": r.status}
            if rid % 10 == 0:
                q = f"UPDATE orders SET s='{r.status}' WHERE k={rid} /* t{rid % 97} */"
                # identical before/after images (legal on the wire)
                # so both land in the same status group below
                txns.append(
                    {
                        "gno": rid,
                        "op": "u",
                        "rows": [(dict(row), row)],
                        "query": q,
                    }
                )
            else:
                q = f"INSERT INTO orders VALUES ({rid}) /* t{rid % 97} */"
                txns.append(
                    {"gno": rid, "op": "w", "rows": [row], "query": q}
                )
        return build_binlog_file(
            "tpch", "orders", target, txns, checksum=True
        )

    decoded = _decode_files(
        _encode_files(base, build), target, "tpch", "orders",
        capture_query=True,
    )
    return decoded.groupBy("status").agg(
        F.count("*").alias("n_rows"),
        F.count_if(F.col("__query").startswith("UPDATE")).alias("n_upd_stmt"),
        F.count_if(F.col("__query").startswith("INSERT")).alias("n_ins_stmt"),
        F.sum(F.length("__query").cast("long")).alias("qlen_sum"),
        F.sum(
            F.regexp_extract(F.col("__query"), r"/\* t(\d+) \*/", 1).cast(
                "long"
            )
        ).alias("qtag_sum"),
        F.sum("__gtid").alias("gtid_sum"),
    )


def cdc_binlog_full_metadata_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """binlog_row_metadata=FULL roundtrip with NO DDL at the decode
    stage: files are written with the TABLE_MAP optional-metadata TLVs
    (column names, enum strings, signedness), and each decode task
    derives its target StructType from the wire via
    ``mysql_binlog_infer_target`` — names, types, DECIMAL(12,2)
    precision, and the enum's string values all come from the file
    itself. The decoded enum strings group the aggregate and the
    decimal cents sum sits in the hash, so a TLV encode/parse/pairing
    bug anywhere breaks the driver row. The reference cannot express
    this: its output schema IS the user's CREATE TABLE, positionally
    trusted (SURVEY §1.2) — FULL metadata hardening (name cross-check,
    unsigned failfast) and DDL-free inference are both beyond it."""
    import pandas as pd

    from pyspark.sql import functions as F

    from mysql_cdc_table_spark.operators._util import t

    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("price", T.DecimalType(12, 2)),
            T.StructField(
                "status",
                T.StringType(),
                metadata={"mysql_type": "enum", "values": ["F", "O", "P"]},
            ),
        ]
    )
    base = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.expr(
                "cast(cast(o_orderkey % 100000 as decimal(30,2)) / 100"
                " as decimal(12,2))"
            ).alias("price"),
            F.col("o_orderstatus").alias("status"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "id")
    )

    def build(pdf: pd.DataFrame) -> bytes:
        txns = [
            {
                "gno": int(r.id),
                "op": "w",
                "rows": [
                    {"id": int(r.id), "price": r.price, "status": r.status}
                ],
            }
            for r in pdf.itertuples(index=False)
        ]
        return build_binlog_file(
            "tpch", "orders", target, txns,
            row_metadata="full", checksum=True,
        )

    # the wire IS the schema: the decode target is inferred from a file
    # the same build frames, never declared
    sample = pd.DataFrame(
        {"id": [1], "price": [Decimal("0.01")], "status": ["O"]}
    )
    inferred = mysql_binlog_infer_target(build(sample), "tpch", "orders")
    decoded = _decode_files(
        _encode_files(base, build), inferred, "tpch", "orders"
    )
    return decoded.groupBy("status").agg(
        F.count("*").alias("n_rows"),
        F.sum((F.col("price") * 100).cast("long")).alias("cents_sum"),
        F.sum("__gtid").alias("gtid_sum"),
    )


CDC_BINLOG_FULL_METADATA_SQL = """
SELECT o_orderstatus AS status,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_orderkey % 100000) AS BIGINT) AS cents_sum,
       CAST(sum(o_orderkey) AS BIGINT) AS gtid_sum
FROM orders
GROUP BY o_orderstatus
"""


CDC_BINLOG_ROWS_QUERY_SQL = """
WITH b AS (
  SELECT o_orderkey AS id,
         o_orderstatus AS status,
         CASE WHEN o_orderkey % 10 = 0 THEN 2 ELSE 1 END AS nimg,
         CASE WHEN o_orderkey % 10 = 0 THEN
           length('UPDATE orders SET s=''' || o_orderstatus
                  || ''' WHERE k=' || o_orderkey
                  || ' /* t' || (o_orderkey % 97) || ' */')
         ELSE
           length('INSERT INTO orders VALUES (' || o_orderkey
                  || ') /* t' || (o_orderkey % 97) || ' */')
         END AS qlen
  FROM orders
)
SELECT status,
       CAST(sum(nimg) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN nimg = 2 THEN 2 ELSE 0 END) AS BIGINT)
         AS n_upd_stmt,
       CAST(sum(CASE WHEN nimg = 2 THEN 0 ELSE 1 END) AS BIGINT)
         AS n_ins_stmt,
       CAST(sum(nimg * qlen) AS BIGINT) AS qlen_sum,
       CAST(sum(nimg * (id % 97)) AS BIGINT) AS qtag_sum,
       CAST(sum(nimg * id) AS BIGINT) AS gtid_sum
FROM b GROUP BY status
"""


def cdc_binlog_unsigned_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UNSIGNED-column roundtrip through the REAL wire format (round 8,
    advisor fix): files carry TINYINT/SMALLINT/MEDIUMINT/INT/BIGINT
    UNSIGNED columns whose values all sit in the TOP HALF of their
    unsigned ranges — exactly the values a signed-only decode corrupts
    (and the pre-round-8 blanket failfast refused outright). The
    SIGNEDNESS TLV marks them on the wire, decode derives the target
    from the wire (``mysql_binlog_infer_target`` widens each column to
    the next signed Spark type; BIGINT UNSIGNED stays LongType,
    range-checked), and the COLUMNAR kernel decodes. Top-half sums in
    the value hash mean one wrong sign-extension anywhere flips the
    driver row. The reference delegates unpacking to Field::unpack
    with the user's CREATE TABLE (binlog_table_reader.cc:151-156) and
    has no signedness cross-check at all."""
    import pandas as pd

    from pyspark.sql import functions as F

    from mysql_cdc_table_spark.operators._util import t

    wtgt = T.StructType(
        [
            T.StructField("id", T.LongType(),
                          metadata={"mysql_type": "bigint_unsigned"}),
            T.StructField("u8", T.ShortType(),
                          metadata={"mysql_type": "tinyint_unsigned"}),
            T.StructField("u16", T.IntegerType(),
                          metadata={"mysql_type": "smallint_unsigned"}),
            T.StructField("u24", T.IntegerType(),
                          metadata={"mysql_type": "mediumint_unsigned"}),
            T.StructField("u32", T.LongType(),
                          metadata={"mysql_type": "int_unsigned"}),
            T.StructField("status", T.StringType()),
        ]
    )
    base = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "k")
    )

    def build(pdf: pd.DataFrame) -> bytes:
        txns = [
            {
                "gno": int(r.k),
                "op": "w",
                "rows": [
                    {
                        # every value in the unsigned TOP half
                        "id": (1 << 62) + int(r.k),
                        "u8": 128 + int(r.k) % 128,
                        "u16": (1 << 15) + int(r.k) % (1 << 15),
                        "u24": (1 << 23) + int(r.k) % (1 << 23),
                        "u32": (1 << 31) + int(r.k) % (1 << 31),
                        "status": r.status,
                    }
                ],
            }
            for r in pdf.itertuples(index=False)
        ]
        return build_binlog_file(
            "tpch", "orders", wtgt, txns,
            row_metadata="full", checksum=True,
        )

    # the reader schema is inferred from a file the same build frames:
    # each unsigned column widens to the next signed Spark type (BIGINT
    # UNSIGNED stays LongType, range-checked)
    sample = pd.DataFrame({"k": [1], "status": ["O"]})
    inferred = mysql_binlog_infer_target(build(sample), "tpch", "orders")
    decoded = _decode_files(
        _encode_files(base, build), inferred, "tpch", "orders"
    )
    return decoded.groupBy("status").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("u8").cast("long")).alias("sum_u8"),
        F.sum(F.col("u16").cast("long")).alias("sum_u16"),
        F.sum(F.col("u24").cast("long")).alias("sum_u24"),
        F.sum("u32").alias("sum_u32"),
        F.max("id").alias("max_id"),
        F.min("id").alias("min_id"),
    )


CDC_BINLOG_UNSIGNED_SQL = """
SELECT o_orderstatus AS status,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(128 + o_orderkey % 128) AS BIGINT) AS sum_u8,
       CAST(sum(32768 + o_orderkey % 32768) AS BIGINT) AS sum_u16,
       CAST(sum(8388608 + o_orderkey % 8388608) AS BIGINT) AS sum_u24,
       CAST(sum(2147483648 + o_orderkey % 2147483648) AS BIGINT) AS sum_u32,
       CAST(4611686018427387904 + max(o_orderkey) AS BIGINT) AS max_id,
       CAST(4611686018427387904 + min(o_orderkey) AS BIGINT) AS min_id
FROM orders
GROUP BY o_orderstatus
"""


# --- binlog v4 WRITER sink ----------------------------------------------------

from pyspark.sql.datasource import (  # noqa: E402  (public DataSource API)
    DataSourceArrowWriter as _DataSourceArrowWriter,
    WriterCommitMessage as _WriterCommitMessage,
)


class _BinlogWriteMsg(_WriterCommitMessage):
    def __init__(self, name: str | None):
        self.name = name


class MysqlBinlogWriter(_DataSourceArrowWriter):
    """Write a changelog DataFrame back out as REAL binlog v4 files —
    the sink the reference only pretends to have (its write_row
    silently discards, binlogdb.cc:283-292; here the output is
    byte-valid v4 that this repo's readers, or any binlog consumer,
    decode). One file per non-empty input partition
    (``binlog.<partition+1:06d>``), within it one transaction per
    ``__gtid`` in gno order: GTID event, TABLE_MAP, one rows event
    (WRITE/UPDATE/DELETE from the ``__op`` codes — 2/3 pairs become
    update events with before/after images), commit ts from ``__tm``,
    CRC32 checksums on by default.

    Contract: a transaction's images must be PARTITION-LOCAL —
    repartition by ``__gtid`` before writing (an unpaired update image
    raises rather than writing a torn transaction). Mode must be
    overwrite: binlog file numbering is rotation order, and appending
    a second parallel write cannot know where the first one's numbering
    ended (real servers rotate serially). gno uniqueness across
    partitions is the caller's contract, as it is the server's."""

    def __init__(self, options: dict, overwrite: bool):
        if not overwrite:
            raise ValueError(
                "mysql_binlog sink supports mode('overwrite') only — "
                "binlog.NNNNNN numbering is rotation order and a "
                "parallel append cannot extend it safely"
            )
        self.path = options["path"]
        self.database = options["database"]
        self.table = options["table"]
        self.table_id = int(options.get("table_id", "23"))
        self.target = _tail_target(options)
        self.checksum = (
            str(options.get("checksum", "true")).lower() == "true"
        )
        # binlog_transaction_compression on the WRITE side: "zstd"
        # wraps each transaction's TABLE_MAP + rows stream in a
        # TRANSACTION_PAYLOAD event (compression ZSTD), "none" wraps
        # uncompressed, default writes plain events — all three decode
        # through the same readers
        comp = str(options.get("compression", "")).lower()
        if comp not in ("", "none", "zstd"):
            raise ValueError(
                f"compression={comp!r}: expected 'none' or 'zstd'"
            )
        self.payload_wrap: bool | str = (
            "zstd" if comp == "zstd" else bool(comp == "none")
        )

    def _build_txns(self, rows, names_in: list | None) -> list:
        """Plain tuples positionally matching ``names_in`` (the record
        batch's column order, ``_arrow_rows``) -> the transactions
        ``build_binlog_file`` writes."""
        import calendar
        from itertools import chain

        names = [f.name for f in self.target.fields]
        it = iter(rows)
        try:
            first = next(it)
        except StopIteration:
            return []
        pos = names_in.index
        gi = pos("__gtid")
        esi = pos("__event_seq")
        isi = pos("__image_seq")
        opi = pos("__op")
        tmi = pos("__tm")
        nidx = [(n, pos(n)) for n in names]
        by_gno: dict[int, list] = {}
        for tup in chain((first,), it):
            by_gno.setdefault(int(tup[gi]), []).append(tup)
        txns = []
        for gno in sorted(by_gno):
            imgs = sorted(
                by_gno[gno],
                key=lambda r: (int(r[esi]), int(r[isi])),
            )
            ops = [int(r[opi]) for r in imgs]
            vals = [{n: r[j] for n, j in nidx} for r in imgs]
            ts = int(calendar.timegm(imgs[0][tmi].timetuple()))
            if set(ops) == {CDC_INSERT}:
                txns.append({"gno": gno, "op": "w", "rows": vals, "ts": ts})
            elif set(ops) == {CDC_DELETE}:
                txns.append({"gno": gno, "op": "d", "rows": vals, "ts": ts})
            elif (
                set(ops) <= {CDC_UPDATE_BEFORE, CDC_UPDATE_AFTER}
                and len(ops) % 2 == 0
                and all(
                    ops[k] == (CDC_UPDATE_BEFORE if k % 2 == 0
                               else CDC_UPDATE_AFTER)
                    for k in range(len(ops))
                )
            ):
                txns.append({
                    "gno": gno,
                    "op": "u",
                    "rows": [
                        (vals[k], vals[k + 1])
                        for k in range(0, len(vals), 2)
                    ],
                    "ts": ts,
                })
            else:
                raise ValueError(
                    f"transaction gno={gno} has op sequence {ops} — "
                    "images of one transaction must be partition-local "
                    "(repartition by __gtid) and update images must "
                    "pair before/after"
                )
        return txns

    @staticmethod
    def _arrow_rows(batches):
        """Arrow record batches -> (names, iterator of plain tuples).

        r15 (guide §4): the sink is a DataSourceArrowWriter — partition
        data crosses the JVM/Python boundary as Arrow columns instead of
        one pickled Row per image. Values convert through pyarrow's
        C to_pylist (timestamps come back as the same UTC datetimes the
        pickled path produced under the session's pinned UTC timezone),
        and _build_txns indexes the resulting tuples positionally."""
        it = iter(batches)
        try:
            first = next(it)
        except StopIteration:
            return None, iter(())
        from itertools import chain

        names = list(first.schema.names)

        def rows():
            for b in chain((first,), it):
                yield from zip(*(c.to_pylist() for c in b.columns))

        return names, rows()

    def write(self, batches) -> "_WriterCommitMessage":
        import uuid

        from pyspark import TaskContext

        names_in, rows = self._arrow_rows(batches)
        txns = self._build_txns(rows, names_in)
        pid = TaskContext.get().partitionId()
        os.makedirs(self.path, exist_ok=True)
        name = None
        if txns:
            blob = build_binlog_file(
                self.database, self.table, self.target, txns,
                table_id=self.table_id, checksum=self.checksum,
                payload_wrap=self.payload_wrap,
            )
            name = f"binlog.{pid + 1:06d}"
            # uuid-tagged tmp (like the stream writer): a speculative
            # or retried attempt of the same partition must never share
            # a tmp path with a concurrent attempt — interleaved writes
            # before os.replace would commit a corrupt blob
            tmp = os.path.join(
                self.path, f".{name}.{uuid.uuid4().hex[:12]}.tmp"
            )
            with open(tmp, "wb") as fh:
                fh.write(blob)
            os.replace(tmp, os.path.join(self.path, name))
        return _BinlogWriteMsg(name)

    def commit(self, messages) -> None:
        # files landed atomically per partition (tmp + rename); now
        # link the ROTATE chain the way a rotating server does — each
        # sealed file's last event names its successor, so
        # binlog_chain_gaps() audits sink output like any restored
        # series (a task cannot know its successor's name: empty input
        # partitions leave numbering gaps, so the chain is only known
        # here, after every task reported what it wrote)
        names = sorted(m.name for m in messages if getattr(m, "name", None))
        # honor the overwrite contract: a re-save that yields fewer
        # non-empty partitions (or different task numbering) must not
        # leave the previous save's files behind — a reader lists every
        # binlog.* in the directory and would silently mix the two
        # saves' rows. Same-named stale files were already atomically
        # replaced in write(); here we reclaim the rest, plus any
        # orphaned tmp from a dead attempt.
        committed = set(names)
        for f in os.listdir(self.path):
            stale = (
                (f.startswith("binlog.") and f not in committed
                 and not f.endswith(".index"))  # never a data file
                or (f.startswith(".binlog.") and f.endswith(".tmp"))
            )
            if stale:
                os.remove(os.path.join(self.path, f))
        for i, cur in enumerate(names[:-1]):
            fpath = os.path.join(self.path, cur)
            body = struct.pack("<Q", 4) + names[i + 1].encode()
            with open(fpath, "ab") as fh:
                fh.write(
                    _event(0, EV_ROTATE, 1, body,
                           os.path.getsize(fpath), self.checksum)
                )

    def abort(self, messages) -> None:
        if os.path.isdir(self.path):
            for f in os.listdir(self.path):
                if f.startswith(".binlog.") and f.endswith(".tmp"):
                    os.remove(os.path.join(self.path, f))


from pyspark.sql.datasource import (  # noqa: E402  (public DataSource API)
    DataSourceStreamArrowWriter as _DataSourceStreamArrowWriter,
)


class MysqlBinlogStreamWriter(_DataSourceStreamArrowWriter):
    """``writeStream.format("mysql_binlog")`` — stream a changelog into
    replayable binlog v4 files. Each micro-batch's non-empty task
    outputs land as tmp files, and the driver-side commit renames them
    to monotone rotation numbers derived from the BATCH id
    (``binlog.{batchId*10000 + task_index + 1:012d}``, so every later
    batch sorts after every earlier one regardless of task counts) and
    links the ROTATE chain — including from the previous batch's last
    sealed file into this batch — so a tailing consumer or
    binlog_chain_gaps sees one continuous rotating series. Commit is
    idempotent by name: a replayed batch overwrites its own files
    (at-least-once at the file level, the file-sink contract).
    write()-side transaction building is the batch writer's (torn
    update images raise; per-``__gtid`` grouping must be
    partition-local)."""

    def __init__(self, options: dict, overwrite: bool):
        self._inner = MysqlBinlogWriter(dict(options), True)
        self.path = self._inner.path

    def write(self, iterator) -> "_WriterCommitMessage":
        import uuid

        from pyspark import TaskContext

        names_in, rows = MysqlBinlogWriter._arrow_rows(iterator)
        txns = self._inner._build_txns(rows, names_in)
        if not txns:
            return _BinlogWriteMsg(None)
        blob = build_binlog_file(
            self._inner.database, self._inner.table, self._inner.target,
            txns, table_id=self._inner.table_id,
            checksum=self._inner.checksum,
            payload_wrap=self._inner.payload_wrap,
        )
        pid = TaskContext.get().partitionId()
        os.makedirs(self.path, exist_ok=True)
        tmp = f".stream.{uuid.uuid4().hex[:12]}.{pid:06d}.tmp"
        with open(os.path.join(self.path, tmp), "wb") as fh:
            fh.write(blob)
        return _BinlogWriteMsg(tmp)

    def commit(self, messages, batchId: int) -> None:
        tmps = sorted(
            m.name for m in messages if getattr(m, "name", None)
        )
        # The seam link may only come from an EARLIER batch's sealed
        # file: on a replayed micro-batch (crash between sink commit
        # and checkpoint commit) the directory already holds this
        # batch's own files from the first attempt, and linking from
        # prior[-1] would point the batch's highest file BACKWARD at
        # its first file — a rotate cycle that breaks the "newest file
        # stays open" invariant and loops any chain-following consumer.
        first_new = f"binlog.{batchId * 10000 + 1:012d}"
        prior = sorted(
            n for n in os.listdir(self.path)
            if n.startswith("binlog.") and n < first_new
        ) if os.path.isdir(self.path) else []
        new_names = []
        for i, tmp in enumerate(tmps):
            # 12 digits: 10k-task stride sustains ~10^8 micro-batches
            # (decades at any real trigger) before width rollover
            name = f"binlog.{batchId * 10000 + i + 1:012d}"
            os.replace(
                os.path.join(self.path, tmp),
                os.path.join(self.path, name),
            )
            new_names.append(name)
        # link the chain: prior last file -> first new, then new files
        # among themselves (the newest stays open, like a live server)
        chain = ([prior[-1]] if prior and new_names else []) + new_names
        for i, cur in enumerate(chain[:-1]):
            fpath = os.path.join(self.path, cur)
            if binlog_file_rotate_target(fpath) is not None:
                continue  # replayed batch: already linked
            body = struct.pack("<Q", 4) + chain[i + 1].encode()
            with open(fpath, "ab") as fh:
                fh.write(
                    _event(0, EV_ROTATE, 1, body,
                           os.path.getsize(fpath), self._inner.checksum)
                )

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            name = getattr(m, "name", None)
            if name and os.path.exists(os.path.join(self.path, name)):
                os.remove(os.path.join(self.path, name))


class MysqlBinlogDataSource(_DataSource):
    """``format("mysql_binlog")``: the batch reader of binlog v4 files
    (``MysqlBinlogReader``) and the file sink (``MysqlBinlogWriter``,
    ``MysqlBinlogStreamWriter``).

    Read options: path (a directory or one file) or index_file,
    database, table, schema_ddl (extended DDL, see
    datasource._parse_ddl, or ``StructType.json()``), split_bytes,
    gtid_format (long|uuid_gno), capture_query, start_after_gno,
    stop_at_gno, start_after_sets. Without schema_ddl the layout is
    learned from the series' own DDL (CREATE/ALTER/RENAME Query
    events), and ``schema()`` is the series-final layout; such a read
    takes no GTID bound, since pruning files would drop their DDL.

    Write options: path, schema_ddl, database, table, table_id,
    checksum, compression."""

    @classmethod
    def name(cls) -> str:
        return "mysql_binlog"

    def schema(self):
        return MysqlBinlogReader(dict(self.options)).window.out_schema

    def reader(self, schema):
        return MysqlBinlogReader(dict(self.options))

    def writer(self, schema, overwrite: bool):
        return MysqlBinlogWriter(dict(self.options), overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return MysqlBinlogStreamWriter(dict(self.options), overwrite)


def cdc_binlog_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-side roundtrip through the ``mysql_binlog`` sink (round 8):
    the synthetic orders changelog goes OUT through
    ``df.write.format("mysql_binlog")`` — real v4 files, one per
    partition, transactions rebuilt from the __op codes (update pairs
    become UPDATE_ROWS events), commit ts from __tm, CRC32 on — and
    comes back through the standard reader. The aggregate hashes ops,
    gtids, cents, keys and commit dates, so a framing/encode bug
    anywhere in the sink breaks the driver row against an oracle that
    never touches the wire (the changelog CTE twin). The reference's
    write path silently discards rows (binlogdb.cc:283-292)."""
    import hashlib
    import tempfile

    from pyspark.sql import functions as F

    from mysql_cdc_table_spark.cdc.queries import ORDERS_TARGET_SCHEMA
    from mysql_cdc_table_spark.cdc.synthetic import synthetic_changelog
    from mysql_cdc_table_spark.sources.datasource import register

    register(spark)
    tag = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}".encode()
    ).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), f"cdc_sink_binlogs_{tag}")
    ddl = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    (
        synthetic_changelog(spark, sf_dir)
        .repartition(8, "__gtid")
        .write.format("mysql_binlog")
        .option("schema_ddl", ddl)
        .option("database", "tpch")
        .option("table", "orders")
        .mode("overwrite")
        .save(stage)
    )
    back = mysql_binlog_read(
        spark, stage, ORDERS_TARGET_SCHEMA, "tpch", "orders"
    )
    return back.groupBy("__op").agg(
        F.count("*").alias("n_rows"),
        F.sum("__gtid").alias("gtid_sum"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents_sum"
        ),
        F.count_distinct("o_orderkey").alias("n_keys"),
        F.min(F.col("__tm").cast("date")).alias("first_day"),
        F.max(F.col("__tm").cast("date")).alias("last_day"),
    )


CDC_BINLOG_SINK_SQL = """
SELECT __op,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(__gtid) AS BIGINT) AS gtid_sum,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents_sum,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
       min(CAST(__tm AS DATE)) AS first_day,
       max(CAST(__tm AS DATE)) AS last_day
FROM changelog
GROUP BY __op
"""


# --- binlog v4 batch READER via the Python DataSource API ----------------------

from pyspark.sql.datasource import (  # noqa: E402  (public DataSource API)
    DataSourceReader as _DataSourceReader,
    InputPartition as _InputPartition,
)


_OPEN_COST = 4 << 20  # Spark's spark.sql.files.openCostInBytes default
_PACK_BYTES = 64 << 20  # the default split_bytes; smaller splits pack to it


class _BinlogSplit(_InputPartition):
    """One Spark partition: ``(path, file_seq, spec)`` byte ranges in
    rotation order, decoded one after another."""

    __slots__ = ("ranges",)

    def __init__(self, ranges: list[tuple[str, int, dict]]):
        self.ranges = ranges


def _pack_ranges(
    ranges: list[tuple[str, int, dict]], split_bytes: int, cpus: int
) -> list[list[tuple[str, int, dict]]]:
    """Pack ranges into partitions the way Spark's file sources pack
    files (``FilePartition.getFilePartitions``), filling greedily in
    order. A partition's cost is its ranges' bytes plus ``_OPEN_COST``
    per file it opens; consecutive ranges of one file share an open,
    and, as in Spark, a file's open cost is added after the file, so
    the next range starts a new partition when the cost so far plus its
    bytes passes the cap. The cap is ``min(max(split_bytes,
    _PACK_BYTES), max(_OPEN_COST, total_cost / cpus))``: many small
    files share a task, a few large ones still spread over every core,
    and a split size below the default cuts smaller ranges without
    multiplying tasks."""
    total = sum(s["end"] - s["start"] for _p, _q, s in ranges)
    total += _OPEN_COST * len({p for p, _q, _s in ranges})
    cap = min(max(split_bytes, _PACK_BYTES), max(_OPEN_COST, total / cpus))
    parts: list[list[tuple[str, int, dict]]] = []
    cur: list[tuple[str, int, dict]] = []
    cur_cost = 0
    for r in ranges:
        size = r[2]["end"] - r[2]["start"]
        if cur and cur[-1][0] != r[0]:
            cur_cost += _OPEN_COST  # the file just finished
        if cur and cur_cost + size > cap:
            parts.append(cur)
            cur, cur_cost = [], 0
        cur.append(r)
        cur_cost += size
    if cur:
        parts.append(cur)
    return parts


class MysqlBinlogReader(_DataSourceReader):
    """``spark.read.format("mysql_binlog")`` — the one batch scan over
    real binlog v4 files; every ``mysql_binlog_read*`` function builds
    it. It shares the GTID window (``_binlog_window``,
    ``_window_ranges``) and the range decode (``_decode_binlog_range``)
    with the streaming tail, ``MysqlBinlogTailStreamReader``. Planning
    runs on the driver over the listing (the reference's binlog.index
    contract). With no GTID bound, a file up to ``split_bytes`` is one
    range from a stat and a magic check, as the reference decodes each
    file from its first event. Larger files, and every file of a
    bounded read, are header-walked into transaction-aligned byte
    ranges with carried TABLE_MAP/GTID/checksum state
    (``scan_binlog_splits_cached``; GTID bounds prune whole files off
    their PREVIOUS_GTIDS heads and skip out-of-window prefixes). The
    ranges then pack into partitions (``_pack_ranges``). Each task
    range-decodes through the columnar kernel, yielding Arrow
    RecordBatches — no Python row objects on the scan path. Tasks
    reopen files with plain ``open``, so paths must be executor-local.

    Without ``schema_ddl`` the reader learns the layout from the
    series' DDL: ``__init__`` header-walks every file and builds the
    ranges, each with its DDL prefix, and the series-final fold
    (``_history_plan``). It must run there, not in ``partitions()``:
    pyspark pickles the reader for the tasks before it calls
    ``partitions()``, so the fold must already be on it."""

    def __init__(self, options: dict):
        self.options_index_file = options.get("index_file")
        self.path = options.get("path") if self.options_index_file else options["path"]
        self.split_bytes = int(options.get("split_bytes", 64 << 20))
        self.ranges = None  # planned in partitions() unless learned here
        history = None
        if options.get("schema_ddl") in (None, ""):
            for k in ("start_after_gno", "stop_at_gno", "start_after_sets"):
                if options.get(k) not in (None, ""):
                    raise ValueError(
                        f"{k} needs schema_ddl: a read that learns its "
                        "layout from the series' DDL cannot prune files, "
                        "which would drop their DDL with them"
                    )
            self.ranges, history = _history_plan(
                self._paths(), options["database"], options["table"],
                self.split_bytes,
            )
        self.window = _binlog_window(options, history)

    def _paths(self) -> list[str]:
        # the reference's binlog.index entry point, on the format
        # surface too: option("index_file", ...) reads the listed files
        return _binlog_paths(self.path, self.options_index_file)

    def partitions(self):
        ranges = self.ranges
        if ranges is None:
            ranges = _window_ranges(
                self._paths(), self.window, self.split_bytes
            )
        ranges = [(p, _file_seq_of(p), spec) for p, spec in ranges]
        return [
            _BinlogSplit(part)
            for part in _pack_ranges(
                ranges, self.split_bytes, len(os.sched_getaffinity(0))
            )
        ]

    def read(self, partition: "_BinlogSplit"):
        # nothing left to read (an empty listing, or every file pruned):
        # Spark plans one partition anyway and hands it in as None
        if partition is None:
            return
        import itertools

        # one open per run of same-file ranges, as _pack_ranges costs it
        for path, run in itertools.groupby(partition.ranges, lambda r: r[0]):
            with open(path, "rb") as fh:
                for _p, file_seq, s in run:
                    try:
                        fh.seek(s["start"])
                        blob = fh.read(s["end"] - s["start"])
                        yield from _decode_binlog_range(
                            blob, file_seq, s, self.window
                        )
                    except Exception as e:
                        e.add_note(f"{path}: bytes {s['start']}..{s['end']}")
                        raise
