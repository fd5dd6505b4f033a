"""Real MySQL binlog v4 format: byte-exact framing roundtrips, the
TABLE_MAP-driven decode (reference binlog_table_reader.cc:393-408),
multi-table demux (A4), GTID propagation (A8), update image pairing
(A9), CRC32-checksummed files, and NEWDECIMAL/DATETIME2 wire-format
fuzz."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mysql_cdc_table_spark.sources.mysql_binlog import (
    _decode_newdecimal,
    _encode_newdecimal,
    build_binlog_file,
    decode_binlog_bytes,
    mysql_binlog_read,
)
from mysql_cdc_table_spark.streaming.cdc_stream import (
    await_drained,
    run_to_completion,
)
from tests._tail_rows import tail_rows

TARGET = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("amt", T.DecimalType(10, 2)),
    ]
)


def _txn(gno, op, rows):
    return {"gno": gno, "op": op, "rows": rows}


def _whole_file_read(spark, d, target, **kw):
    """The reference the range reader is checked against: every file
    of ``d`` decoded whole, binaryFile + ``_decode_files``."""
    from mysql_cdc_table_spark.sources.mysql_binlog import _decode_files

    files = spark.read.format("binaryFile").load(str(d))
    return _decode_files(files, target, "d", "t", **kw)


def test_file_read_orders_gtid_and_ops(spark, tmp_path):
    """Two rotated files through mysql_binlog_read: file order from
    rotation numbers, GTID stamped per transaction, op codes per event
    type, update before/after adjacent via (__event_seq, __image_seq)."""
    r1 = {"id": 1, "v": "a", "amt": Decimal("1.50")}
    r1b = {"id": 1, "v": "a2", "amt": Decimal("2.50")}
    r2 = {"id": 2, "v": "b", "amt": Decimal("-3.25")}
    (tmp_path / "binlog.000001").write_bytes(
        build_binlog_file(
            "d", "t", TARGET, [_txn(10, "w", [r1, r2]), _txn(11, "u", [(r1, r1b)])]
        )
    )
    (tmp_path / "binlog.000002").write_bytes(
        build_binlog_file("d", "t", TARGET, [_txn(12, "d", [r2])])
    )
    df = mysql_binlog_read(spark, str(tmp_path), TARGET, "d", "t")
    rows = sorted(
        df.collect(),
        key=lambda r: (r["__file_seq"], r["__event_seq"], r["__image_seq"]),
    )
    assert [r["__op"] for r in rows] == [1, 1, 2, 3, 0]
    assert [r["__gtid"] for r in rows] == [10, 10, 11, 11, 12]
    assert [r["__file_seq"] for r in rows] == [1, 1, 1, 1, 2]
    assert rows[2]["v"] == "a" and rows[3]["v"] == "a2"
    assert rows[3]["amt"] == Decimal("2.50")
    assert rows[2]["__event_seq"] == rows[3]["__event_seq"]
    # __tm is the event header's whole-second commit timestamp (UTC)
    assert rows[0]["__tm"] == dt.datetime(2023, 11, 14, 22, 13, 20)
    assert rows[2]["__tm"] == dt.datetime(2023, 11, 14, 22, 13, 21)
    # decoded changelog drives latest_state unchanged
    from mysql_cdc_table_spark.cdc.ops import latest_state

    state = {r["id"]: r["v"] for r in latest_state(df, ["id"]).collect()}
    assert state == {1: "a2"}  # id 2 deleted


def test_multi_table_demux_and_wrong_map_ignored(spark, tmp_path):
    """Interleave a second table with a DIFFERENT layout: its TABLE_MAP
    and rows must not leak into (or corrupt) the target decode — the
    reference's missing-braces bug (binlog_table_reader.cc:402-403)
    rebuilds its table_def from every map; we must not."""
    other = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("s", T.StringType()),
        ]
    )
    blob_t = build_binlog_file(
        "d", "t", TARGET, [_txn(20, "w", [{"id": 7, "v": "x", "amt": Decimal("0.10")}])],
        table_id=23,
    )
    blob_o = build_binlog_file(
        "d", "other", other, [_txn(21, "w", [{"k": 1, "s": "zz"}])], table_id=24
    )
    # splice: magic + (t events) + (other's events minus magic)
    (tmp_path / "binlog.000001").write_bytes(blob_t + blob_o[4:])
    out = decode_binlog_bytes(
        (tmp_path / "binlog.000001").read_bytes(), TARGET, "d", "t"
    )
    assert len(out) == 1 and out[0]["id"] == 7 and out[0]["v"] == "x"
    other_out = decode_binlog_bytes(
        (tmp_path / "binlog.000001").read_bytes(), other, "d", "other"
    )
    assert len(other_out) == 1 and other_out[0]["s"] == "zz"


def test_checksummed_file_decodes_identically():
    rows = [{"id": 5, "v": "q", "amt": Decimal("9.99")}]
    plain = build_binlog_file("d", "t", TARGET, [_txn(1, "w", rows)], checksum=False)
    crc = build_binlog_file("d", "t", TARGET, [_txn(1, "w", rows)], checksum=True)
    assert plain != crc
    a = decode_binlog_bytes(plain, TARGET, "d", "t")
    b = decode_binlog_bytes(crc, TARGET, "d", "t")
    strip = lambda r: {k: v for k, v in r.items() if k != "__event_seq"}
    assert [strip(r) for r in a] == [strip(r) for r in b]


def test_corrupted_crc_raises_on_decode():
    """The reader VERIFIES the trailing CRC32 when the FDE declares
    checksums (MySQL 8 default binlog_checksum=CRC32) — a flipped bit
    anywhere in an event must raise a pointed error, never decode to
    silently wrong rows. Flipping a byte in the CRC itself and a byte
    in the event body are both caught; the checksum-free twin of the
    same corruption decodes (garbage-in-garbage-out is the declared
    contract when checksums are off, matching the server)."""
    rows = [{"id": 5, "v": "q", "amt": Decimal("9.99")},
            {"id": 6, "v": "r", "amt": Decimal("1.25")}]
    txns = [_txn(1, "w", rows), _txn(2, "d", [rows[0]])]
    crc = build_binlog_file("d", "t", TARGET, txns, checksum=True)
    assert decode_binlog_bytes(crc, TARGET, "d", "t")  # pristine: fine

    # corrupt the stored CRC of the LAST event (its final 4 bytes)
    bad_crc = crc[:-2] + bytes([crc[-2] ^ 0xFF]) + crc[-1:]
    with pytest.raises(ValueError, match="CRC32 mismatch"):
        decode_binlog_bytes(bad_crc, TARGET, "d", "t")

    # corrupt one body byte mid-file (past the FDE, before the tail)
    mid = len(crc) // 2
    bad_body = crc[:mid] + bytes([crc[mid] ^ 0x01]) + crc[mid + 1 :]
    with pytest.raises(ValueError):
        decode_binlog_bytes(bad_body, TARGET, "d", "t")


def test_schema_mismatch_raises():
    wrong = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    blob = build_binlog_file(
        "d", "t", TARGET, [_txn(1, "w", [{"id": 1, "v": "a", "amt": Decimal("1.00")}])]
    )
    with pytest.raises(ValueError, match="TABLE_MAP"):
        decode_binlog_bytes(blob, wrong, "d", "t")


def test_null_handling_across_types():
    rows = [
        {"id": 1, "v": None, "amt": None},
        {"id": None, "v": "only-v", "amt": Decimal("0.01")},
    ]
    blob = build_binlog_file("d", "t", TARGET, [_txn(1, "w", rows)])
    out = decode_binlog_bytes(blob, TARGET, "d", "t")
    assert out[0]["v"] is None and out[0]["amt"] is None and out[0]["id"] == 1
    assert out[1]["id"] is None and out[1]["v"] == "only-v"


@settings(max_examples=200, deadline=None)
@given(
    unscaled=st.integers(min_value=-(10**28) + 1, max_value=10**28 - 1),
    scale=st.integers(min_value=0, max_value=12),
)
def test_newdecimal_wire_fuzz(unscaled, scale):
    """Any (precision=30, scale) value survives the 9-digit-group wire
    format, including negatives (bit-inverted) and zero."""
    v = Decimal(unscaled).scaleb(-scale)
    raw = _encode_newdecimal(v, 30, scale)
    got, end = _decode_newdecimal(raw, 0, 30, scale)
    assert end == len(raw)
    assert got == v.quantize(Decimal(1).scaleb(-scale)) if scale else got == v


def test_decimal_38_10_through_binlog_file():
    """DECIMAL(38,10) survives the FULL file roundtrip (TABLE_MAP
    metadata bytes carry precision/scale; the value is the 9-digit
    group wire format) — including the >28-significant-digit values the
    default decimal context would corrupt."""
    tgt = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("wide", T.DecimalType(38, 10)),
        ]
    )
    vals = [
        Decimal("-12345678901234567890.0123456789"),
        Decimal("9999999999999999999999999999.9999999999"),
        Decimal("0.0000000001"),
        None,
    ]
    rows = [{"id": i, "wide": v} for i, v in enumerate(vals)]
    blob = build_binlog_file("d", "t", tgt, [_txn(1, "w", rows)])
    out = decode_binlog_bytes(blob, tgt, "d", "t")
    assert [r["wide"] for r in out] == vals


def test_newdecimal_38_10_exact_beyond_default_context():
    """DECIMAL(38,10) values with >28 significant digits must encode
    exactly — abs() under the default 28-digit context would round the
    tail (e.g. ...6789 -> ...6800). Exercises both signs and the
    all-nines boundary."""
    for s in (
        "-12345678901234567890.0123456789",
        "12345678901234567890.0123456789",
        "9999999999999999999999999999.9999999999",
        "-9999999999999999999999999999.9999999999",
        "0.0000000001",
    ):
        v = Decimal(s)
        raw = _encode_newdecimal(v, 38, 10)
        got, end = _decode_newdecimal(raw, 0, 38, 10)
        assert end == len(raw)
        assert got == v, f"{s}: got {got}"


@settings(max_examples=150, deadline=None)
@given(
    unscaled=st.integers(min_value=-(10**38) + 1, max_value=10**38 - 1),
)
def test_newdecimal_38_10_wire_fuzz(unscaled):
    from decimal import Context

    wide = Context(prec=60)
    v = Decimal(unscaled).scaleb(-10, context=wide)
    raw = _encode_newdecimal(v, 38, 10)
    got, _ = _decode_newdecimal(raw, 0, 38, 10)
    assert got == v


JSON_DOCS = [
    '{"k":123,"s":"abc","arr":[1,null,true]}',
    '{"a":1,"b":-32768,"big":2147483648,"neg":-9999999999}',
    '[1,2,3,"x",false,null]',
    '{"nested":{"x":[{"deep":"val"},2.5]},"z":""}',
    '"just a string"',
    "12345",
    "-7",
    "true",
    "null",
    "3.25",
    "[]",
    "{}",
    '{"€uro":"ünïcode 𝄞","n":65535}',
]


def test_binary_json_roundtrip_texts():
    """MySQL binary JSON tree (type 245): every document shape —
    small objects/arrays, inlined literals/int16, int32/64, double,
    strings with multi-byte UTF-8, nesting — survives the tree encode
    semantically, and the decoded canonical text is a fixed point
    (object keys land in MySQL's (length, bytes) canonical order)."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _decode_json_binary,
        _encode_json_text,
    )
    import json

    for doc in JSON_DOCS:
        got = _decode_json_binary(_encode_json_text(doc))
        assert json.loads(got) == json.loads(doc), doc
        assert _decode_json_binary(_encode_json_text(got)) == got, doc


def test_binary_json_key_order_is_mysql_canonical():
    """Object keys are stored sorted by (length, bytes) — MySQL's
    canonical order — regardless of input order."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _decode_json_binary,
        _encode_json_text,
    )

    assert (
        _decode_json_binary(_encode_json_text('{"bb":2,"a":1,"ccc":3}'))
        == '{"a":1,"bb":2,"ccc":3}'
    )


def test_json_and_geometry_columns_through_binlog():
    """JSON (binary tree) and GEOMETRY (SRID+WKB passthrough) columns
    survive the full binlog file roundtrip, including NULLs."""
    tgt = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("doc", T.StringType(), metadata={"mysql_type": "json"}),
            T.StructField("geo", T.BinaryType(), metadata={"mysql_type": "geometry"}),
        ]
    )
    # SRID 4326 + WKB point(1.0, 2.0), little-endian
    import struct as _s

    wkb = _s.pack("<IBI2d", 4326, 1, 1, 1.0, 2.0)
    rows = [
        {"id": 1, "doc": '{"k":1,"s":"x","arr":[7,null,true]}', "geo": wkb},
        {"id": 2, "doc": None, "geo": None},
        {"id": 3, "doc": '[1,{"a":false}]', "geo": b"\x00"},
    ]
    blob = build_binlog_file("d", "t", tgt, [_txn(1, "w", rows)])
    out = decode_binlog_bytes(blob, tgt, "d", "t")
    assert [r["doc"] for r in out] == [rows[0]["doc"], None, rows[2]["doc"]]
    assert [r["geo"] for r in out] == [wkb, None, b"\x00"]


def test_unsupported_payload_event_raises():
    """A payload-bearing event the reader can't decode (pre-5.6 rows-v1
    here) must raise with a pointed message — the reference's
    default-skip would silently drop its row data. Truly ignorable
    types (XID here) still skip."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        EV_WRITE_ROWS_V1,
        EV_XID,
        _event,
    )

    r1 = {"id": 1, "v": "a", "amt": Decimal("1.00")}
    blob = build_binlog_file("d", "t", TARGET, [_txn(1, "w", [r1])])
    xid = _event(1_700_000_000, EV_XID, 1, b"\x01\x00\x00\x00\x00\x00\x00\x00", len(blob), False)
    assert len(decode_binlog_bytes(blob + xid, TARGET, "d", "t")) == 1
    v1_ev = _event(
        1_700_000_000, EV_WRITE_ROWS_V1, 1, b"\x00" * 24, len(blob), False
    )
    with pytest.raises(ValueError, match="pre-5.6"):
        decode_binlog_bytes(blob + v1_ev, TARGET, "d", "t")


def test_transaction_payload_none_decodes_like_plain():
    """binlog_transaction_compression framing (TRANSACTION_PAYLOAD with
    compression NONE): the wrapped file must decode to the same
    changelog as its unwrapped twin — GTIDs, op codes, update pairing
    and all — not to a silently empty result."""
    r1 = {"id": 1, "v": "a", "amt": Decimal("1.50")}
    r1b = {"id": 1, "v": "a2", "amt": Decimal("2.50")}
    r2 = {"id": 2, "v": "b", "amt": Decimal("-3.25")}
    txns = [
        _txn(10, "w", [r1, r2]),
        _txn(11, "u", [(r1, r1b)]),
        _txn(12, "d", [r2]),
    ]
    plain = build_binlog_file("d", "t", TARGET, txns)
    wrapped = build_binlog_file("d", "t", TARGET, txns, payload_wrap=True)
    assert plain != wrapped
    a = decode_binlog_bytes(plain, TARGET, "d", "t")
    b = decode_binlog_bytes(wrapped, TARGET, "d", "t")
    strip = lambda r: {k: v for k, v in r.items() if k != "__event_seq"}
    assert [strip(r) for r in a] == [strip(r) for r in b]
    # ordering keys inside the payload still strictly increase
    seqs = [(r["__event_seq"], r["__image_seq"]) for r in b]
    assert seqs == sorted(seqs)


def test_partial_update_rows_applies_json_diffs():
    """PARTIAL_UPDATE_ROWS (binlog_row_value_options=PARTIAL_JSON): the
    after-image JSON must equal the before-image with the diff vector
    applied, in canonical key order — byte-identical to what a FULL
    after-image of the same update would decode to. The reference
    default-skips type 39, silently losing these updates."""
    from pyspark.sql import types as T

    tgt = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "doc", T.StringType(), metadata={"mysql_type": "json"}
            ),
            T.StructField("v", T.StringType()),
        ]
    )
    before = {
        "id": 1,
        "doc": '{"k":7,"s":"x","arr":[1,null,true],"drop":"gone"}',
        "v": "old",
    }
    after_nonjson = {"id": 1, "v": "new"}
    diffs = {
        "doc": [
            ("replace", "$.k", 42),
            ("insert", "$.new", [1, 2]),
            ("remove", "$.drop", None),
            ("replace", "$.arr[1]", 5),
        ]
    }
    blob = build_binlog_file(
        "d", "t", tgt, [{"gno": 9, "op": "pu", "rows": [(before, after_nonjson, diffs)]}]
    )
    rows = decode_binlog_bytes(blob, tgt, "d", "t")
    assert [r["__op"] for r in rows] == [2, 3]
    assert rows[0]["doc"] == before["doc"]
    # canonical order: k(1) s(1) arr(3) new(3)
    assert rows[1]["doc"] == '{"k":42,"s":"x","arr":[1,5,true],"new":[1,2]}'
    assert rows[1]["v"] == "new"
    # equivalence with the FULL update of the same row
    full = build_binlog_file(
        "d", "t", tgt,
        [{"gno": 9, "op": "u", "rows": [(before, dict(after_nonjson, doc=rows[1]["doc"]))]}],
    )
    frows = decode_binlog_bytes(full, tgt, "d", "t")
    strip = lambda r: {k: v for k, v in r.items() if not k.startswith("__")}
    assert strip(frows[1]) == strip(rows[1])


def test_partial_update_mixed_full_and_partial_columns():
    """partial_bits decides per JSON column: with two JSON columns, one
    stored as a diff vector and one as a full document in the same
    after-image, both must decode; nested + quoted paths and empty diff
    vectors (unchanged value) work; a NULL after value clears the
    column through the null bitmap as usual."""
    from pyspark.sql import types as T

    tgt = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("a", T.StringType(), metadata={"mysql_type": "json"}),
            T.StructField("b", T.StringType(), metadata={"mysql_type": "json"}),
        ]
    )
    before = {
        "id": 5,
        "a": '{"o":{"x":[10,20]},"key sp":1}',
        "b": '{"z":1}',
    }
    # column a partial (nested + quoted paths), column b full rewrite
    after = {"id": 5, "b": '{"w":2}'}
    diffs = {
        "a": [
            ("replace", '$.o.x[0]', 11),
            ("insert", '$.o.x[9]', 99),  # past the end -> append
            ("replace", '$."key sp"', 2),
        ]
    }
    blob = build_binlog_file(
        "d", "t", tgt, [{"gno": 1, "op": "pu", "rows": [(before, after, diffs)]}]
    )
    rows = decode_binlog_bytes(blob, tgt, "d", "t")
    assert rows[1]["a"] == '{"o":{"x":[11,20,99]},"key sp":2}'
    assert rows[1]["b"] == '{"w":2}'

    # empty diff vector -> value unchanged
    blob2 = build_binlog_file(
        "d", "t", tgt,
        [{"gno": 2, "op": "pu", "rows": [(before, after, {"a": []})]}],
    )
    rows2 = decode_binlog_bytes(blob2, tgt, "d", "t")
    assert rows2[1]["a"] == before["a"]

    # corrupt path (not present in the before doc) raises, never silence
    blob3 = build_binlog_file(
        "d", "t", tgt,
        [{"gno": 3, "op": "pu",
          "rows": [(before, after, {"a": [("replace", "$.nope", 1)]})]}],
    )
    with pytest.raises(ValueError, match="not found"):
        decode_binlog_bytes(blob3, tgt, "d", "t")


_json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**62), max_value=2**62),
    st.text(
        st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
        max_size=8,
    ),
)
_json_values = st.recursive(
    _json_scalars,
    lambda inner: st.one_of(
        st.lists(inner, max_size=4),
        st.dictionaries(st.text(st.characters(min_codepoint=97, max_codepoint=122), min_size=1, max_size=6), inner, max_size=4),
    ),
    max_leaves=12,
)


@settings(max_examples=150, deadline=None)
@given(doc=st.dictionaries(
    st.text(st.characters(min_codepoint=97, max_codepoint=122), min_size=1, max_size=6),
    _json_values, min_size=1, max_size=5,
), new_val=_json_values)
def test_json_diff_apply_equals_full_update_fuzz(doc, new_val):
    """Property: for ANY before-document and any member replace/insert/
    remove, the diff-vector wire roundtrip + apply produces byte-
    identical canonical text to encoding the post-state directly — the
    partial path can never drift from the full path."""
    import json

    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _apply_json_diffs,
        _decode_json_binary,
        _encode_json_diff_vector,
        _encode_json_text,
        _read_json_diff_vector,
    )

    before_text = _decode_json_binary(_encode_json_text(json.dumps(doc)))
    keys = sorted(doc)
    target = keys[0]
    expected = dict(doc)
    expected[target] = new_val
    expected["zz_new"] = new_val
    victim = keys[-1]
    if victim != target:
        del expected[victim]
    diffs = [
        ("replace", f"$.{target}", new_val),
        ("insert", "$.zz_new", new_val),
    ] + ([("remove", f"$.{victim}", None)] if victim != target else [])

    wire = _encode_json_diff_vector(diffs)
    decoded, end = _read_json_diff_vector(wire, 0)
    assert end == len(wire)
    applied = _apply_json_diffs(before_text, decoded)
    # the ground truth: encode the post-state through the binary codec
    full = _decode_json_binary(_encode_json_text(json.dumps(expected)))
    assert applied == full


@pytest.mark.parametrize("checksum", [False, True])
def test_zstd_partial_json_through_file_reader(spark, tmp_path, checksum):
    """Integration: a binlog FILE whose transactions are BOTH
    zstd-compressed AND carry JSON partial updates decodes through the
    public mysql_binlog_read path (not just decode_binlog_bytes) —
    with and without CRC32 checksums on the carrier events (MySQL 8
    defaults to checksum=CRC32 AND transaction compression available,
    so the triple combination is a real deployment)."""
    from mysql_cdc_table_spark.cdc.schema import CDC_INSERT
    from mysql_cdc_table_spark.sources import mysql_binlog as mb
    from mysql_cdc_table_spark.sources.mysql_binlog import mysql_binlog_read

    if mb._zstd_backend() == (None, None):
        pytest.skip("no zstd backend in this environment")
    tgt = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("doc", T.StringType(), metadata={"mysql_type": "json"}),
        ]
    )
    before = {"id": 1, "doc": '{"a":1,"b":2}'}
    txns = [
        {"gno": 5, "op": "w", "rows": [before]},
        {"gno": 6, "op": "pu",
         "rows": [(before, {"id": 1}, {"doc": [("replace", "$.a", 9)]})]},
    ]
    blob = build_binlog_file(
        "d", "t", tgt, txns, payload_wrap="zstd", checksum=checksum
    )
    (tmp_path / "binlog.000001").write_bytes(blob)
    rows = (
        mysql_binlog_read(spark, str(tmp_path), tgt, "d", "t")
        .orderBy("__event_seq", "__image_seq")
        .collect()
    )
    assert [r["__op"] for r in rows] == [CDC_INSERT, 2, 3]
    assert rows[2]["doc"] == '{"a":9,"b":2}'
    assert [r["__gtid"] for r in rows] == [5, 6, 6]


def test_json_path_parser():
    from mysql_cdc_table_spark.sources.mysql_binlog import _parse_json_path

    assert _parse_json_path("$") == []
    assert _parse_json_path("$.a.b") == ["a", "b"]
    assert _parse_json_path("$[3]") == [3]
    assert _parse_json_path('$."a.b"[2].c') == ["a.b", 2, "c"]
    assert _parse_json_path('$."q\\"uo"') == ['q"uo']
    with pytest.raises(ValueError):
        _parse_json_path("a.b")
    with pytest.raises(ValueError):
        _parse_json_path("$..a")


def test_transaction_payload_zstd_roundtrip():
    """binlog_transaction_compression=ON (ZSTD): the compressed file
    must decode to the same changelog as its uncompressed twin. Skips
    only if NO zstd backend resolves (stdlib module, zstandard package,
    or ctypes over libzstd — this container has libzstd.so.1)."""
    from mysql_cdc_table_spark.sources import mysql_binlog as mb

    if mb._zstd_backend() == (None, None):
        pytest.skip("no zstd backend in this environment")
    r1 = {"id": 1, "v": "a", "amt": Decimal("1.50")}
    r1b = {"id": 1, "v": "a2", "amt": Decimal("2.50")}
    r2 = {"id": 2, "v": "b", "amt": Decimal("-3.25")}
    txns = [
        _txn(10, "w", [r1, r2]),
        _txn(11, "u", [(r1, r1b)]),
        _txn(12, "d", [r2]),
    ]
    plain = build_binlog_file("d", "t", TARGET, txns)
    wrapped = build_binlog_file("d", "t", TARGET, txns, payload_wrap="zstd")
    # the payload really is a zstd frame (magic 28 B5 2F FD), not NONE
    assert b"\x28\xb5\x2f\xfd" in wrapped
    a = decode_binlog_bytes(plain, TARGET, "d", "t")
    b = decode_binlog_bytes(wrapped, TARGET, "d", "t")
    strip = lambda r: {k: v for k, v in r.items() if k != "__event_seq"}
    assert [strip(r) for r in a] == [strip(r) for r in b]


def test_transaction_payload_zstd_raises_without_backend(monkeypatch):
    """With every backend unavailable a ZSTD payload must raise a
    pointed error — never decode to an empty changelog. The no-backend
    state is forced via the resolution cache so this branch is tested
    in EVERY environment, not only zstd-less ones."""
    from mysql_cdc_table_spark.sources import mysql_binlog as mb

    monkeypatch.setattr(mb, "_ZSTD_IMPL", (None, None))
    tlv = lambda t, v: mb._pack_int(t) + mb._pack_int(len(v)) + v
    body = (
        tlv(2, mb._pack_int(0))  # compression type ZSTD
        + tlv(3, mb._pack_int(100))
        + mb._pack_int(0)
        + b"\x28\xb5\x2f\xfd junk"
    )
    blob = build_binlog_file("d", "t", TARGET, [])
    ev = mb._event(
        1_700_000_000, mb.EV_TRANSACTION_PAYLOAD, 1, body, len(blob), False
    )
    with pytest.raises(ValueError, match="ZSTD-compressed"):
        decode_binlog_bytes(blob + ev, TARGET, "d", "t")


def test_transaction_payload_zstd_junk_frame_raises():
    """A corrupt zstd frame raises a decode error (not silence) when a
    backend IS available."""
    from mysql_cdc_table_spark.sources import mysql_binlog as mb

    if mb._zstd_backend() == (None, None):
        pytest.skip("no zstd backend in this environment")
    tlv = lambda t, v: mb._pack_int(t) + mb._pack_int(len(v)) + v
    body = (
        tlv(2, mb._pack_int(0))
        + tlv(3, mb._pack_int(100))
        + mb._pack_int(0)
        + b"\x28\xb5\x2f\xfd junk"
    )
    blob = build_binlog_file("d", "t", TARGET, [])
    ev = mb._event(
        1_700_000_000, mb.EV_TRANSACTION_PAYLOAD, 1, body, len(blob), False
    )
    with pytest.raises(Exception, match="(?i)zstd|decompress"):
        decode_binlog_bytes(blob + ev, TARGET, "d", "t")


def test_zstd_ctypes_hardening():
    """The ctypes-libzstd fallback (round-4 ADVICE): a non-frame input
    raises instead of falling through to the heuristic buffer cap, and
    an absurd untrusted expected_size no longer drives the allocation —
    the cap is clamped, and a genuine frame still roundtrips under it."""
    from mysql_cdc_table_spark.sources import mysql_binlog as mb

    impl = mb._zstd_ctypes()
    if impl is None:
        pytest.skip("libzstd not loadable in this environment")
    comp, dec = impl
    payload = b"the quick brown fox " * 200
    frame = comp(payload)
    # valid frame, honest size hint
    assert dec(frame, len(payload)) == payload
    # valid frame, ABSURD untrusted size hint: must not allocate 2^62
    assert dec(frame, 2**62) == payload
    # garbage bytes are rejected as not-a-frame, not silently capped
    with pytest.raises(ValueError, match="not a valid zstd frame"):
        dec(b"\x00\x01\x02\x03 definitely not zstd", None)


def test_multi_table_builder_duplicate_gno_sort():
    """Two transactions with the same gno (one per stream) must not make
    the interleave sort compare the txn dicts (round-4 ADVICE: sorted()
    on (gno, si, txn) tuples raised TypeError on gno+si ties within a
    stream; the key now stops at (gno, si))."""
    from mysql_cdc_table_spark.sources import mysql_binlog as mb

    txns_a = [
        {"gno": 5, "op": "w", "rows": [{"id": 1, "v": "a", "amt": Decimal("1.00")}]},
        {"gno": 5, "op": "w", "rows": [{"id": 2, "v": "b", "amt": Decimal("2.00")}]},
    ]
    txns_b = [
        {"gno": 5, "op": "w", "rows": [{"id": 9, "v": "c", "amt": Decimal("3.00")}]},
    ]
    blob = mb.build_binlog_file_multi(
        [
            {"db": "d", "table": "t", "target": TARGET, "table_id": 31,
             "txns": txns_a},
            {"db": "d", "table": "t2", "target": TARGET, "table_id": 32,
             "txns": txns_b},
        ]
    )
    rows = decode_binlog_bytes(blob, TARGET, "d", "t")
    assert sorted(r["id"] for r in rows) == [1, 2]
    rows2 = decode_binlog_bytes(blob, TARGET, "d", "t2")
    assert [r["id"] for r in rows2] == [9]


@settings(max_examples=100, deadline=None)
@given(
    ts=st.datetimes(
        min_value=dt.datetime(1000, 1, 1), max_value=dt.datetime(9999, 12, 31)
    ),
    fsp=st.sampled_from([0, 2, 3, 6]),
)
def test_datetime2_wire_fuzz(ts, fsp):
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _decode_datetime2,
        _encode_datetime2,
    )

    raw = _encode_datetime2(ts, fsp)
    got, end = _decode_datetime2(raw, 0, fsp)
    assert end == len(raw)
    trunc = ts.replace(
        microsecond=(ts.microsecond // 10 ** (6 - fsp)) * 10 ** (6 - fsp)
        if fsp
        else 0
    )
    assert got == trunc


def test_streaming_tail_incremental_with_store(spark, tmp_path):
    """Stream rotated binlog files through the bucketed latest-state
    store across two availableNow passes on one checkpoint: the second
    pass consumes only the new file, and the store equals batch
    latest_state over both files."""
    from mysql_cdc_table_spark.cdc.ops import latest_state
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        mysql_binlog_read_stream,
    )
    from mysql_cdc_table_spark.streaming.cdc_stream import (
        materialize_latest_state_partitioned,
        run_to_completion,
    )

    d = tmp_path / "logs"
    d.mkdir()
    store = str(tmp_path / "state.parquet")
    ckpt = str(tmp_path / "ckpt")
    r1 = {"id": 1, "v": "a", "amt": Decimal("1.00")}
    r1b = {"id": 1, "v": "a2", "amt": Decimal("2.00")}
    r2 = {"id": 2, "v": "b", "amt": Decimal("3.00")}
    (d / "binlog.000001").write_bytes(
        build_binlog_file("d", "t", TARGET, [_txn(10, "w", [r1, r2])])
    )

    def run_phase():
        stream = mysql_binlog_read_stream(spark, str(d), TARGET, "d", "t")
        run_to_completion(
            materialize_latest_state_partitioned(stream, ["id"], store, ckpt, n_buckets=4)
        )

    run_phase()
    got = {r["id"]: r["v"] for r in spark.read.parquet(store).collect()}
    assert got == {1: "a", 2: "b"}

    (d / "binlog.000002").write_bytes(
        build_binlog_file(
            "d", "t", TARGET, [_txn(11, "u", [(r1, r1b)]), _txn(12, "d", [r2])]
        )
    )
    run_phase()
    got = {r["id"]: r["v"] for r in spark.read.parquet(store).collect()}
    batch = {
        r["id"]: r["v"]
        for r in latest_state(
            mysql_binlog_read(spark, str(d), TARGET, "d", "t"), ["id"]
        ).collect()
    }
    assert got == batch == {1: "a2"}


def test_run_to_completion_times_out_loudly(spark, tmp_path):
    """A tail stream that cannot drain within the timeout is stopped and
    raises TimeoutError instead of returning as if it had drained."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        mysql_binlog_read_stream,
    )
    from mysql_cdc_table_spark.streaming.cdc_stream import (
        materialize_latest_state_partitioned,
        run_to_completion,
    )

    d = tmp_path / "logs"
    d.mkdir()
    (d / "binlog.000001").write_bytes(
        build_binlog_file(
            "d", "t", TARGET, [_txn(10, "w", [{"id": 1, "v": "a", "amt": Decimal("1.00")}])]
        )
    )
    stream = mysql_binlog_read_stream(spark, str(d), TARGET, "d", "t")
    writer = materialize_latest_state_partitioned(
        stream, ["id"], str(tmp_path / "state.parquet"), str(tmp_path / "ckpt"), n_buckets=4
    )
    before = {q.id for q in spark.streams.active}
    with pytest.raises(TimeoutError, match="did not drain within 0.001s"):
        run_to_completion(writer, timeout_s=0.001)
    assert {q.id for q in spark.streams.active} == before


_row_strategy = st.fixed_dictionaries(
    {
        "id": st.none() | st.integers(-(2**62), 2**62),
        "v": st.none() | st.text(max_size=24),
        "amt": st.none()
        | st.decimals(
            min_value="-99999999.99", max_value="99999999.99", places=2
        ),
    }
)


@settings(max_examples=25, deadline=None)
@given(
    txns=st.lists(
        st.tuples(
            st.sampled_from(["w", "d", "u"]),
            st.lists(_row_strategy, min_size=1, max_size=3),
        ),
        min_size=1,
        max_size=6,
    ),
    checksum=st.booleans(),
    payload_wrap=st.booleans(),
)
def test_whole_file_roundtrip_property(txns, checksum, payload_wrap):
    """Whole-file invariant: for ARBITRARY transaction scripts (ops,
    multi-row events, NULL placement, negative decimals, unicode,
    checksums on/off, compressed-transaction framing on/off),
    decode(build(txns)) reproduces every row image, op code, GTID and
    image order exactly."""
    script = []
    expect = []  # (op, row) in emission order
    for i, (op, rows) in enumerate(txns):
        gno = 100 + i
        if op == "u":
            pairs = []
            for r in rows:
                before = dict(r, v=(r["v"] or "") + "!")
                pairs.append((before, r))
                expect.append((2, gno, before))
                expect.append((3, gno, r))
            script.append({"gno": gno, "op": "u", "rows": pairs})
        else:
            for r in rows:
                expect.append((1 if op == "w" else 0, gno, r))
            script.append({"gno": gno, "op": op, "rows": list(rows)})
    blob = build_binlog_file(
        "d", "t", TARGET, script, checksum=checksum, payload_wrap=payload_wrap
    )
    out = decode_binlog_bytes(blob, TARGET, "d", "t")
    assert len(out) == len(expect)
    for got, (op, gno, row) in zip(out, expect):
        assert got["__op"] == op and got["__gtid"] == gno
        for k, v in row.items():
            assert got[k] == v, (k, v, got[k])
    seqs = [(r["__event_seq"], r["__image_seq"]) for r in out]
    assert seqs == sorted(seqs)


def test_tail_stream_sub_rotation_latency(spark, tmp_path):
    """The mysql_binlog_tail DataSource must consume the ACTIVE file's
    new complete events without waiting for rotation: batch 1 reads the
    decodable prefix of a mid-write file; after the file grows (and a
    new file rotates in), batch 2 on the same checkpoint emits ONLY the
    delta — no replays, no missed events."""
    from mysql_cdc_table_spark.sources.datasource import register
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        mysql_binlog_tail_stream,
    )

    register(spark)
    d = tmp_path / "logs"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")
    ddl = "id bigint, v string, amt decimal(10,2)"

    r1 = {"id": 1, "v": "a", "amt": Decimal("1.50")}
    r1b = {"id": 1, "v": "a2", "amt": Decimal("2.50")}
    r2 = {"id": 2, "v": "b", "amt": Decimal("-3.25")}
    full1 = build_binlog_file(
        "d", "t", TARGET, [_txn(10, "w", [r1, r2]), _txn(11, "u", [(r1, r1b)])]
    )
    # phase 1: the active file is mid-write — txn 11 is cut off
    (d / "binlog.000001").write_bytes(full1[:-5])

    def run_once():
        got: list = []

        run_to_completion(
            mysql_binlog_tail_stream(spark, str(d), ddl, "d", "t")
            .writeStream.foreachBatch(
                lambda df, _eid: got.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
        )
        return got

    batch1 = sorted(run_once(), key=lambda r: (r["__event_seq"], r["__image_seq"]))
    assert [(r["id"], r["__op"], r["__gtid"]) for r in batch1] == [
        (1, 1, 10),
        (2, 1, 10),
    ]

    # phase 2: the active file completes in place AND a new file rotates in
    (d / "binlog.000001").write_bytes(full1)
    (d / "binlog.000002").write_bytes(
        build_binlog_file("d", "t", TARGET, [_txn(12, "d", [r2])])
    )
    batch2 = sorted(
        run_once(),
        key=lambda r: (r["__file_seq"], r["__event_seq"], r["__image_seq"]),
    )
    assert [(r["id"], r["__op"], r["__gtid"]) for r in batch2] == [
        (1, 2, 11),  # txn 11 update pair — the completed tail, no replay of txn 10
        (1, 3, 11),
        (2, 0, 12),  # rotated-in delete
    ]
    assert batch2[0]["v"] == "a" and batch2[1]["v"] == "a2"


def test_multi_source_uuid_gno_through_real_binlog(spark, tmp_path):
    """gtid_format="uuid_gno": the GTID event's 16-byte server UUID
    surfaces as __gtid_src in canonical text form — per-source state
    derivation works on a multi-source binlog set, exceeding the
    reference (its multi-source block is commented out,
    binlog_table_reader.cc:418-425)."""
    sid_a = bytes(range(16))
    sid_b = b"\xaa" * 16
    r = lambda i, v: {"id": i, "v": v, "amt": Decimal(i)}
    (tmp_path / "binlog.000001").write_bytes(
        build_binlog_file("d", "t", TARGET, [_txn(5, "w", [r(1, "a")])], sid=sid_a)
    )
    (tmp_path / "binlog.000002").write_bytes(
        build_binlog_file("d", "t", TARGET, [_txn(5, "w", [r(2, "b")])], sid=sid_b)
    )
    df = mysql_binlog_read(
        spark, str(tmp_path), TARGET, "d", "t", gtid_format="uuid_gno"
    )
    rows = {x["id"]: x for x in df.collect()}
    assert rows[1]["__gtid_src"] == "00010203-0405-0607-0809-0a0b0c0d0e0f"
    assert rows[2]["__gtid_src"] == "aaaaaaaa-aaaa-aaaa-aaaa-aaaaaaaaaaaa"
    # same GNO from two sources stays distinguishable
    assert rows[1]["__gtid"] == rows[2]["__gtid"] == 5
    per_source = {
        x["__gtid_src"]: x["v"]
        for x in df.groupBy("__gtid_src")
        .agg(F.max_by("v", F.struct("__gtid", "__event_seq")).alias("v"))
        .collect()
    }
    assert len(per_source) == 2
    # default long format keeps the legacy schema (no __gtid_src)
    legacy = mysql_binlog_read(spark, str(tmp_path), TARGET, "d", "t")
    assert "__gtid_src" not in legacy.columns


def test_tail_reader_replay_is_deterministic(tmp_path):
    """Checkpoint-recovery contract: readBetweenOffsets(start, end) must
    return exactly the rows the original read(start) produced, EVEN
    AFTER the active file has grown since — the end offset caps the
    replay at the old whole-event prefix."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        MysqlBinlogTailStreamReader,
    )

    d = tmp_path / "logs"
    d.mkdir()
    r1 = {"id": 1, "v": "a", "amt": Decimal("1.00")}
    r2 = {"id": 2, "v": "b", "amt": Decimal("2.00")}
    full = build_binlog_file("d", "t", TARGET, [_txn(10, "w", [r1]), _txn(11, "w", [r2])])
    (d / "binlog.000001").write_bytes(full[:-4])  # active file, txn 11 cut

    reader = MysqlBinlogTailStreamReader(
        {
            "path": str(d),
            "schema_ddl": "id bigint, v string, amt decimal(10,2)",
            "database": "d",
            "table": "t",
        }
    )
    start = reader.initialOffset()
    b1, end = reader._delta(start)
    rows1 = tail_rows(b1)
    assert [r[0] for r in rows1] == [1]  # only txn 10 is complete

    # the active file grows: txn 11 completes
    (d / "binlog.000001").write_bytes(full)
    replay = tail_rows(reader.readBetweenOffsets(start, end))
    assert replay == rows1  # replay ignores post-offset growth
    b2, end2 = reader._delta(end)
    rows2 = tail_rows(b2)
    assert [r[0] for r in rows2] == [2]  # next batch gets only the delta
    assert end2["pos"] == len(full)


def test_tail_reader_skips_foreign_and_magicless_files(tmp_path):
    """A live binlog dir can transiently hold files whose 4-byte magic
    isn't written yet (rotation race) or foreign files (recovery temps).
    _delta must skip them — not decode b'' and kill the micro-batch —
    and pick a skipped-but-real file up once its magic lands."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        MysqlBinlogTailStreamReader,
    )

    d = tmp_path / "logs"
    d.mkdir()
    blob = build_binlog_file(
        "d", "t", TARGET, [_txn(10, "w", [{"id": 1, "v": "a", "amt": Decimal("1.00")}])]
    )
    (d / "binlog.000001").write_bytes(blob)
    (d / "binlog.000002").write_bytes(b"")  # rotated, magic not yet on disk
    (d / "recovery.tmp").write_bytes(b"garbage not a binlog")  # foreign

    reader = MysqlBinlogTailStreamReader(
        {
            "path": str(d),
            "schema_ddl": "id bigint, v string, amt decimal(10,2)",
            "database": "d",
            "table": "t",
        }
    )
    b, end = reader._delta(reader.initialOffset())
    rows = tail_rows(b)
    assert [r[0] for r in rows] == [1]

    # the rotated file's magic + events land: next batch consumes it
    blob2 = build_binlog_file(
        "d", "t", TARGET, [_txn(11, "w", [{"id": 2, "v": "b", "amt": Decimal("2.00")}])]
    )
    (d / "binlog.000002").write_bytes(blob2)
    b2, _ = reader._delta(end)
    rows2 = tail_rows(b2)
    assert [r[0] for r in rows2] == [2]


def test_truncated_tail_permissive_vs_strict():
    """A file cut mid-event (the live binlog's normal state) decodes the
    complete prefix in permissive mode and raises in strict mode —
    whether the cut lands inside an event body or inside a header."""
    r1 = {"id": 1, "v": "a", "amt": Decimal("1.00")}
    r2 = {"id": 2, "v": "b", "amt": Decimal("2.00")}
    blob = build_binlog_file(
        "d", "t", TARGET, [_txn(1, "w", [r1]), _txn(2, "w", [r2])]
    )
    full = decode_binlog_bytes(blob, TARGET, "d", "t")
    assert [r["id"] for r in full] == [1, 2]
    for cut in (10, 5):  # mid-body and mid-header of the trailing event
        chopped = blob[: len(blob) - cut]
        got = decode_binlog_bytes(chopped, TARGET, "d", "t")
        assert [r["id"] for r in got] == [1]  # txn 2's rows event is partial
        with pytest.raises(ValueError, match="truncated|trailing"):
            decode_binlog_bytes(chopped, TARGET, "d", "t", mode="strict")


def test_index_file_defines_scan_set(spark, tmp_path):
    """The reference's CONNECTION-string entry point: only files listed
    in the index are read, in rotation order; an unlisted file in the
    same directory is ignored (binlog_table_reader.cc:39-57)."""
    r = lambda i: {"id": i, "v": f"v{i}", "amt": Decimal(i)}
    for n, gno in ((1, 10), (2, 11), (3, 12)):
        (tmp_path / f"binlog.00000{n}").write_bytes(
            build_binlog_file("d", "t", TARGET, [_txn(gno, "w", [r(n)])])
        )
    (tmp_path / "binlog.index").write_text("binlog.000001\nbinlog.000003\n")
    df = mysql_binlog_read(
        spark, None, TARGET, "d", "t", index_file=str(tmp_path / "binlog.index")
    )
    rows = sorted(df.collect(), key=lambda x: x["__file_seq"])
    assert [x["id"] for x in rows] == [1, 3]  # 000002 not listed -> not read
    assert [x["__gtid"] for x in rows] == [10, 12]


def test_minimal_row_image_updates():
    """binlog_row_image=MINIMAL: update before-images carry only the
    key columns; absent columns decode as None, after-images stay full,
    and latest_state (keyed on id) is unaffected."""
    r1 = {"id": 1, "v": "a", "amt": Decimal("1.00")}
    r1b = {"id": 1, "v": "a2", "amt": Decimal("2.00")}
    blob = build_binlog_file(
        "d", "t", TARGET,
        [
            {"gno": 10, "op": "w", "rows": [r1]},
            {"gno": 11, "op": "u", "rows": [({"id": 1}, r1b)],
             "before_present": [0]},  # key column only
        ],
    )
    out = decode_binlog_bytes(blob, TARGET, "d", "t")
    assert [r["__op"] for r in out] == [1, 2, 3]
    before = out[1]
    assert before["id"] == 1 and before["v"] is None and before["amt"] is None
    after = out[2]
    assert after["v"] == "a2" and after["amt"] == Decimal("2.00")


def test_mediumint_and_time2_roundtrip():
    """INT24 (MEDIUMINT, 3-byte LE signed) and TIME2 (offset-binary,
    signed, ±838:59:59) survive the wire format at their boundaries."""
    tgt = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("m", T.IntegerType(), metadata={"mysql_type": "mediumint"}),
            T.StructField("t", T.StringType(), metadata={"mysql_type": "time"}),
        ]
    )
    rows = [
        {"id": 1, "m": (1 << 23) - 1, "t": "838:59:59"},
        {"id": 2, "m": -(1 << 23), "t": "-838:59:59"},
        {"id": 3, "m": -1, "t": "0:00:00"},
        {"id": 4, "m": 0, "t": "-0:00:01"},
        {"id": 5, "m": 12345, "t": "23:59:01"},
    ]
    blob = build_binlog_file("d", "t", tgt, [_txn(1, "w", rows)])
    out = decode_binlog_bytes(blob, tgt, "d", "t")
    assert [(r["m"], r["t"]) for r in out] == [(r["m"], r["t"]) for r in rows]
    with pytest.raises(ValueError, match="out of range"):
        build_binlog_file("d", "t", tgt, [_txn(1, "w", [{"id": 9, "m": 1 << 23, "t": "0:00:00"}])])
    with pytest.raises(ValueError, match="TIME"):
        build_binlog_file("d", "t", tgt, [_txn(1, "w", [{"id": 9, "m": 0, "t": "839:00:00"}])])


def test_schema_evolution_add_column():
    """ALTER TABLE ADD COLUMN mid-stream: events decoded under the old
    TABLE_MAP (a type-code prefix of the target) surface the new column
    as None; post-ALTER events carry it. A map with MORE columns than
    the target still raises (positional misalignment hazard)."""
    old = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    blob_old = build_binlog_file("d", "t", old, [_txn(1, "w", [{"id": 1, "v": "a"}])])
    blob_new = build_binlog_file(
        "d", "t", TARGET,
        [_txn(2, "w", [{"id": 2, "v": "b", "amt": Decimal("2.50")}])],
    )
    stream = blob_old + blob_new[4:]
    out = decode_binlog_bytes(stream, TARGET, "d", "t")
    assert [(r["id"], r["v"], r.get("amt")) for r in out] == [
        (1, "a", None),
        (2, "b", Decimal("2.50")),
    ]
    # reverse direction: target older than the stream -> error
    with pytest.raises(ValueError, match="LATEST schema"):
        decode_binlog_bytes(stream, old, "d", "t")


def test_tail_stream_latest_state_across_alter_boundary(spark, tmp_path):
    """Round-5 stretch: the sub-rotation streaming tail feeds a
    foreachBatch MERGE latest-state store while the stream crosses an
    ALTER TABLE ADD COLUMN boundary MID-RUN — batch 1 materializes
    old-generation rows (new column NULL), then a file whose events
    carry the post-ALTER TABLE_MAP lands and batch 2 merges the new
    generation into the same store. The final store must equal batch
    latest-state over the same bytes. The reference can do neither half
    (no streaming at all; its per-map table_def rebuild corrupts
    mid-stream evolution, binlog_table_reader.cc:402-403)."""
    from mysql_cdc_table_spark.cdc import latest_state
    from mysql_cdc_table_spark.sources.datasource import register
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        mysql_binlog_read,
        mysql_binlog_tail_stream,
    )
    from mysql_cdc_table_spark.streaming.cdc_stream import (
        materialize_latest_state,
        run_to_completion,
    )

    register(spark)
    d = tmp_path / "logs"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "state.parquet")

    old_target = TARGET  # id, v, amt
    new_target = T.StructType(
        list(TARGET.fields) + [T.StructField("note", T.StringType())]
    )
    ddl = "id bigint, v string, amt decimal(10,2), note string"

    r = lambda i, v, note=None: {
        "id": i, "v": v, "amt": Decimal(i),
        **({"note": note} if note is not None else {}),
    }
    old_rows = lambda i, v: {k: x for k, x in r(i, v).items() if k != "note"}

    # file 1: pre-ALTER generation only
    (d / "binlog.000001").write_bytes(
        build_binlog_file(
            "d", "t", old_target,
            [_txn(10, "w", [old_rows(1, "a"), old_rows(2, "b")]),
             _txn(11, "u", [(old_rows(1, "a"), old_rows(1, "a2"))])],
        )
    )

    def drain():
        run_to_completion(
            materialize_latest_state(
                mysql_binlog_tail_stream(spark, str(d), ddl, "d", "t"),
                ["id"], store, ckpt,
            )
        )

    drain()
    got1 = {row["id"]: (row["v"], row["note"])
            for row in spark.read.parquet(store).collect()}
    assert got1 == {1: ("a2", None), 2: ("b", None)}

    # file 2 rotates in: ALTER TABLE ADD COLUMN note lands mid-stream —
    # one pre-ALTER txn, then post-ALTER TABLE_MAPs with the new column
    pre = build_binlog_file(
        "d", "t", old_target, [_txn(12, "d", [old_rows(2, "b")])]
    )
    post = build_binlog_file(
        "d", "t", new_target,
        [_txn(13, "u", [(r(1, "a2", None), r(1, "a3", "hello"))]),
         _txn(14, "w", [r(3, "c", "fresh")])],
    )
    (d / "binlog.000002").write_bytes(pre + post[4:])  # strip magic, concat

    drain()
    got2 = {row["id"]: (row["v"], row["note"])
            for row in spark.read.parquet(store).collect()}
    assert got2 == {1: ("a3", "hello"), 3: ("c", "fresh")}  # 2 deleted

    # streaming store == batch latest-state over the same bytes
    batch_cl = mysql_binlog_read(spark, str(d), new_target, "d", "t")
    want = {row["id"]: (row["v"], row["note"])
            for row in latest_state(batch_cl, ["id"]).collect()}
    assert got2 == want


def test_parallel_split_read_equals_whole_file(spark, tmp_path):
    """mysql_binlog_read_parallel must emit BYTE-IDENTICAL rows to the
    whole-file decode (binaryFile + _decode_files), for any split size:
    boundaries cut only at transaction starts, carried
    TABLE_MAP/GTID/checksum state replays, and __event_seq stays the
    absolute file offset. The
    fixture stacks the hard cases: CRC32 checksums, a zstd-compressed
    section, a mid-file ALTER TABLE ADD COLUMN, and a second rotated
    file — with split_bytes tiny enough to force many ranges."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        mysql_binlog_read_parallel,
        scan_binlog_splits,
    )

    new_target = T.StructType(
        list(TARGET.fields) + [T.StructField("note", T.StringType())]
    )
    r = lambda i, note=None: {
        "id": i, "v": f"v{i}", "amt": Decimal(i) % 1000,
        **({"note": note} if note is not None else {}),
    }
    old_txns = [
        _txn(i, "u" if i % 5 == 0 else "w",
             [(r(i), r(i + 1))] if i % 5 == 0 else [r(i), r(i + 10000)])
        for i in range(1, 120)
    ]
    new_txns = [_txn(200 + i, "w", [r(i, note=f"n{i}")]) for i in range(40)]
    pre = build_binlog_file("d", "t", TARGET, old_txns, checksum=True)
    post = build_binlog_file(
        "d", "t", new_target, new_txns, checksum=True, payload_wrap="zstd"
    )
    blob1 = pre + post[4:]  # mid-file ALTER: old + new generations
    (tmp_path / "binlog.000001").write_bytes(blob1)
    (tmp_path / "binlog.000002").write_bytes(
        build_binlog_file(
            "d", "t", new_target,
            [_txn(500, "d", [r(3, note=None)])], checksum=True,
        )
    )

    n_splits = len(scan_binlog_splits(blob1, target_split_bytes=2048))
    assert n_splits > 5, f"fixture too small to exercise splitting ({n_splits})"

    key = lambda row: (row["__file_seq"], row["__event_seq"], row["__image_seq"])
    seq = sorted(
        (row.asDict() for row in _whole_file_read(
            spark, tmp_path, new_target).collect()),
        key=key,
    )
    par = sorted(
        (row.asDict() for row in mysql_binlog_read_parallel(
            spark, str(tmp_path), new_target, "d", "t",
            split_bytes=2048).collect()),
        key=key,
    )
    assert len(seq) == len(par) > 250
    for a, b in zip(seq, par):
        assert a == b, (a, b)


@settings(max_examples=25, deadline=None)
@given(
    txns=st.lists(
        st.tuples(
            st.sampled_from(["w", "d", "u"]),
            st.lists(_row_strategy, min_size=1, max_size=3),
        ),
        min_size=1,
        max_size=10,
    ),
    checksum=st.booleans(),
    payload_wrap=st.booleans(),
    split_bytes=st.sampled_from([1, 64, 300, 1 << 20]),
)
def test_split_decode_property(txns, checksum, payload_wrap, split_bytes):
    """Split invariant: for ARBITRARY scripts and ANY split size
    (1 byte forces a cut at every transaction; 1 MiB none), decoding
    every scan_binlog_splits range with its carried state and
    concatenating reproduces the whole-file decode EXACTLY — rows,
    ordering keys, and absolute __event_seq included."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        scan_binlog_splits,
    )

    script = [
        {"gno": 100 + i, "op": op,
         "rows": [( {**r, "v": (r["v"] or "") + "!"}, r) for r in rows]
                 if op == "u" else list(rows)}
        for i, (op, rows) in enumerate(txns)
    ]
    from mysql_cdc_table_spark.sources import mysql_binlog as mb

    if payload_wrap and mb._zstd_backend() == (None, None):
        import pytest as _pytest
        _pytest.skip("no zstd backend")
    blob = build_binlog_file(
        "d", "t", TARGET, script,
        checksum=checksum,
        payload_wrap="zstd" if payload_wrap else False,
    )
    whole = decode_binlog_bytes(blob, TARGET, "d", "t")
    pieces = []
    splits = scan_binlog_splits(blob, target_split_bytes=split_bytes)
    for s in splits:
        pieces.extend(
            decode_binlog_bytes(
                blob[s["start"] : s["end"]], TARGET, "d", "t",
                init_state={
                    "checksum": s["checksum"], "gtid": s["gtid"],
                    "sid": s["sid"], "table_maps": s["table_maps"],
                },
                seq_base=s["start"],
            )
        )
    assert pieces == whole
    if split_bytes == 1 and len(txns) > 1:
        assert len(splits) > 1  # tiny target really does split


def test_split_decode_truncated_tail():
    """A truncated ACTIVE file (crash mid-write / copy in flight): the
    partial trailing event stays attached to the LAST range and the
    split decode still equals the sequential permissive walk."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        scan_binlog_splits,
    )

    r = lambda i: {"id": i, "v": f"v{i}", "amt": Decimal(i)}
    blob = build_binlog_file(
        "d", "t", TARGET,
        [_txn(i, "w", [r(i)]) for i in range(1, 60)],
        checksum=True,
    )
    cut = blob[:-7]  # partial trailing event
    whole = decode_binlog_bytes(cut, TARGET, "d", "t")
    pieces = []
    for s in scan_binlog_splits(cut, target_split_bytes=512):
        pieces.extend(
            decode_binlog_bytes(
                cut[s["start"] : s["end"]], TARGET, "d", "t",
                init_state={
                    "checksum": s["checksum"], "gtid": s["gtid"],
                    "sid": s["sid"], "table_maps": s["table_maps"],
                },
                seq_base=s["start"],
            )
        )
    assert pieces == whole and len(whole) == 58  # last txn lost, as MySQL would


def test_streaming_split_walk_matches_bytes_walk(tmp_path):
    """scan_binlog_splits_file (seek-based streaming) must emit the
    IDENTICAL split specs as the bytes-based walk, truncated tail
    included."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        scan_binlog_splits,
        scan_binlog_splits_file,
    )

    r = lambda i: {"id": i, "v": "v" * (i % 40), "amt": Decimal(i)}
    blob = build_binlog_file(
        "d", "t", TARGET,
        [_txn(i, "u" if i % 4 == 0 else "w",
              [(r(i), r(i + 1))] if i % 4 == 0 else [r(i)])
         for i in range(1, 80)],
        checksum=True,
    )
    for cut in (len(blob), len(blob) - 6):
        path = tmp_path / f"binlog.{cut}.000001"
        path.write_bytes(blob[:cut])
        for sb in (1, 400, 4096, 1 << 20):
            a = scan_binlog_splits(blob[:cut], target_split_bytes=sb)
            b = scan_binlog_splits_file(str(path), target_split_bytes=sb)
            assert a == b, (cut, sb)


def test_parallel_read_empty_and_uri_paths(spark, tmp_path):
    """Regression guards for the listing stage: an empty directory
    yields zero rows (not repartition(0)), and file:// URIs resolve."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        mysql_binlog_read_parallel,
    )

    empty = tmp_path / "none"
    empty.mkdir()
    assert (
        mysql_binlog_read_parallel(spark, str(empty), TARGET, "d", "t").count()
        == 0
    )
    d = tmp_path / "logs"
    d.mkdir()
    (d / "binlog.000001").write_bytes(
        build_binlog_file(
            "d", "t", TARGET,
            [_txn(1, "w", [{"id": 1, "v": "a", "amt": Decimal("1.00")}])],
        )
    )
    out = mysql_binlog_read_parallel(spark, f"file://{d}", TARGET, "d", "t")
    assert out.count() == 1


def _ranges(sizes, ranges_per_file=1):
    return [
        (f"binlog.{i // ranges_per_file + 1:06d}", i // ranges_per_file + 1,
         {"start": 4 + n * (i % ranges_per_file),
          "end": 4 + n * (i % ranges_per_file + 1)})
        for i, n in enumerate(sizes)
    ]


def test_pack_ranges_follows_spark_file_packing():
    """Range packing (Spark's file-source rule): every range lands in
    exactly one partition, in rotation order; a partition holds more
    than one range only when its bytes plus one open cost per file
    before its last fit the cap; a few MB-sized files still spread
    over every core, while many small files — or many tiny ranges of a
    few files — share tasks."""
    import itertools
    import random

    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _OPEN_COST,
        _PACK_BYTES,
        _pack_ranges,
    )

    def n_files(rs):
        return len([k for k, _g in itertools.groupby(r[0] for r in rs)])

    def size(rs):
        return sum(s["end"] - s["start"] for _p, _q, s in rs)

    rng = random.Random(7)
    cases = [
        (_ranges([1_270_000] * 4), 64 << 20, 4),
        (_ranges([100_000] * 64), 64 << 20, 4),
        (_ranges([1_240_000] * 8), 64 << 20, 4),
        (_ranges([rng.randrange(1, 30 << 20) for _ in range(40)]), 64 << 20, 3),
        (_ranges([70 << 20, 10, 70 << 20]), 64 << 20, 8),
        (_ranges([64 << 20] * 16, ranges_per_file=16), 64 << 20, 4),
        (_ranges([256 << 20] * 4, ranges_per_file=2), 256 << 20, 4),
        (_ranges([4096] * 800, ranges_per_file=100), 4096, 4),
        (_ranges([]), 64 << 20, 4),
    ]
    for ranges, split, cpus in cases:
        parts = _pack_ranges(ranges, split, cpus)
        assert [r for p in parts for r in p] == ranges
        assert all(parts)
        total = size(ranges) + _OPEN_COST * n_files(ranges)
        cap = min(max(split, _PACK_BYTES), max(_OPEN_COST, total / cpus))
        for p in parts:
            packed = size(p) + _OPEN_COST * (n_files(p) - 1)
            assert len(p) == 1 or packed <= cap, (split, cpus, len(p))
    n = lambda ranges, split=64 << 20: len(_pack_ranges(ranges, split, 4))  # noqa: E731
    assert n(_ranges([1_270_000] * 4)) == 4
    assert n(_ranges([100_000] * 64)) <= 8
    # a 1 GiB file at the default split: one 64 MiB range per task
    assert n(_ranges([64 << 20] * 16, ranges_per_file=16)) == 16
    # a tiny split size cuts small ranges, not small tasks
    assert n(_ranges([4096] * 800, ranges_per_file=100), 4096) <= 8
    assert n(_ranges([4096] * 210, ranges_per_file=70), 4096) <= 3


def test_format_reader_packs_many_small_files(spark, tmp_path):
    """64 small files read through format("mysql_binlog") plan far
    fewer than 64 partitions and return exactly the rows of the
    per-file whole-file decode."""
    from mysql_cdc_table_spark.sources.mysql_binlog import mysql_binlog_read

    for f in range(64):
        txns = [
            _txn(f * 10 + g, "w", [
                {"id": f * 10 + g, "v": f"v{g}", "amt": Decimal(g) / 4}
            ])
            for g in range(1, 11)
        ]
        (tmp_path / f"binlog.{f + 1:06d}").write_bytes(
            build_binlog_file("d", "t", TARGET, txns, checksum=True)
        )
    df = mysql_binlog_read(spark, str(tmp_path), TARGET, "d", "t")
    assert df.rdd.getNumPartitions() < 64
    key = lambda r: tuple(str(x) for x in r)  # noqa: E731
    got = sorted(map(key, df.collect()))
    assert len(got) == 640
    assert got == sorted(
        map(key, _whole_file_read(spark, tmp_path, TARGET).collect())
    )


def test_decode_error_names_file_and_offset(spark, tmp_path):
    """A flipped byte inside a mid-file rows event of a CRC32 file fails
    every decode — the range reader behind format("mysql_binlog"), the
    whole-file _decode_files and the streaming tail — with an error
    that names the file and the event offset."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        EV_WRITE_ROWS_V2,
        MysqlBinlogTailStreamReader,
        _events,
    )

    txns = [
        _txn(g, "w", [{"id": g, "v": f"v{g}", "amt": Decimal(g)}])
        for g in range(1, 41)
    ]
    blob = bytearray(build_binlog_file("d", "t", TARGET, txns, checksum=True))
    rows_at = [off for off, _ts, tc, *_ in _events(bytes(blob))
               if tc == EV_WRITE_ROWS_V2]
    off = rows_at[len(rows_at) // 2]
    blob[off + 19 + 12] ^= 0xFF  # inside the event body
    path = tmp_path / "binlog.000001"
    path.write_bytes(bytes(blob))
    tail = MysqlBinlogTailStreamReader(
        {"path": str(tmp_path), "database": "d", "table": "t",
         "schema_ddl": "id bigint, v string, amt decimal(10,2)"}
    )
    for read in (
        mysql_binlog_read(spark, str(tmp_path), TARGET, "d", "t").collect,
        _whole_file_read(spark, tmp_path, TARGET).collect,
        lambda: tail._delta(tail.initialOffset()),
    ):
        with pytest.raises(Exception) as ei:
            read()
        # Spark's error carries the worker's traceback, notes included;
        # the tail raises in this process, so its note is on the error
        msg = "\n".join([str(ei.value), *getattr(ei.value, "__notes__", ())])
        assert str(path) in msg and f"offset {off}" in msg, msg


def test_split_cache_roundtrip_and_invalidation(tmp_path):
    """scan_binlog_splits_cached returns IDENTICAL specs to the direct
    walk, serves warm hits from memory, and rotates the key when the
    file changes size or mtime."""
    from mysql_cdc_table_spark.sources import mysql_binlog as mbm
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        scan_binlog_splits_cached,
        scan_binlog_splits_file,
    )

    r = lambda i: {"id": i, "v": "v" * (i % 40), "amt": Decimal(i)}
    blob = build_binlog_file(
        "d", "t", TARGET,
        [_txn(i, "w", [r(i)]) for i in range(1, 80)],
        checksum=True,
    )
    path = tmp_path / "binlog.000001"
    path.write_bytes(blob)

    mbm._SPLIT_MEM_CACHE.clear()
    direct = scan_binlog_splits_file(str(path), 400)
    cold = scan_binlog_splits_cached(str(path), 400)
    assert cold == direct
    assert len(mbm._SPLIT_MEM_CACHE) == 1

    # warm: the same entry, no new key
    warm = scan_binlog_splits_cached(str(path), 400)
    assert warm is cold
    assert len(mbm._SPLIT_MEM_CACHE) == 1

    # a different split size is a different key
    other = scan_binlog_splits_cached(str(path), 4096)
    assert other == scan_binlog_splits_file(str(path), 4096)
    assert len(mbm._SPLIT_MEM_CACHE) == 2

    # file growth (size + mtime change) must invalidate, not serve stale
    blob2 = build_binlog_file(
        "d", "t", TARGET,
        [_txn(i, "w", [r(i)]) for i in range(1, 120)],
        checksum=True,
    )
    path.write_bytes(blob2)
    fresh = scan_binlog_splits_cached(str(path), 400)
    assert fresh == scan_binlog_splits_file(str(path), 400)
    assert fresh != direct
    mbm._SPLIT_MEM_CACHE.clear()


def _full_meta_target():
    return T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("amt", T.DecimalType(28, 6)),
            T.StructField(
                "color",
                T.StringType(),
                metadata={"mysql_type": "enum", "values": ["red", "green"]},
            ),
            T.StructField(
                "flags",
                T.StringType(),
                metadata={"mysql_type": "set", "values": ["a", "b", "c"]},
            ),
            T.StructField("v", T.StringType()),
        ]
    )


def _full_meta_rows():
    return [
        {"id": 1, "amt": Decimal("12345678901234567890.123456"),
         "color": "green", "flags": "a,c", "v": "x"},
        {"id": 2, "amt": Decimal("-1.000001"), "color": "red",
         "flags": "", "v": "y"},
    ]


def test_full_row_metadata_roundtrip_and_wire_values(tmp_path):
    """binlog_row_metadata=FULL: the TABLE_MAP carries names + enum/set
    strings + signedness TLVs. (a) decode is unchanged vs MINIMAL;
    (b) a target schema with EMPTY enum/set values still decodes the
    strings — they come from the wire; (c) the columnar kernel agrees."""
    from mysql_cdc_table_spark.sources.mysql_binlog_vec import (
        decode_binlog_pandas,
    )

    tgt = _full_meta_target()
    txns = [{"gno": 1, "op": "w", "rows": _full_meta_rows()}]
    blob_min = build_binlog_file("d", "t", tgt, txns)
    blob_full = build_binlog_file("d", "t", tgt, txns, row_metadata="full")
    assert len(blob_full) > len(blob_min)  # TLVs actually on the wire

    strip = lambda rows: [  # noqa: E731 — byte offsets shift with TLVs
        {k: v for k, v in r.items() if k != "__event_seq"} for r in rows
    ]
    rows_min = decode_binlog_bytes(blob_min, tgt, "d", "t")
    rows_full = decode_binlog_bytes(blob_full, tgt, "d", "t")
    assert strip(rows_min) == strip(rows_full)

    # empty declared values: the wire supplies them under FULL...
    bare = T.StructType(
        [
            tgt[0], tgt[1],
            T.StructField("color", T.StringType(),
                          metadata={"mysql_type": "enum", "values": []}),
            T.StructField("flags", T.StringType(),
                          metadata={"mysql_type": "set", "values": []}),
            tgt[4],
        ]
    )
    rows_bare = decode_binlog_bytes(blob_full, bare, "d", "t")
    assert [r["color"] for r in rows_bare] == ["green", "red"]
    assert [r["flags"] for r in rows_bare] == ["a,c", ""]
    # ...and MINIMAL cannot (indices have nothing to look up)
    rows_blind = decode_binlog_bytes(blob_min, bare, "d", "t")
    assert [r["color"] for r in rows_blind] == ["", ""]

    pdf = decode_binlog_pandas(blob_full, bare, "d", "t")
    assert sorted(pdf["color"]) == ["green", "red"]
    assert str(pdf.sort_values("id")["amt"].iloc[0]) == (
        "12345678901234567890.123456"
    )


def test_full_row_metadata_name_mismatch_failfast():
    """The wire names harden the positional contract: a target schema
    whose column order silently drifted from the source DDL raises
    instead of decoding values into the wrong columns."""
    tgt = _full_meta_target()
    blob = build_binlog_file(
        "d", "t", tgt, [{"gno": 1, "op": "w", "rows": _full_meta_rows()}],
        row_metadata="full",
    )
    swapped = T.StructType(
        [tgt[0], tgt[1], tgt[2], tgt[4], tgt[3]]  # v <-> flags
    )
    # same type codes positionally? v is VARCHAR, flags is TY_STRING —
    # type check would also fire; use a pure RENAME so only the name
    # check can catch it
    renamed = T.StructType(
        [
            T.StructField("order_id", T.LongType()),  # wire says "id"
            *tgt[1:],
        ]
    )
    with pytest.raises(ValueError, match="positional misalignment"):
        decode_binlog_bytes(blob, renamed, "d", "t")
    del swapped


def _unsigned_writer_target() -> T.StructType:
    return T.StructType(
        [
            T.StructField("t", T.ShortType(),
                          metadata={"mysql_type": "tinyint_unsigned"}),
            T.StructField("s", T.IntegerType(),
                          metadata={"mysql_type": "smallint_unsigned"}),
            T.StructField("m", T.IntegerType(),
                          metadata={"mysql_type": "mediumint_unsigned"}),
            T.StructField("i", T.LongType(),
                          metadata={"mysql_type": "int_unsigned"}),
            T.StructField("b", T.LongType(),
                          metadata={"mysql_type": "bigint_unsigned"}),
            T.StructField("v", T.StringType()),
        ]
    )


# top half of every unsigned range — exactly the values a
# signed-only decode would corrupt (the pre-round-8 failfast)
_UNSIGNED_TOP_ROWS = [
    {"t": 200, "s": 60_000, "m": 16_000_000, "i": 4_000_000_000,
     "b": (1 << 63) - 1, "v": "hi"},
    {"t": 0, "s": 0, "m": 0, "i": 0, "b": 0, "v": "lo"},
]


def test_unsigned_columns_decode_into_wider_signed(tmp_path):
    """SIGNEDNESS-marked TINY/SHORT/INT24/LONG decode losslessly into
    the wider signed target; BIGINT UNSIGNED < 2^63 decodes into
    LongType. Real MySQL 8 writes SIGNEDNESS even at the default
    binlog_row_metadata=MINIMAL, so the old blanket failfast made the
    ubiquitous unsigned auto-inc PK schema undecodable (advisor,
    round 7). Scalar and columnar kernels must agree."""
    from mysql_cdc_table_spark.sources.mysql_binlog_vec import (
        decode_binlog_pandas,
    )

    wtgt = _unsigned_writer_target()
    # the READER declares plain wider signed Spark types
    rtgt = T.StructType(
        [
            T.StructField("t", T.ShortType()),
            T.StructField("s", T.IntegerType()),
            T.StructField("m", T.IntegerType()),
            T.StructField("i", T.LongType()),
            T.StructField("b", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    for meta_mode in ("minimal", "full"):
        blob = build_binlog_file(
            "d", "t", wtgt,
            [{"gno": 1, "op": "w", "rows": _UNSIGNED_TOP_ROWS}],
            row_metadata=meta_mode,
        )
        rows = decode_binlog_bytes(blob, rtgt, "d", "t")
        got = {r["v"]: (r["t"], r["s"], r["m"], r["i"], r["b"]) for r in rows}
        assert got["hi"] == (200, 60_000, 16_000_000, 4_000_000_000,
                             (1 << 63) - 1)
        assert got["lo"] == (0, 0, 0, 0, 0)
        # the explicit *_unsigned target declaration also decodes
        rows2 = decode_binlog_bytes(blob, wtgt, "d", "t")
        assert {r["v"]: r["t"] for r in rows2} == {"hi": 200, "lo": 0}
        # columnar kernel agrees
        pdf = decode_binlog_pandas(blob, rtgt, "d", "t")
        hi = pdf[pdf["v"] == "hi"].iloc[0]
        assert (int(hi["t"]), int(hi["s"]), int(hi["m"]), int(hi["i"]),
                int(hi["b"])) == (200, 60_000, 16_000_000,
                                  4_000_000_000, (1 << 63) - 1)


def test_unsigned_narrow_target_still_failfasts():
    """An UNSIGNED column whose target column is the SAME-width signed
    type still raises — decoding it would corrupt the top half of the
    range (no-silently-wrong-rows), and the message says to widen."""
    wtgt = T.StructType(
        [T.StructField("t", T.ShortType(),
                       metadata={"mysql_type": "tinyint_unsigned"})]
    )
    blob = build_binlog_file(
        "d", "t", wtgt, [{"gno": 1, "op": "w", "rows": [{"t": 200}]}],
        row_metadata="full",
    )
    narrow = T.StructType([T.StructField("t", T.ByteType())])
    with pytest.raises(ValueError, match="WIDER signed"):
        decode_binlog_bytes(blob, narrow, "d", "t")


def test_bigint_unsigned_top_half_raises_not_wraps():
    """BIGINT UNSIGNED >= 2^63 cannot fit LongType: both kernels raise
    instead of silently wrapping negative."""
    from mysql_cdc_table_spark.sources.mysql_binlog_vec import (
        decode_binlog_pandas,
    )

    wtgt = T.StructType(
        [T.StructField("b", T.LongType(),
                       metadata={"mysql_type": "bigint_unsigned"})]
    )
    blob = build_binlog_file(
        "d", "t", wtgt,
        [{"gno": 1, "op": "w", "rows": [{"b": (1 << 63) + 7}]}],
        row_metadata="full",
    )
    rtgt = T.StructType([T.StructField("b", T.LongType())])
    with pytest.raises(ValueError, match="signed 64-bit"):
        decode_binlog_bytes(blob, rtgt, "d", "t")
    with pytest.raises(ValueError, match="signed 64-bit"):
        decode_binlog_pandas(blob, rtgt, "d", "t")


def test_infer_target_widens_unsigned_columns():
    """DDL-free inference maps SIGNEDNESS-marked columns to the next
    wider signed Spark type (BIGINT UNSIGNED stays LongType), and the
    inferred schema round-trips the decode."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        mysql_binlog_infer_target,
    )

    wtgt = _unsigned_writer_target()
    blob = build_binlog_file(
        "d", "t", wtgt,
        [{"gno": 1, "op": "w", "rows": _UNSIGNED_TOP_ROWS}],
        row_metadata="full",
    )
    inferred = mysql_binlog_infer_target(blob, "d", "t")
    assert [f.dataType for f in inferred.fields] == [
        T.ShortType(), T.IntegerType(), T.IntegerType(), T.LongType(),
        T.LongType(), T.StringType(),
    ]
    rows = decode_binlog_bytes(blob, inferred, "d", "t")
    got = {r["v"]: r["i"] for r in rows}
    assert got == {"hi": 4_000_000_000, "lo": 0}


def test_infer_target_from_full_metadata(tmp_path):
    """Schema inference straight off the wire: decode with the INFERRED
    StructType equals decode with the declared one — types, names,
    decimal precision, enum/set values, fsp all recovered; MINIMAL
    files raise pointedly."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        mysql_binlog_infer_target,
    )

    tgt = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("b", T.ByteType()),
            T.StructField("m", T.IntegerType(),
                          metadata={"mysql_type": "mediumint"}),
            T.StructField("amt", T.DecimalType(28, 6)),
            T.StructField("f", T.FloatType()),
            T.StructField("dtm", T.TimestampType()),
            T.StructField("dte", T.DateType()),
            T.StructField("yr", T.IntegerType(),
                          metadata={"mysql_type": "year"}),
            T.StructField("bits", T.LongType(),
                          metadata={"mysql_type": "bit", "bits": 20}),
            T.StructField("doc", T.StringType(),
                          metadata={"mysql_type": "json"}),
            T.StructField("color", T.StringType(),
                          metadata={"mysql_type": "enum",
                                    "values": ["red", "green"]}),
            T.StructField("flags", T.StringType(),
                          metadata={"mysql_type": "set",
                                    "values": ["a", "b", "c"]}),
            T.StructField("v", T.StringType()),
            T.StructField("bin", T.BinaryType()),
        ]
    )
    import datetime as dtm

    rows = [{
        "id": 7, "b": -3, "m": 12345, "amt": Decimal("42.000001"),
        "f": 1.5, "dtm": dtm.datetime(2024, 5, 6, 7, 8, 9, 123456),
        "dte": dtm.date(2023, 2, 3), "yr": 2001, "bits": 5,
        "doc": '{"k": 1}', "color": "red", "flags": "b",
        "v": "hello", "bin": b"\x01\x02",
    }]
    blob = build_binlog_file(
        "d", "t", tgt, [{"gno": 1, "op": "w", "rows": rows}],
        row_metadata="full", checksum=True,
    )
    inferred = mysql_binlog_infer_target(blob, "d", "t")
    assert [f.name for f in inferred.fields] == [f.name for f in tgt.fields]
    assert [f.dataType for f in inferred.fields] == [
        f.dataType for f in tgt.fields
    ]
    assert inferred["color"].metadata["values"] == ["red", "green"]
    assert inferred["flags"].metadata["values"] == ["a", "b", "c"]
    assert inferred["bits"].metadata["bits"] == 20

    got = decode_binlog_bytes(blob, inferred, "d", "t")
    want = decode_binlog_bytes(blob, tgt, "d", "t")
    assert got == want

    blob_min = build_binlog_file(
        "d", "t", tgt, [{"gno": 1, "op": "w", "rows": rows}]
    )
    with pytest.raises(ValueError, match="binlog_row_metadata"):
        mysql_binlog_infer_target(blob_min, "d", "t")
    with pytest.raises(ValueError, match="no TABLE_MAP"):
        mysql_binlog_infer_target(blob, "d", "other")


# --- GTID-positioned reads (resume / point-in-time) ---------------------------


def _gno_blob(gnos, *, checksum=True, previous_gtids=None):
    r = lambda i: {"id": i, "v": f"v{i}", "amt": Decimal(i) % 1000}
    return build_binlog_file(
        "d", "t", TARGET,
        [_txn(g, "w", [r(g)]) for g in gnos],
        checksum=checksum,
        previous_gtids=previous_gtids,
    )


def _decode_ranges(blob, splits):
    out = []
    for s in splits:
        out.extend(
            decode_binlog_bytes(
                blob[s["start"] : s["end"]], TARGET, "d", "t",
                init_state={
                    "checksum": s["checksum"], "gtid": s["gtid"],
                    "sid": s["sid"], "table_maps": s["table_maps"],
                },
                seq_base=s["start"],
            )
        )
    return out


@pytest.mark.parametrize(
    "start,stop",
    [(10, 30), (None, 30), (10, None), (0, 50), (49, None), (None, 1)],
)
def test_gtid_bounds_walk_equals_filtered_decode(start, stop):
    """Bounded header walk + range decode == whole-file decode filtered
    on gno, for start-only, stop-only, and two-sided windows — at a
    split size that forces several ranges inside the window."""
    from mysql_cdc_table_spark.sources.mysql_binlog import scan_binlog_splits

    gnos = list(range(1, 51))
    blob = _gno_blob(gnos)
    whole = decode_binlog_bytes(blob, TARGET, "d", "t")
    want = [
        r for r in whole
        if (start is None or r["__gtid"] > start)
        and (stop is None or r["__gtid"] <= stop)
    ]
    splits = scan_binlog_splits(
        blob, target_split_bytes=256, start_after_gno=start, stop_at_gno=stop
    )
    got = _decode_ranges(blob, splits)
    # __event_seq stays the ABSOLUTE offset, so rows compare exactly
    assert got == want
    if start == 10 and stop == 30:
        assert len(splits) > 1  # window really does split


def test_gtid_bounds_empty_window_and_edges():
    from mysql_cdc_table_spark.sources.mysql_binlog import scan_binlog_splits

    blob = _gno_blob(range(10, 40))
    # start at/after the last gno -> nothing
    assert scan_binlog_splits(blob, 256, start_after_gno=39) == []
    assert scan_binlog_splits(blob, 256, start_after_gno=1000) == []
    # stop before the first gno -> nothing
    assert scan_binlog_splits(blob, 256, stop_at_gno=9) == []
    # degenerate window (start == stop) -> nothing
    assert scan_binlog_splits(
        blob, 256, start_after_gno=20, stop_at_gno=20
    ) == []
    # one-transaction window
    one = _decode_ranges(
        blob,
        scan_binlog_splits(blob, 256, start_after_gno=19, stop_at_gno=20),
    )
    assert [r["__gtid"] for r in one] == [20]


def test_gtid_set_body_roundtrip_and_validation():
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _gtid_set_body,
        _parse_gtid_set,
        _smallest_uncovered_gno,
    )

    sets = {
        b"\x11" * 16: [(1, 100)],
        b"\x22" * 16: [(1, 10), (20, 30)],
    }
    assert _parse_gtid_set(_gtid_set_body(sets)) == sets
    with pytest.raises(ValueError, match="16 bytes"):
        _gtid_set_body({b"\x11": [(1, 2)]})
    with pytest.raises(ValueError, match="interval"):
        _gtid_set_body({b"\x11" * 16: [(5, 5)]})
    with pytest.raises(ValueError, match="truncated"):
        _parse_gtid_set(_gtid_set_body(sets)[:-1])
    # smallest uncovered gno: prefix sets advance, holes stop the scan
    assert _smallest_uncovered_gno([(1, 100)]) == 100
    assert _smallest_uncovered_gno([(1, 10), (20, 30)]) == 10
    assert _smallest_uncovered_gno([(2, 10)]) == 1
    assert _smallest_uncovered_gno([(1, 5), (5, 9)]) == 9


def test_previous_gtids_head_skips_file():
    """A PREVIOUS_GTIDS head whose smallest uncovered gno is past the
    stop bound skips the whole file; decode still tolerates the event
    (type 35 is in the genuinely-ignorable skip set)."""
    from mysql_cdc_table_spark.sources.mysql_binlog import scan_binlog_splits

    sid = b"\x11" * 16
    blob = _gno_blob(range(100, 120), previous_gtids={sid: [(1, 100)]})
    # decode unaffected by the new head event
    assert len(decode_binlog_bytes(blob, TARGET, "d", "t")) == 20
    # stop below the file's first possible gno -> skipped via the head
    assert scan_binlog_splits(blob, 256, stop_at_gno=50) == []
    assert scan_binlog_splits(blob, 256, stop_at_gno=99) == []
    # stop inside the file -> kept and trimmed
    kept = _decode_ranges(
        blob, scan_binlog_splits(blob, 256, stop_at_gno=105)
    )
    assert [r["__gtid"] for r in kept] == list(range(100, 106))
    # a HOLE below the stop bound blocks the skip: a file that fills
    # the gap (gnos 10..19, legal under gtid_next) must still be
    # walked — a rule keyed on the set's MAX end (100 > 50) would
    # wrongly prune it and lose the rows
    holey = _gno_blob(
        range(10, 20), previous_gtids={sid: [(1, 10), (20, 100)]}
    )
    filled = _decode_ranges(
        holey, scan_binlog_splits(holey, 256, stop_at_gno=50)
    )
    assert [r["__gtid"] for r in filled] == list(range(10, 20))


def test_gtid_bounds_file_walker_matches_bytes_walker(tmp_path):
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        scan_binlog_splits,
        scan_binlog_splits_file,
    )

    sid = b"\x11" * 16
    blob = _gno_blob(range(50, 150), previous_gtids={sid: [(1, 50)]})
    path = tmp_path / "binlog.000007"
    path.write_bytes(blob)
    for start, stop in [
        (None, None), (60, 120), (None, 40), (149, None), (None, 55),
    ]:
        a = scan_binlog_splits(
            blob, 300, start_after_gno=start, stop_at_gno=stop
        )
        b = scan_binlog_splits_file(
            str(path), 300, start_after_gno=start, stop_at_gno=stop
        )
        assert a == b, (start, stop)


def test_read_gtid_range_equals_filtered_full_read(spark, tmp_path):
    """mysql_binlog_read_gtid_range over a rotated series (contiguous
    gno ranges, PREVIOUS_GTIDS heads) == the full parallel read
    filtered on __gtid — while the out-of-window files are provably
    pruned at the header walk."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        mysql_binlog_read_gtid_range,
        mysql_binlog_read_parallel,
        scan_binlog_splits_file,
    )

    sid = b"\x11" * 16
    ranges = [(1, 40), (40, 80), (80, 120)]
    for i, (lo, hi) in enumerate(ranges, start=1):
        (tmp_path / f"binlog.{i:06d}").write_bytes(
            _gno_blob(
                range(lo, hi),
                previous_gtids={sid: [(1, lo)]} if lo > 1 else None,
            )
        )
    key = lambda r: (r["__file_seq"], r["__event_seq"], r["__image_seq"])
    full = mysql_binlog_read_parallel(
        spark, str(tmp_path), TARGET, "d", "t", split_bytes=512
    ).collect()
    want = sorted(
        (r.asDict() for r in full if 25 < r["__gtid"] <= 60), key=key
    )
    got = sorted(
        (
            r.asDict()
            for r in mysql_binlog_read_gtid_range(
                spark, str(tmp_path), TARGET, "d", "t",
                start_after_gno=25, stop_at_gno=60, split_bytes=512,
            ).collect()
        ),
        key=key,
    )
    assert got == want and len(got) == 35
    # file 3 (gnos 80..119, prev head [1,80)) skips off ONE event read
    assert scan_binlog_splits_file(
        str(tmp_path / "binlog.000003"), 512,
        start_after_gno=25, stop_at_gno=60,
    ) == []


def test_prune_binlog_series_by_gtid(tmp_path):
    """Series-level pruning off PREVIOUS_GTIDS heads: gno order comes
    from the heads themselves (file NAMES are deliberately scrambled
    here, the staged-fixture shape), the first file's EMPTY set means
    'nothing before', and a headless file disables start-side pruning
    (but not stop-side, which only needs a file's own head)."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        binlog_prev_gtids_uncovered,
        prune_binlog_series_by_gtid,
    )

    sid = b"\x11" * 16
    # names scrambled vs gno order: p10 sorts before p2
    spec = {
        "binlog.p0.000000": (1, 40, {sid: []}),
        "binlog.p10.000000": (40, 80, {sid: [(1, 40)]}),
        "binlog.p2.000000": (80, 120, {sid: [(1, 80)]}),
    }
    for name, (lo, hi, prev) in spec.items():
        (tmp_path / name).write_bytes(
            _gno_blob(range(lo, hi), previous_gtids=prev)
        )
    paths = sorted(str(tmp_path / n) for n in spec)
    heads = {p.rsplit("/", 1)[1]: binlog_prev_gtids_uncovered(p) for p in paths}
    assert heads == {
        "binlog.p0.000000": 1,
        "binlog.p10.000000": 40,
        "binlog.p2.000000": 80,
    }
    name_of = lambda kept: sorted(p.rsplit("/", 1)[1] for p in kept)
    # resume after 90: only the 80..119 file survives
    assert name_of(prune_binlog_series_by_gtid(paths, 90, None)) == [
        "binlog.p2.000000"
    ]
    # window (38, 41]: straddles the first rotation — both boundary
    # files survive, the last prunes by its own head
    assert name_of(prune_binlog_series_by_gtid(paths, 38, 41)) == [
        "binlog.p0.000000", "binlog.p10.000000"
    ]
    # window (39, 41]: gno 39 is excluded, so the first file prunes too
    assert name_of(prune_binlog_series_by_gtid(paths, 39, 41)) == [
        "binlog.p10.000000"
    ]
    # no bounds: untouched
    assert prune_binlog_series_by_gtid(paths, None, None) == paths
    # a HEADLESS file anywhere disables start-side pruning...
    (tmp_path / "binlog.p9.000000").write_bytes(_gno_blob(range(120, 125)))
    paths4 = sorted(str(p) for p in tmp_path.iterdir())
    kept = name_of(prune_binlog_series_by_gtid(paths4, 90, None))
    assert "binlog.p0.000000" in kept and "binlog.p9.000000" in kept
    # ...but stop-side still prunes off each file's own head
    kept_stop = name_of(prune_binlog_series_by_gtid(paths4, None, 50))
    assert "binlog.p2.000000" not in kept_stop
    assert "binlog.p9.000000" in kept_stop  # headless: kept


# --- time-bounded reads (point-in-time recovery) ------------------------------


def _ts_blob(lo, hi, *, epoch=1_700_000_000):
    """gnos lo..hi-1 with commit ts = epoch + gno (monotone clock)."""
    r = lambda i: {"id": i, "v": f"v{i}", "amt": Decimal(i) % 1000}
    return build_binlog_file(
        "d", "t", TARGET,
        [dict(_txn(g, "w", [r(g)]), ts=1_700_000_000 + g)
         for g in range(lo, hi)],
        checksum=True,
        base_ts=1_700_000_000 + lo,
        previous_gtids={b"\x11" * 16: [(1, lo)] if lo > 1 else []},
    )


def test_time_bound_helpers(tmp_path):
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _GNO_INF,
        _first_gno_at_or_after_ts,
        binlog_head_timestamp,
        binlog_time_to_gno_bounds,
    )

    e = 1_700_000_000
    p1, p2 = tmp_path / "binlog.000001", tmp_path / "binlog.000002"
    p1.write_bytes(_ts_blob(1, 50))
    p2.write_bytes(_ts_blob(50, 90))
    assert binlog_head_timestamp(str(p1)) == e + 1
    assert binlog_head_timestamp(str(p2)) == e + 50
    assert _first_gno_at_or_after_ts(str(p1), e + 10) == 10
    assert _first_gno_at_or_after_ts(str(p1), e) == 1
    assert _first_gno_at_or_after_ts(str(p1), e + 200) is None
    paths = [str(p1), str(p2)]
    # mid-window: [e+20, e+60) -> gnos 20..59 -> (19, 59]
    assert binlog_time_to_gno_bounds(paths, e + 20, e + 60) == (19, 59)
    # boundary falls exactly at a rotation
    assert binlog_time_to_gno_bounds(paths, e + 50, None) == (49, None)
    # start before everything / stop past everything
    assert binlog_time_to_gno_bounds(paths, e - 100, e + 1000) == (0, None)
    # start past everything -> empty sentinel
    s, _ = binlog_time_to_gno_bounds(paths, e + 1000, None)
    assert s == _GNO_INF
    # no bounds -> no-op
    assert binlog_time_to_gno_bounds(paths, None, None) == (None, None)


def test_read_time_range_equals_filtered_full_read(spark, tmp_path):
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        mysql_binlog_read_parallel,
        mysql_binlog_read_time_range,
    )

    e = 1_700_000_000
    for i, (lo, hi) in enumerate([(1, 40), (40, 80), (80, 120)], start=1):
        (tmp_path / f"binlog.{i:06d}").write_bytes(_ts_blob(lo, hi))
    key = lambda r: (r["__file_seq"], r["__event_seq"], r["__image_seq"])
    full = mysql_binlog_read_parallel(
        spark, str(tmp_path), TARGET, "d", "t", split_bytes=512
    ).collect()
    want = sorted(
        (
            r.asDict()
            for r in full
            if e + 25 <= int(r["__tm"].timestamp()) < e + 95
        ),
        key=key,
    )
    got = sorted(
        (
            r.asDict()
            for r in mysql_binlog_read_time_range(
                spark, str(tmp_path), TARGET, "d", "t",
                start_ts=e + 25, stop_ts=e + 95, split_bytes=512,
            ).collect()
        ),
        key=key,
    )
    assert got == want and len(got) == 70
    # empty window
    assert (
        mysql_binlog_read_time_range(
            spark, str(tmp_path), TARGET, "d", "t",
            start_ts=e + 5000, stop_ts=e + 6000,
        ).count()
        == 0
    )


def test_executed_gtid_set_intervals(spark, tmp_path):
    """Header-only executed-set reconstruction: gnos with holes across
    THREE files merge into exact maximal intervals — runs spanning a
    file boundary fuse, every hole is a boundary, no row decode
    happens (files with deliberately mismatched table maps would fail
    a row decode; headers don't care)."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        binlog_executed_gtid_set,
        binlog_file_gnos,
    )

    blobs = {
        "binlog.000001": [1, 2, 3, 7, 8],
        "binlog.000002": [9, 10, 20],
        "binlog.000003": [21, 22, 30],
    }
    for name, gnos in blobs.items():
        (tmp_path / name).write_bytes(_gno_blob(gnos))
    assert binlog_file_gnos(str(tmp_path / "binlog.000002")) == [9, 10, 20]
    rows = sorted(
        (r["start_gno"], r["end_gno"], r["n_gnos"])
        for r in binlog_executed_gtid_set(spark, str(tmp_path)).collect()
    )
    # [1,4) hole [7,11) spans the 1->2 boundary, [20,23) spans 2->3
    assert rows == [(1, 4, 3), (7, 11, 4), (20, 23, 3), (30, 31, 1)]


@settings(max_examples=40, deadline=None)
@given(
    gnos=st.lists(
        st.integers(min_value=1, max_value=200),
        min_size=1, max_size=25, unique=True,
    ),
    start=st.one_of(st.none(), st.integers(min_value=0, max_value=210)),
    stop=st.one_of(st.none(), st.integers(min_value=0, max_value=210)),
    split_bytes=st.sampled_from([1, 200, 1 << 20]),
)
def test_gtid_bounds_property(gnos, start, stop, split_bytes):
    """Property: for ANY sorted gno set, ANY bounds, ANY split size,
    decoding the bounded ranges equals the whole-file decode filtered
    on gno — including empty windows and bounds outside the range."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        scan_binlog_splits,
    )

    gnos = sorted(gnos)
    blob = _gno_blob(gnos)
    whole = decode_binlog_bytes(blob, TARGET, "d", "t")
    want = [
        r for r in whole
        if (start is None or r["__gtid"] > start)
        and (stop is None or r["__gtid"] <= stop)
    ]
    got = _decode_ranges(
        blob,
        scan_binlog_splits(
            blob, split_bytes, start_after_gno=start, stop_at_gno=stop
        ),
    )
    assert got == want


# --- multi-source (per-sid) resume -------------------------------------------


SID_A = b"\x11" * 16
SID_B = b"\x22" * 16


def _two_source_blob(lo, hi, **kw):
    """gnos lo..hi-1 interleaved: even -> sid A, odd -> sid B."""
    r = lambda i: {"id": i, "v": f"v{i}", "amt": Decimal(i) % 1000}
    return build_binlog_file(
        "d", "t", TARGET,
        [dict(_txn(g, "w", [r(g)]), sid=SID_A if g % 2 == 0 else SID_B)
         for g in range(lo, hi)],
        checksum=True,
        **kw,
    )


def test_per_txn_sid_roundtrip(spark, tmp_path):
    """Per-transaction sids surface as distinct __gtid_src uuids in
    uuid_gno format — the interleave decodes with each row stamped by
    its own origin."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _sid_to_uuid,
        mysql_binlog_read,
    )

    (tmp_path / "binlog.000001").write_bytes(_two_source_blob(10, 20))
    rows = mysql_binlog_read(
        spark, str(tmp_path), TARGET, "d", "t", gtid_format="uuid_gno"
    ).collect()
    assert len(rows) == 10
    for r in rows:
        want = _sid_to_uuid(SID_A if r["__gtid"] % 2 == 0 else SID_B)
        assert r["__gtid_src"] == want


def test_prune_series_by_gtid_sets(tmp_path):
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        prune_binlog_series_by_gtid_sets,
    )

    spec = [
        ("binlog.000001", 1, 40, None),
        ("binlog.000002", 40, 80, {SID_A: [(1, 40)], SID_B: [(1, 40)]}),
        ("binlog.000003", 80, 120, {SID_A: [(1, 80)], SID_B: [(1, 80)]}),
    ]
    for name, lo, hi, prev in spec:
        (tmp_path / name).write_bytes(
            _two_source_blob(lo, hi, previous_gtids=prev)
        )
    paths = sorted(str(tmp_path / n) for n, *_ in spec)
    names = lambda kept: sorted(p.rsplit("/", 1)[1] for p in kept)
    # both sources consumed past file 1 -> it prunes; file 2 is a
    # boundary for B (bound 45 < 79) -> kept
    kept = names(
        prune_binlog_series_by_gtid_sets(paths, {SID_A: 100, SID_B: 45})
    )
    assert kept == ["binlog.000002", "binlog.000003"]
    # a sid ABSENT from the map keeps every file that may carry it
    assert names(
        prune_binlog_series_by_gtid_sets(paths, {SID_A: 100})
    ) == ["binlog.000001", "binlog.000002", "binlog.000003"]
    # both consumed past everything: only the (never-pruned) last file
    assert names(
        prune_binlog_series_by_gtid_sets(paths, {SID_A: 500, SID_B: 500})
    ) == ["binlog.000003"]


def test_read_gtid_sets_equals_per_sid_filter(spark, tmp_path):
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _sid_to_uuid,
        mysql_binlog_read_gtid_sets,
        mysql_binlog_read_parallel,
    )

    for i, (lo, hi) in enumerate([(1, 40), (40, 80), (80, 120)], start=1):
        prev = (
            {SID_A: [(1, lo)], SID_B: [(1, lo)]} if lo > 1
            else {SID_A: [], SID_B: []}
        )
        (tmp_path / f"binlog.{i:06d}").write_bytes(
            _two_source_blob(lo, hi, previous_gtids=prev)
        )
    key = lambda r: (r["__file_seq"], r["__event_seq"], r["__image_seq"])
    full = mysql_binlog_read_parallel(
        spark, str(tmp_path), TARGET, "d", "t",
        gtid_format="uuid_gno", split_bytes=512,
    ).collect()
    ua = _sid_to_uuid(SID_A)
    bounds = {SID_A: 90, SID_B: 15}
    want = sorted(
        (
            r.asDict() for r in full
            if r["__gtid"] > (90 if r["__gtid_src"] == ua else 15)
        ),
        key=key,
    )
    got = sorted(
        (
            r.asDict()
            for r in mysql_binlog_read_gtid_sets(
                spark, str(tmp_path), TARGET, "d", "t",
                start_after=bounds, split_bytes=512,
            ).collect()
        ),
        key=key,
    )
    # evens > 90: 92..118 (14); odds > 15: 17..119 (52)
    assert got == want and len(got) == 14 + 52


def test_tail_stream_gtid_start_position(spark, tmp_path):
    """start_after_gno: the FIRST micro-batch seeks straight to the
    first transaction past the checkpointed gno (earlier files never
    decode — the stream-side resume handoff), and subsequent batches
    follow the normal (seq, pos) cursor, picking up appended events."""
    from mysql_cdc_table_spark.sources.datasource import register
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        mysql_binlog_tail_stream,
    )

    register(spark)
    d = tmp_path / "logs"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")
    ddl = "id bigint, v string, amt decimal(10,2)"
    (d / "binlog.000001").write_bytes(
        _gno_blob(range(1, 30), previous_gtids={b"\x11" * 16: []})
    )
    (d / "binlog.000002").write_bytes(
        _gno_blob(range(30, 60), previous_gtids={b"\x11" * 16: [(1, 30)]})
    )

    def run_once(**kw):
        got: list = []
        run_to_completion(
            mysql_binlog_tail_stream(spark, str(d), ddl, "d", "t", **kw)
            .writeStream.foreachBatch(
                lambda df, _eid: got.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
        )
        return got

    batch1 = run_once(start_after_gno=45)
    assert sorted(r["__gtid"] for r in batch1) == list(range(46, 60))

    # append a third file: the cursor (not the gno seek) drives batch 2
    (d / "binlog.000003").write_bytes(
        _gno_blob(range(60, 65), previous_gtids={b"\x11" * 16: [(1, 60)]})
    )
    batch2 = run_once(start_after_gno=45)
    assert sorted(r["__gtid"] for r in batch2) == list(range(60, 65))

    # a bound past everything parks at the tail: first batch is empty
    ckpt2_rows: list = []
    run_to_completion(
        mysql_binlog_tail_stream(
            spark, str(d), ddl, "d", "t", start_after_gno=10_000
        )
        .writeStream.foreachBatch(
            lambda df, _eid: ckpt2_rows.extend(df.collect())
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
    )
    assert ckpt2_rows == []


def test_operational_events_are_skipped(tmp_path):
    """Real servers interleave operational events a row consumer must
    tolerate: HEARTBEAT (27), ANONYMOUS_GTID (34 — gtid_mode=OFF
    sessions), STOP (3), and PREVIOUS_GTIDS (35). Splice them between
    transactions: decode yields the identical rows, the GTID walkers'
    split specs still cover every transaction, and bounded walks stay
    exact."""
    from mysql_cdc_table_spark.sources import mysql_binlog as mb

    r = lambda i: {"id": i, "v": f"v{i}", "amt": Decimal(i)}
    clean = build_binlog_file(
        "d", "t", TARGET,
        [_txn(g, "w", [r(g)]) for g in (5, 6, 7)],
        checksum=True,
    )
    # rebuild with operational noise between txns: take clean events
    # apart is fiddly — simpler to emit a new file with noise spliced
    out = bytearray(mb.BINLOG_MAGIC)

    def emit(tc, body, ts=1_700_000_000):
        out.extend(mb._event(ts, tc, 1, body, len(out), True))

    emit(mb.EV_FORMAT_DESCRIPTION, mb._fde_body(True))
    emit(27, b"heartbeat-log-name")  # HEARTBEAT
    cols = mb._cols_from_schema(TARGET)
    for g in (5, 6, 7):
        emit(3, b"")  # STOP between txns
        emit(mb.EV_GTID, bytes([1]) + b"\x11" * 16 + __import__("struct").pack("<q", g))
        emit(34, bytes(25))  # ANONYMOUS_GTID-sized noise
        emit(mb.EV_TABLE_MAP, mb._table_map_body(23, "d", "t", cols))
        tc_rows, body = mb._txn_rows_body(23, cols, _txn(g, "w", [r(g)]))
        emit(tc_rows, body)
    noisy = bytes(out)
    want = [
        (x["id"], x["__gtid"], x["__op"])
        for x in decode_binlog_bytes(clean, TARGET, "d", "t")
    ]
    got = [
        (x["id"], x["__gtid"], x["__op"])
        for x in decode_binlog_bytes(noisy, TARGET, "d", "t")
    ]
    assert got == want
    # bounded walk across the noise: txns 6..7 only
    splits = mb.scan_binlog_splits(noisy, 1, start_after_gno=5)
    rows = []
    for s in splits:
        rows += decode_binlog_bytes(
            noisy[s["start"] : s["end"]], TARGET, "d", "t",
            init_state={
                "checksum": s["checksum"], "gtid": s["gtid"],
                "sid": s["sid"], "table_maps": s["table_maps"],
            },
            seq_base=s["start"],
        )
    assert [x["__gtid"] for x in rows] == [6, 7]


def test_ddl_query_events_parse_and_do_not_disturb_rows(tmp_path):
    """Query_log_events (DDL under GTID mode): binlog_file_ddl parses
    statement text/db/gno/ts from the wire; the row decode is
    untouched by interleaved DDL; BEGIN markers filter out."""
    from mysql_cdc_table_spark.sources.mysql_binlog import binlog_file_ddl

    r = lambda i: {"id": i, "v": f"v{i}", "amt": Decimal(i)}
    txns = [
        _txn(1, "w", [r(1)]),
        {"gno": 2, "ddl": "ALTER TABLE t ADD COLUMN note TEXT"},
        _txn(3, "w", [r(3)]),
        {"gno": 4, "ddl": "BEGIN"},  # marker: must filter
        {"gno": 5, "ddl": "CREATE INDEX ix ON t(v)", "ts": 1_700_000_999},
    ]
    blob = build_binlog_file("mydb", "t", TARGET, txns, checksum=True)
    path = tmp_path / "binlog.000001"
    path.write_bytes(blob)
    rows = decode_binlog_bytes(blob, TARGET, "mydb", "t")
    assert [x["__gtid"] for x in rows] == [1, 3]
    ddl = binlog_file_ddl(str(path))
    assert [(d["gno"], d["database"], d["statement"]) for d in ddl] == [
        (2, "mydb", "ALTER TABLE t ADD COLUMN note TEXT"),
        (5, "mydb", "CREATE INDEX ix ON t(v)"),
    ]
    assert ddl[1]["ts"] == 1_700_000_999
    assert all(d["offset"] > 4 for d in ddl)


def test_rotate_chain_audit(tmp_path):
    """ROTATE chain integrity: sealed files link to their successor by
    name; a deleted middle file surfaces as an (expected, found) gap
    before any decode touches garbage; decode itself skips the rotate
    event (genuinely-ignorable type)."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        binlog_chain_gaps,
        binlog_file_rotate_target,
    )

    r = lambda i: {"id": i, "v": f"v{i}", "amt": Decimal(i)}
    for i in (1, 2, 3):
        nxt = f"binlog.{i + 1:06d}" if i < 3 else None
        (tmp_path / f"binlog.{i:06d}").write_bytes(
            build_binlog_file(
                "d", "t", TARGET, [_txn(i, "w", [r(i)])],
                checksum=True, rotate_to=nxt,
            )
        )
    assert binlog_file_rotate_target(
        str(tmp_path / "binlog.000001")
    ) == "binlog.000002"
    assert binlog_file_rotate_target(str(tmp_path / "binlog.000003")) is None
    assert binlog_chain_gaps(str(tmp_path)) == []
    # rows decode unaffected by the trailing rotate
    rows = decode_binlog_bytes(
        (tmp_path / "binlog.000001").read_bytes(), TARGET, "d", "t"
    )
    assert [x["__gtid"] for x in rows] == [1]
    # delete the middle file: the chain breaks loudly
    (tmp_path / "binlog.000002").unlink()
    assert binlog_chain_gaps(str(tmp_path)) == [
        ("binlog.000002", "binlog.000003")
    ]


def test_ddl_query_parse_skips_status_vars(tmp_path):
    """Real servers write non-empty status vars (charset, sql_mode...)
    before the db name; the parser must skip exactly sv_len bytes or
    the db/statement slice shifts. Hand-frame a QUERY event with 9
    bytes of status vars and a unicode statement."""
    import struct as _st

    from mysql_cdc_table_spark.sources import mysql_binlog as mb

    out = bytearray(mb.BINLOG_MAGIC)

    def emit(tc, body):
        out.extend(mb._event(1_700_000_000, tc, 1, body, len(out), True))

    emit(mb.EV_FORMAT_DESCRIPTION, mb._fde_body(True))
    emit(mb.EV_GTID, bytes([1]) + b"\x11" * 16 + _st.pack("<q", 9))
    db = "meta_db".encode()
    stmt = "ALTER TABLE tĀ ADD COLUMN ü INT".encode()
    sv = b"\x00\x00\x00\x00\x01\x20\x00\xa0\x55"  # opaque 9-byte blob
    emit(
        mb.EV_QUERY,
        _st.pack("<IIBHH", 42, 1, len(db), 0, len(sv)) + sv + db + b"\x00"
        + stmt,
    )
    path = tmp_path / "binlog.000001"
    path.write_bytes(bytes(out))
    ddl = mb.binlog_file_ddl(str(path))
    assert len(ddl) == 1
    assert ddl[0]["gno"] == 9
    assert ddl[0]["database"] == "meta_db"
    assert ddl[0]["statement"] == "ALTER TABLE tĀ ADD COLUMN ü INT"


def test_time_bounds_same_second_rotation_keeps_tail_txns(tmp_path):
    """Advisor fix (round 7): when a rotation lands in the SAME second
    as the window start (next file's head ts == start_ts), the
    previous file can still hold same-second tail transactions — the
    old `head <= bound` skip silently dropped them, and the residual
    __tm >= start_ts filter cannot resurrect rows that were never
    decoded. The start bound must advance only past files whose head
    is STRICTLY before the bound."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        binlog_time_to_gno_bounds,
    )

    tgt = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    T0 = 1_700_000_000
    txn = lambda g: {"gno": g, "op": "w", "rows": [{"id": g, "v": "x"}]}
    # file 1: txns at ts T0, T0+1, T0+2 (gnos 1..3); file 2 rotated in
    # the same second as txn 3 — its head ts is ALSO T0+2 (gnos 4..5)
    f1 = build_binlog_file("d", "t", tgt, [txn(g) for g in (1, 2, 3)],
                           base_ts=T0)
    f2 = build_binlog_file("d", "t", tgt, [txn(g) for g in (4, 5)],
                           base_ts=T0 + 2)
    p1, p2 = tmp_path / "binlog.000001", tmp_path / "binlog.000002"
    p1.write_bytes(f1)
    p2.write_bytes(f2)

    start_after, stop_at = binlog_time_to_gno_bounds(
        [str(p1), str(p2)], T0 + 2, None
    )
    # gno 3 (ts == T0+2, tail of file 1) is IN the window: the first
    # in-window gno is 3, so the resume bound is 2 — the old code
    # jumped to file 2 and returned 3, dropping gno 3 silently
    assert (start_after, stop_at) == (2, None)


def test_split_mem_cache_is_a_bounded_lru(tmp_path):
    """Advisor fix (round 7): the in-memory split cache grew without
    bound in long-lived Spark Python workers (every (path, size,
    mtime, bounds) combination pinned its full split list — TABLE_MAP
    bodies included — for the process lifetime). It is now a small
    LRU; an evicted key just walks again."""
    from mysql_cdc_table_spark.sources import mysql_binlog as mbm

    tgt = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    blob = build_binlog_file(
        "d", "t", tgt,
        [{"gno": g, "op": "w", "rows": [{"id": g, "v": "x"}]}
         for g in range(1, 4)],
    )
    p = tmp_path / "binlog.000001"
    p.write_bytes(blob)

    mbm._SPLIT_MEM_CACHE.clear()
    # distinct split_bytes -> distinct keys, far past the cap
    for i in range(mbm._SPLIT_MEM_CACHE_MAX + 16):
        mbm.scan_binlog_splits_cached(str(p), 1024 + i)
    assert len(mbm._SPLIT_MEM_CACHE) == mbm._SPLIT_MEM_CACHE_MAX

    # LRU, not FIFO: touching the oldest surviving key keeps it alive
    # through the next insertion
    oldest = next(iter(mbm._SPLIT_MEM_CACHE))
    mbm.scan_binlog_splits_cached(str(p), oldest[3])
    mbm.scan_binlog_splits_cached(str(p), 999_999)
    assert oldest in mbm._SPLIT_MEM_CACHE
    # and an evicted key walks again to the same specs
    got = mbm.scan_binlog_splits_cached(str(p), 1024)
    assert got == mbm.scan_binlog_splits_file(str(p), 1024)
    mbm._SPLIT_MEM_CACHE.clear()


def test_tail_multi_source_resume_no_loss_no_double(tmp_path):
    """Round-8 (verdict item 6): the streaming tail takes per-origin
    bounds (start_after_sets), closing the batch/stream gap — the
    batch side had mysql_binlog_read_gtid_sets, the tail only a
    single global start_after_gno, which is wrong on a multi-source
    relay whose per-sid gno sequences interleave without global
    order. Two-origin interleave, restart mid-stream: no loss, no
    double, per sid."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        MysqlBinlogTailStreamReader,
        _binlog_out_schema,
        _sid_to_uuid,
    )

    d = tmp_path / "logs"
    d.mkdir()
    # gnos interleave: even -> A, odd -> B; heads carry PREVIOUS_GTIDS
    (d / "binlog.000001").write_bytes(
        _two_source_blob(1, 40, previous_gtids={SID_A: [], SID_B: []})
    )
    (d / "binlog.000002").write_bytes(
        _two_source_blob(
            40, 80, previous_gtids={SID_A: [(1, 40)], SID_B: [(1, 40)]}
        )
    )

    uuid_a, uuid_b = _sid_to_uuid(SID_A), _sid_to_uuid(SID_B)
    opts = {
        "path": str(d),
        "schema_ddl": "id bigint, v string, amt decimal(10,2)",
        "database": "d", "table": "t",
        "gtid_format": "uuid_gno",
        # checkpoint handoff: A consumed through 60, B through 45
        "start_after_sets": f"{uuid_a}:60,{uuid_b}:45",
    }
    r = MysqlBinlogTailStreamReader(opts)
    off0 = r.initialOffset()
    # file 1 pruned off file 2's PREVIOUS_GTIDS head (A and B both
    # consumed past gno 39) — never scheduled, let alone decoded; and
    # within file 2 the consumed prefix (gnos 40-46, all within their
    # own sid's bound) is skipped at the header walk, so the cursor
    # opens at the first unconsumed transaction (gno 47, B's)
    assert off0["seq"] == 2 and off0["pos"] > 4

    names = [
        f.name for f in _binlog_out_schema(
            r.window.target, "uuid_gno", False
        ).fields
    ]
    gi, si = names.index("__gtid"), names.index("__gtid_src")

    b1, off1 = r._delta(off0)
    rows1 = tail_rows(b1)
    got1 = {(t_[si], t_[gi]) for t_ in rows1}
    want1 = {(uuid_a, g) for g in range(62, 80, 2)} | {
        (uuid_b, g) for g in range(47, 80, 2)
    }
    assert got1 == want1  # per-sid bounds exact: no loss, no bleed

    # mid-stream restart: a FRESH reader (same options) resumes from
    # the checkpointed offset while the stream rotates forward
    (d / "binlog.000003").write_bytes(
        _two_source_blob(
            80, 120, previous_gtids={SID_A: [(1, 80)], SID_B: [(1, 80)]}
        )
    )
    r2 = MysqlBinlogTailStreamReader(opts)
    b2, off2 = r2._delta(off1)
    rows2 = tail_rows(b2)
    got2 = {(t_[si], t_[gi]) for t_ in rows2}
    want2 = {
        (_sid_to_uuid(SID_A if g % 2 == 0 else SID_B), g)
        for g in range(80, 120)
    }
    assert got2 == want2          # everything new, exactly once
    assert not (got1 & got2)      # nothing doubled across the restart
    assert off2["seq"] == 3

    # replay determinism across the restart boundary
    assert {(t_[si], t_[gi]) for t_ in tail_rows(r2.readBetweenOffsets(off1, off2))} == want2


def test_tail_and_batch_reader_share_the_gtid_window(tmp_path):
    """The tail (``_delta`` from ``initialOffset()``) and the batch
    reader (``partitions()`` then ``read()``, here over 2 KiB ranges
    with carried state) return the same rows over one multi-file series
    under both start bounds, because both run one GTID window and one
    range decode; the tail's batches only differ in carrying Spark's
    Arrow schema. A transaction with no GTID event decodes with a null
    ``__gtid``, and the tail's start bounds let its rows through."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from mysql_cdc_table_spark.sources import mysql_binlog as mb

    d = tmp_path / "logs"
    d.mkdir()
    for n, (lo, hi) in enumerate([(1, 40), (40, 80), (80, 120)], start=1):
        seen = {SID_A: [(1, lo)], SID_B: [(1, lo)]} if lo > 1 else {}
        (d / f"binlog.00000{n}").write_bytes(
            _two_source_blob(lo, hi, previous_gtids=seen)
        )
    uuid_a, uuid_b = mb._sid_to_uuid(SID_A), mb._sid_to_uuid(SID_B)
    base = {
        "path": str(d), "database": "d", "table": "t",
        "schema_ddl": "id bigint, v string, amt decimal(10,2)",
        "gtid_format": "uuid_gno",
    }
    out = mb._binlog_out_schema(TARGET, "uuid_gno")
    spark_schema = to_arrow_schema(out)
    names = [f.name for f in out.fields]
    gi, si = names.index("__gtid"), names.index("__gtid_src")
    windows = [
        ({"start_after_gno": "57"}, {g for g in range(58, 120)}),
        (
            {"start_after_sets": f"{uuid_a}:60,{uuid_b}:45"},
            {g for g in range(61, 120) if g % 2 == 0}
            | {g for g in range(46, 120) if g % 2},
        ),
    ]
    tails = []
    for bound, want in windows:
        batch = mb.MysqlBinlogReader({**base, **bound, "split_bytes": "2048"})
        parts = batch.partitions()
        assert sum(len(p.ranges) for p in parts) > 3  # mid-file ranges
        batch_rows = tail_rows(
            b.cast(spark_schema) for p in parts for b in batch.read(p)
        )
        tail = mb.MysqlBinlogTailStreamReader({**base, **bound})
        batches, end = tail._delta(tail.initialOffset())
        assert all(b.schema == spark_schema for b in batches)
        got = tail_rows(batches)
        assert sorted(got) == sorted(batch_rows)
        assert {t_[gi] for t_ in got} == want and len(got) == len(want)
        for t_ in got:
            assert t_[si] == (uuid_a if t_[gi] % 2 == 0 else uuid_b)
        tails.append((tail, end))

    # a rotated-in file whose one transaction has no GTID event
    out = bytearray(mb.BINLOG_MAGIC)

    def emit(tc, body):
        out.extend(mb._event(1_700_000_500, tc, 1, body, len(out), True))

    cols = mb._cols_from_schema(TARGET)
    emit(mb.EV_FORMAT_DESCRIPTION, mb._fde_body(True))
    emit(mb.EV_TABLE_MAP, mb._table_map_body(23, "d", "t", cols))
    emit(
        mb.EV_WRITE_ROWS_V2,
        mb._rows_body(
            mb.EV_WRITE_ROWS_V2, 23, cols,
            [{"id": 500, "v": "no gtid", "amt": Decimal(5)}],
        ),
    )
    (d / "binlog.000004").write_bytes(bytes(out))
    for tail, end in tails:
        batches, _ = tail._delta(end)
        got = tail_rows(batches)
        assert [(t_[0], t_[gi], t_[si]) for t_ in got] == [(500, None, None)]


def test_tail_start_after_sets_option_validation(tmp_path):
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        MysqlBinlogTailStreamReader,
    )

    base = {
        "path": str(tmp_path), "schema_ddl": "id bigint",
        "database": "d", "table": "t",
    }
    with pytest.raises(ValueError, match="uuid_gno"):
        MysqlBinlogTailStreamReader(
            {**base, "start_after_sets": "11111111-1111-1111-1111-111111111111:5"}
        )
    with pytest.raises(ValueError, match="mutually exclusive"):
        MysqlBinlogTailStreamReader(
            {**base, "gtid_format": "uuid_gno", "start_after_gno": "3",
             "start_after_sets": "11111111-1111-1111-1111-111111111111:5"}
        )
    with pytest.raises(ValueError, match="uuid:gno"):
        MysqlBinlogTailStreamReader(
            {**base, "gtid_format": "uuid_gno", "start_after_sets": "junk"}
        )


def test_split_scan_sets_skips_consumed_prefix(tmp_path):
    """Round-8 boundary-walk trim (r07 watch item 3): with per-sid
    bounds, the header walk opens the window at the first transaction
    unconsumed for its OWN sid — the wholly-consumed prefix of a
    boundary file is pruned at the SCAN, not decoded then row-filtered
    — and the trimmed read still returns exactly the in-window rows."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        decode_binlog_bytes,
        scan_binlog_splits_file,
    )

    p = tmp_path / "binlog.000001"
    p.write_bytes(_two_source_blob(1, 100))

    full = scan_binlog_splits_file(str(p), 1 << 62)
    # A consumed through 90, B through 89: the first unconsumed txn is
    # gno 91 — everything before it is prefix, skipped unwalked
    trimmed = scan_binlog_splits_file(
        str(p), 1 << 62, start_after_sets={SID_A: 90, SID_B: 89}
    )
    assert len(trimmed) == 1
    assert trimmed[0]["start"] > full[0]["start"]
    # carried state at the window open replays the prefix's context
    blob = p.read_bytes()
    s = trimmed[0]
    rows = decode_binlog_bytes(
        blob[s["start"] : s["end"]], TARGET, "d", "t",
        gtid_format="uuid_gno",
        init_state={
            "checksum": s["checksum"], "gtid": s["gtid"], "sid": s["sid"],
            "table_maps": s["table_maps"],
        },
        seq_base=s["start"],
    )
    assert sorted(r["__gtid"] for r in rows) == list(range(91, 100))

    # an absent sid means "from its first transaction": the window
    # opens at the very first GTID event (gno 1 is B's, unbounded), so
    # every transaction decodes
    only_a = scan_binlog_splits_file(
        str(p), 1 << 62, start_after_sets={SID_A: 90}
    )
    s = only_a[0]
    rows_a = decode_binlog_bytes(
        blob[s["start"] : s["end"]], TARGET, "d", "t",
        gtid_format="uuid_gno",
        init_state={
            "checksum": s["checksum"], "gtid": s["gtid"], "sid": s["sid"],
            "table_maps": s["table_maps"],
        },
        seq_base=s["start"],
    )
    assert sorted(r["__gtid"] for r in rows_a) == list(range(1, 100))

    with pytest.raises(ValueError, match="mutually exclusive"):
        scan_binlog_splits_file(
            str(p), 1 << 62, start_after_gno=5,
            start_after_sets={SID_A: 90},
        )


def test_tail_stream_e2e_multi_source_sets(spark, tmp_path):
    """start_after_sets through REAL Structured Streaming (registered
    DataSource, availableNow, checkpointed restart): the first batch
    honors each origin's own bound, the restart resumes from the
    (seq, pos) cursor — per-sid exactness end-to-end, not just at the
    reader-unit level."""
    from mysql_cdc_table_spark.sources.datasource import register
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _sid_to_uuid,
        mysql_binlog_tail_stream,
    )

    register(spark)
    d = tmp_path / "logs"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")
    ddl = "id bigint, v string, amt decimal(10,2)"
    (d / "binlog.000001").write_bytes(
        _two_source_blob(1, 40, previous_gtids={SID_A: [], SID_B: []})
    )
    (d / "binlog.000002").write_bytes(
        _two_source_blob(
            40, 80, previous_gtids={SID_A: [(1, 40)], SID_B: [(1, 40)]}
        )
    )
    bounds = {_sid_to_uuid(SID_A): 60, _sid_to_uuid(SID_B): 45}

    def run_once():
        got: list = []
        run_to_completion(
            mysql_binlog_tail_stream(
                spark, str(d), ddl, "d", "t", start_after_sets=bounds
            )
            .writeStream.foreachBatch(
                lambda df, _eid: got.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
        )
        return got

    batch1 = run_once()
    got1 = {(r["__gtid_src"], r["__gtid"]) for r in batch1}
    want1 = {(_sid_to_uuid(SID_A), g) for g in range(62, 80, 2)} | {
        (_sid_to_uuid(SID_B), g) for g in range(47, 80, 2)
    }
    assert got1 == want1

    # rotate forward; the checkpointed cursor (not the gno seek)
    # drives the second run — nothing lost, nothing doubled
    (d / "binlog.000003").write_bytes(
        _two_source_blob(
            80, 100, previous_gtids={SID_A: [(1, 80)], SID_B: [(1, 80)]}
        )
    )
    batch2 = run_once()
    got2 = {(r["__gtid_src"], r["__gtid"]) for r in batch2}
    want2 = {
        (_sid_to_uuid(SID_A if g % 2 == 0 else SID_B), g)
        for g in range(80, 100)
    }
    assert got2 == want2
    assert not (got1 & got2)


def test_mysql_binlog_writer_sink_roundtrip(spark, tmp_path):
    """df.write.format('mysql_binlog') emits REAL v4 files (round 8):
    the synthetic orders changelog, repartitioned so transactions are
    partition-local, written through the sink and decoded back by the
    reader equals the original changelog on every value column — ops,
    gtids, commit timestamps, doubles, enums of the update pairs all
    survive the wire. The reference's write path silently discards
    rows (binlogdb.cc:283-292); this one round-trips them."""
    from mysql_cdc_table_spark.cdc.queries import ORDERS_TARGET_SCHEMA
    from mysql_cdc_table_spark.cdc.synthetic import synthetic_changelog
    from mysql_cdc_table_spark.sources.datasource import register
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        mysql_binlog_read,
    )

    register(spark)
    sf_dir = "/root/testdata/sf0.001"
    cl = synthetic_changelog(spark, sf_dir)
    ddl = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    out = str(tmp_path / "binlogs")
    (
        cl.repartition(8, "__gtid")
        .write.format("mysql_binlog")
        .option("schema_ddl", ddl)
        .option("database", "tpch")
        .option("table", "orders")
        .mode("overwrite")
        .save(out)
    )
    import os

    files = sorted(os.listdir(out))
    assert files and all(f.startswith("binlog.0") for f in files)

    back = mysql_binlog_read(
        spark, out, ORDERS_TARGET_SCHEMA, "tpch", "orders"
    )
    cols = [f.name for f in ORDERS_TARGET_SCHEMA.fields] + [
        "__op", "__gtid", "__tm",
    ]
    key = lambda r: tuple(str(r[c]) for c in cols)  # noqa: E731
    want = sorted(key(r) for r in cl.select(*cols).collect())
    got = sorted(key(r) for r in back.select(*cols).collect())
    assert got == want


def test_mysql_binlog_writer_sink_contracts(spark, tmp_path):
    """Append mode raises (rotation numbering cannot be extended by a
    parallel writer); an unpaired update image raises rather than
    writing a torn transaction."""
    from mysql_cdc_table_spark.cdc.synthetic import synthetic_changelog
    from mysql_cdc_table_spark.sources.datasource import register

    register(spark)
    sf_dir = "/root/testdata/sf0.001"
    cl = synthetic_changelog(spark, sf_dir)
    ddl = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    w = (
        cl.write.format("mysql_binlog")
        .option("schema_ddl", ddl)
        .option("database", "tpch")
        .option("table", "orders")
    )
    with pytest.raises(Exception, match="overwrite"):
        w.mode("append").save(str(tmp_path / "a"))
    # NOT repartitioned by __gtid: the union branches split update
    # before/after images across partitions -> torn-transaction raise
    with pytest.raises(Exception, match="partition-local|pair"):
        w.mode("overwrite").save(str(tmp_path / "b"))


def test_parse_ddl_decimal_with_space():
    """'decimal(10, 2)' (space after the comma) must parse — the field
    splitter keeps parenthesized commas, so the name/type split must cut
    on the FIRST whitespace run only (round-1 advisory)."""
    from pyspark.sql import types as T

    from mysql_cdc_table_spark.sources.datasource import _parse_ddl

    st = _parse_ddl("id bigint, price decimal(10, 2), v string")
    assert st["price"].dataType == T.DecimalType(10, 2)
    assert st["id"].dataType == T.LongType()


def test_mysql_binlog_format_reader_mysql_kinds(spark, tmp_path):
    """format('mysql_binlog') accepts the extended enum(...)/set(...)/
    bit/json/geometry DDL and decodes those wire types, plus a
    DECIMAL(38,10) wider than int64 and an all-NULL image."""
    from mysql_cdc_table_spark.sources.datasource import _parse_ddl, register

    ddl = (
        "id bigint, color enum(red,green,blue), flags set(a,b,c,d), "
        "b bit, doc json, wide decimal(38, 10), geo geometry"
    )
    wkb = bytes.fromhex("e6100000010100000000000000000c400000000000001dc0")
    img = {
        "id": 1, "color": "blue", "flags": "a,d", "b": (1 << 62) + 5,
        "doc": '{"x":1}', "wide": Decimal("12345678901234567890.1234567891"),
        "geo": wkb,
    }
    nulls = {"id": 2, **{k: None for k in img if k != "id"}}
    (tmp_path / "binlog.000001").write_bytes(
        build_binlog_file(
            "d", "t", _parse_ddl(ddl),
            [_txn(10, "w", [img]), _txn(11, "w", [nulls])],
            checksum=True,
        )
    )
    register(spark)
    rows = {
        r["id"]: r
        for r in spark.read.format("mysql_binlog")
        .option("schema_ddl", ddl)
        .option("database", "d")
        .option("table", "t")
        .load(str(tmp_path))
        .collect()
    }
    r = rows[1]
    assert r["color"] == "blue" and r["flags"] == "a,d"
    assert r["b"] == (1 << 62) + 5 and r["doc"] == '{"x":1}'
    assert r["wide"] == Decimal("12345678901234567890.1234567891")
    assert bytes(r["geo"]) == wkb
    assert all(rows[2][k] is None for k in img if k != "id")


def test_mysql_binlog_format_reader_equals_function_api(spark, tmp_path):
    """spark.read.format('mysql_binlog') and the function API that
    builds it must produce the exact frame of the whole-file decode
    (binaryFile + _decode_files), including under GTID bounds (file
    pruning + prefix skip + residual filters)."""
    from mysql_cdc_table_spark.sources.datasource import register
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        mysql_binlog_read_parallel,
    )

    register(spark)
    d = tmp_path / "logs"
    d.mkdir()
    (d / "binlog.000001").write_bytes(
        _two_source_blob(1, 60, previous_gtids={SID_A: [], SID_B: []})
    )
    (d / "binlog.000002").write_bytes(
        _two_source_blob(
            60, 120, previous_gtids={SID_A: [(1, 60)], SID_B: [(1, 60)]}
        )
    )
    ddl = "id bigint, v string, amt decimal(10,2)"

    def fmt(**opts):
        r = (
            spark.read.format("mysql_binlog")
            .option("schema_ddl", ddl)
            .option("database", "d")
            .option("table", "t")
        )
        for k, v in opts.items():
            r = r.option(k, str(v))
        return r.load(str(d))

    key = lambda r: tuple(str(x) for x in r)  # noqa: E731
    whole = _whole_file_read(spark, d, TARGET).collect()
    assert sorted(map(key, fmt().collect())) == sorted(map(key, whole))
    fn = mysql_binlog_read_parallel(spark, str(d), TARGET, "d", "t")
    assert sorted(map(key, fn.collect())) == sorted(map(key, whole))

    bounded_fn = mysql_binlog_read_parallel(
        spark, str(d), TARGET, "d", "t",
        start_after_gno=70, stop_at_gno=100,
    )
    want = sorted(key(r) for r in whole if 70 < r["__gtid"] <= 100)
    got = fmt(start_after_gno=70, stop_at_gno=100).collect()
    assert sorted(map(key, got)) == want
    assert sorted(map(key, bounded_fn.collect())) == want
    assert sorted(r["__gtid"] for r in got) == list(range(71, 101))

    # full circle: the sink's output reads back through the format
    out2 = str(tmp_path / "rewritten")
    (
        fmt().repartition(4, "__gtid")
        .write.format("mysql_binlog")
        .option("schema_ddl", ddl)
        .option("database", "d")
        .option("table", "t")
        .mode("overwrite")
        .save(out2)
    )
    again = (
        spark.read.format("mysql_binlog")
        .option("schema_ddl", ddl)
        .option("database", "d")
        .option("table", "t")
        .load(out2)
    )
    vals = lambda df: sorted(  # noqa: E731 — value columns only (the
        # ordering keys are file offsets, legitimately different files)
        (r["id"], r["v"], str(r["amt"]), r["__op"], r["__gtid"])
        for r in df.collect()
    )
    assert vals(again) == vals(fmt())


def test_format_reader_multi_source_sets_equals_gtid_sets(spark, tmp_path):
    """The format reader's start_after_sets option must produce the
    exact frame of mysql_binlog_read_gtid_sets — per-sid bounds, file
    pruning, consumed-prefix skip, residual row filter."""
    from mysql_cdc_table_spark.sources.datasource import register
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _sid_to_uuid,
        mysql_binlog_read_gtid_sets,
    )

    register(spark)
    d = tmp_path / "logs"
    d.mkdir()
    (d / "binlog.000001").write_bytes(
        _two_source_blob(1, 40, previous_gtids={SID_A: [], SID_B: []})
    )
    (d / "binlog.000002").write_bytes(
        _two_source_blob(
            40, 80, previous_gtids={SID_A: [(1, 40)], SID_B: [(1, 40)]}
        )
    )
    bounds = {SID_A: 60, SID_B: 45}
    fn = mysql_binlog_read_gtid_sets(
        spark, str(d), TARGET, "d", "t", start_after=bounds
    )
    fmt = (
        spark.read.format("mysql_binlog")
        .option("schema_ddl", "id bigint, v string, amt decimal(10,2)")
        .option("database", "d")
        .option("table", "t")
        .option("gtid_format", "uuid_gno")
        .option(
            "start_after_sets",
            ",".join(f"{_sid_to_uuid(s)}:{g}" for s, g in bounds.items()),
        )
        .load(str(d))
    )
    key = lambda r: tuple(str(x) for x in r)  # noqa: E731
    assert sorted(map(key, fmt.collect())) == sorted(
        map(key, fn.collect())
    )
    got = {(r["__gtid_src"], r["__gtid"]) for r in fmt.collect()}
    want = {(_sid_to_uuid(SID_A), g) for g in range(62, 80, 2)} | {
        (_sid_to_uuid(SID_B), g) for g in range(47, 80, 2)
    }
    assert got == want


def test_mysql_binlog_writer_sink_compression(spark, tmp_path):
    """compression='zstd' on the sink wraps each transaction in a
    TRANSACTION_PAYLOAD (ZSTD) — binlog_transaction_compression on
    the WRITE side. MySQL compresses PER TRANSACTION, so the win needs
    multi-row transactions (a 1-row txn inflates under the zstd frame
    overhead — faithful to the real server); with 100-row transactions
    the files shrink and decode to the identical changelog."""
    from pyspark.sql import functions as F

    from mysql_cdc_table_spark.cdc.queries import ORDERS_TARGET_SCHEMA
    from mysql_cdc_table_spark.sources.datasource import register
    from mysql_cdc_table_spark.sources.mysql_binlog import mysql_binlog_read

    register(spark)
    # 100-row INSERT transactions: __gtid = key % 50, ordered by key
    cl = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority",
            F.lit(1).alias("__op"),
            (F.col("o_orderkey") % 50 + 1).alias("__gtid"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("__tm"),
            F.lit(1).alias("__file_seq"),
            F.col("o_orderkey").alias("__event_seq"),
            F.lit(0).alias("__image_seq"),
        )
        .repartition(4, "__gtid")
    )
    ddl = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    import os

    outs = {}
    for comp, path in (("", "plain"), ("zstd", "zstd")):
        w = (
            cl.write.format("mysql_binlog")
            .option("schema_ddl", ddl)
            .option("database", "tpch")
            .option("table", "orders")
            .mode("overwrite")
        )
        if comp:
            w = w.option("compression", comp)
        w.save(str(tmp_path / path))
        outs[path] = sum(
            os.path.getsize(os.path.join(str(tmp_path / path), f))
            for f in os.listdir(str(tmp_path / path))
        )
    assert outs["zstd"] < outs["plain"]  # compression actually on disk

    cols = [f.name for f in ORDERS_TARGET_SCHEMA.fields] + [
        "__op", "__gtid", "__tm",
    ]
    key = lambda r: tuple(str(r[c]) for c in cols)  # noqa: E731
    plain = sorted(
        key(r)
        for r in mysql_binlog_read(
            spark, str(tmp_path / "plain"), ORDERS_TARGET_SCHEMA,
            "tpch", "orders",
        ).collect()
    )
    comp = sorted(
        key(r)
        for r in mysql_binlog_read(
            spark, str(tmp_path / "zstd"), ORDERS_TARGET_SCHEMA,
            "tpch", "orders",
        ).collect()
    )
    assert plain == comp and len(plain) > 0


def test_mysql_binlog_writer_sink_rotate_chain(spark, tmp_path):
    """commit() links the ROTATE chain across the written files (the
    rotating-server contract), so binlog_chain_gaps audits sink
    output like any restored series — and the appended ROTATE events
    are invisible to the row decode."""
    from mysql_cdc_table_spark.cdc.queries import ORDERS_TARGET_SCHEMA
    from mysql_cdc_table_spark.cdc.synthetic import synthetic_changelog
    from mysql_cdc_table_spark.sources.datasource import register
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        binlog_chain_gaps,
        binlog_file_rotate_target,
        mysql_binlog_read,
    )

    register(spark)
    cl = synthetic_changelog(spark, "/root/testdata/sf0.001").repartition(
        8, "__gtid"
    )
    ddl = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    out = str(tmp_path / "chained")
    (
        cl.write.format("mysql_binlog")
        .option("schema_ddl", ddl)
        .option("database", "tpch")
        .option("table", "orders")
        .mode("overwrite")
        .save(out)
    )
    import os

    files = sorted(os.listdir(out))
    assert len(files) > 1
    assert binlog_chain_gaps(out) == []
    # every sealed file names its successor; the last carries none
    for i, f in enumerate(files[:-1]):
        assert binlog_file_rotate_target(os.path.join(out, f)) == files[i + 1]
    assert binlog_file_rotate_target(os.path.join(out, files[-1])) is None
    # rows unaffected by the appended ROTATE events
    n = mysql_binlog_read(
        spark, out, ORDERS_TARGET_SCHEMA, "tpch", "orders"
    ).count()
    assert n == cl.count()


def test_mysql_binlog_stream_writer_sink_e2e(spark, tmp_path):
    """writeStream.format('mysql_binlog'): a changelog stream lands as
    one continuous rotating binlog series — batch-id-derived monotone
    file numbers, ROTATE chain linked across micro-batches AND across
    a checkpointed restart, rows exactly the input's."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from mysql_cdc_table_spark.sources.datasource import register
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        binlog_chain_gaps,
        mysql_binlog_read,
    )

    register(spark)
    src_dir, out, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    in_schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    import os

    os.makedirs(src_dir)

    def put(name, lo, hi):
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(lo, hi)], in_schema
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src_dir, name)
        )

    put("f1", 0, 40)
    put("f2", 40, 80)

    tgt_ddl = "k bigint, v string"

    def changelog(df):
        return df.select(
            "k", "v",
            F.lit(1).alias("__op"),
            (F.col("k") + 1).alias("__gtid"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("__tm"),
            F.lit(1).alias("__file_seq"),
            F.col("k").alias("__event_seq"),
            F.lit(0).alias("__image_seq"),
        ).repartition(2, "__gtid")

    def run_once():
        run_to_completion(
            changelog(
                spark.readStream.schema(in_schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir + "/*")
            )
            .writeStream.format("mysql_binlog")
            .option("schema_ddl", tgt_ddl)
            .option("database", "d")
            .option("table", "t")
            .option("checkpointLocation", ckpt)
            .option("path", out)
        )

    run_once()
    files1 = sorted(os.listdir(out))
    assert len(files1) >= 2  # ≥2 micro-batches (maxFilesPerTrigger=1)
    assert binlog_chain_gaps(out) == []
    tgt = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    got = mysql_binlog_read(spark, out, tgt, "d", "t")
    assert sorted(r["k"] for r in got.collect()) == list(range(80))

    # restart from the checkpoint with new input: chain stays intact
    # across the seam, only the new rows land
    put("f3", 80, 100)
    run_once()
    assert binlog_chain_gaps(out) == []
    assert len(sorted(os.listdir(out))) > len(files1)
    got2 = mysql_binlog_read(spark, out, tgt, "d", "t")
    assert sorted(r["k"] for r in got2.collect()) == list(range(100))


@pytest.mark.parametrize("checksum", [False, True])
@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["w", "d", "u"]),
            st.integers(1, 3),          # images (rows or update pairs)
            st.integers(-(10**9), 10**9),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_writer_txn_rebuild_roundtrip_property(checksum, txspec):
    """Hypothesis: the sink's transaction rebuilding (_build_txns — op
    grouping, update-pair re-pairing, gno ordering, __tm commit ts)
    write->decodes to exactly the changelog rows it was given, for any
    mix of multi-image write/delete/update transactions. The rows reach
    it the way the sink's tasks hand them over: one Arrow batch through
    _arrow_rows."""
    import datetime as dtm

    import pyarrow as pa

    from mysql_cdc_table_spark.sources.mysql_binlog import (
        MysqlBinlogWriter,
    )

    w = MysqlBinlogWriter(
        {
            "path": "/nonexistent",  # _build_txns never touches disk
            "schema_ddl": "id bigint, v string, amt decimal(10,2)",
            "database": "d",
            "table": "t",
        },
        overwrite=True,
    )
    rows, gno = [], 0
    want = []  # (op, gno, id) triples expected back
    for op, nimg, base in txspec:
        gno += 1
        ts = dtm.datetime(2024, 1, 1, 0, 0, 0) + dtm.timedelta(seconds=gno)
        for k in range(nimg):
            vid = base + k
            img = {"id": vid, "v": f"x{vid}", "amt": Decimal(abs(vid) % 1000)}
            if op == "u":
                rows.append({**img, "__op": 2, "__gtid": gno, "__tm": ts,
                             "__event_seq": gno, "__image_seq": 2 * k})
                rows.append({**img, "id": vid + 1, "__op": 3, "__gtid": gno,
                             "__tm": ts, "__event_seq": gno,
                             "__image_seq": 2 * k + 1})
                want += [(2, gno, vid), (3, gno, vid + 1)]
            else:
                code = 1 if op == "w" else 0
                rows.append({**img, "__op": code, "__gtid": gno, "__tm": ts,
                             "__event_seq": gno, "__image_seq": k})
                want.append((code, gno, vid))
    import random

    random.Random(42).shuffle(rows)  # grouping must not rely on order
    names_in, tuples = w._arrow_rows([pa.RecordBatch.from_pylist(rows)])
    txns = w._build_txns(tuples, names_in)
    assert [t_["gno"] for t_ in txns] == sorted({r["__gtid"] for r in rows})
    blob = build_binlog_file("d", "t", w.target, txns, checksum=checksum)
    got = decode_binlog_bytes(blob, w.target, "d", "t")
    assert sorted((r["__op"], r["__gtid"], r["id"]) for r in got) == sorted(
        want
    )
    # commit timestamps survive per transaction
    tms = {r["__gtid"]: r["__tm"] for r in got}
    for g, tm in tms.items():
        assert tm == dtm.datetime(2024, 1, 1) + dtm.timedelta(seconds=g)


def test_split_cache_keys_on_per_sid_bounds(tmp_path):
    """Different start_after_sets maps must never share a cache entry
    — a stale hit would silently decode the wrong window."""
    from mysql_cdc_table_spark.sources import mysql_binlog as mbm

    p = tmp_path / "binlog.000001"
    p.write_bytes(_two_source_blob(1, 100))

    mbm._SPLIT_MEM_CACHE.clear()
    full = mbm.scan_binlog_splits_cached(str(p), 1 << 62)
    t1 = mbm.scan_binlog_splits_cached(
        str(p), 1 << 62, start_after_sets={SID_A: 90, SID_B: 89},
    )
    t2 = mbm.scan_binlog_splits_cached(
        str(p), 1 << 62, start_after_sets={SID_A: 50, SID_B: 49},
    )
    assert full[0]["start"] < t2[0]["start"] < t1[0]["start"]
    assert len(mbm._SPLIT_MEM_CACHE) == 3
    # warm re-reads return their own entries
    assert mbm.scan_binlog_splits_cached(
        str(p), 1 << 62, start_after_sets={SID_A: 90, SID_B: 89},
    ) is t1
    assert mbm.scan_binlog_splits_cached(
        str(p), 1 << 62, start_after_sets={SID_A: 50, SID_B: 49},
    ) is t2
    mbm._SPLIT_MEM_CACHE.clear()


def test_format_reader_index_file_entry(spark, tmp_path):
    """option('index_file', ...) on the format reader mirrors the
    reference's binlog.index contract: exactly the listed files scan,
    in listed order, skipping unlisted files in the same directory."""
    from mysql_cdc_table_spark.sources.datasource import register

    register(spark)
    d = tmp_path / "logs"
    d.mkdir()
    for i, (lo, hi) in enumerate([(1, 20), (20, 40), (40, 60)], start=1):
        (d / f"binlog.{i:06d}").write_bytes(_two_source_blob(lo, hi))
    # index lists files 1 and 3 only (file 2 purged from the index)
    (d / "binlog.index").write_text("binlog.000001\nbinlog.000003\n")

    got = (
        spark.read.format("mysql_binlog")
        .option("schema_ddl", "id bigint, v string, amt decimal(10,2)")
        .option("database", "d")
        .option("table", "t")
        .option("index_file", str(d / "binlog.index"))
        .load()
    )
    assert sorted(r["__gtid"] for r in got.collect()) == (
        list(range(1, 20)) + list(range(40, 60))
    )


def test_format_reader_dir_listing_skips_index_file(spark, tmp_path):
    """A co-located binlog.index must not be scanned as a binlog file
    when the format reader lists the directory itself."""
    from mysql_cdc_table_spark.sources.datasource import register

    register(spark)
    d = tmp_path / "logs"
    d.mkdir()
    (d / "binlog.000001").write_bytes(_two_source_blob(1, 10))
    (d / "binlog.index").write_text("binlog.000001\n")
    got = (
        spark.read.format("mysql_binlog")
        .option("schema_ddl", "id bigint, v string, amt decimal(10,2)")
        .option("database", "d")
        .option("table", "t")
        .load(str(d))
    )
    assert sorted(r["__gtid"] for r in got.collect()) == list(range(1, 10))


def test_python_workers_use_stamped_zip_importer(spark, tmp_path):
    """A worker that ran a format read and imports the package resolves
    pyspark.zip through the stamped importer, so its per-call
    importlib.invalidate_caches() does not re-read the archive. A
    streaming source runner, a fresh process per query, loaded pyspark
    itself through it: the boot hook installed it at interpreter start."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    from mysql_cdc_table_spark.sources.datasource import register
    from mysql_cdc_table_spark.streaming.cdc_stream import run_to_completion

    register(spark)
    (tmp_path / "binlog.000001").write_bytes(_two_source_blob(1, 5))
    got = (
        spark.read.format("mysql_binlog")
        .option("schema_ddl", "id bigint, v string, amt decimal(10,2)")
        .option("database", "d")
        .option("table", "t")
        .load(str(tmp_path))
    )
    assert sorted(r["__gtid"] for r in got.collect()) == list(range(1, 5))

    def importer_of_pyspark_zip(batches):
        import os
        import sys

        import pyarrow as pa

        import mysql_cdc_table_spark  # noqa: F401

        for _ in batches:
            pass
        zip_path = os.path.join(os.environ["SPARK_HOME"], "python", "lib", "pyspark.zip")
        finder = sys.path_importer_cache.get(zip_path)
        kind = type(finder)
        yield pa.RecordBatch.from_pylist(
            [{"importer": f"{kind.__module__}.{kind.__qualname__}"}]
        )

    seen = spark.range(2).mapInArrow(importer_of_pyspark_zip, "importer string").collect()
    assert {r["importer"] for r in seen} == {
        "mysql_cdc_table_spark.worker_imports.StampedZipImporter"
    }

    class LoaderReader(SimpleDataSourceStreamReader):
        """One row, read in the runner: the loader of its pyspark."""

        def initialOffset(self):
            return {"n": 0}

        def read(self, start):
            import sys

            if start["n"]:
                return iter([]), start
            kind = type(sys.modules["pyspark"].__loader__)
            return iter([(f"{kind.__module__}.{kind.__qualname__}",)]), {"n": 1}

        def readBetweenOffsets(self, start, end):
            return self.read(start)[0]

    class LoaderSource(DataSource):
        @classmethod
        def name(cls):
            return "pyspark_loader_probe"

        def schema(self):
            return "importer string"

        def simpleStreamReader(self, schema):
            return LoaderReader()

    spark.dataSource.register(LoaderSource)
    run_to_completion(
        spark.readStream.format("pyspark_loader_probe").load()
        .writeStream.format("memory").queryName("pyspark_loader_probe")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    seen = spark.table("pyspark_loader_probe").collect()
    assert [r["importer"] for r in seen] == [
        "mysql_cdc_table_spark.worker_imports.StampedZipImporter"
    ]


def test_sink_abort_paths_clean_partial_output(tmp_path):
    """Failure hygiene: the batch writer's abort drops its .tmp debris
    (earlier committed files untouched); the stream writer's abort
    drops exactly the tmp files its messages name."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        MysqlBinlogStreamWriter,
        MysqlBinlogWriter,
        _BinlogWriteMsg,
    )

    opts = {
        "path": str(tmp_path), "schema_ddl": "id bigint",
        "database": "d", "table": "t",
    }
    (tmp_path / "binlog.000001").write_bytes(b"committed")
    (tmp_path / ".binlog.000002.tmp").write_bytes(b"partial")
    MysqlBinlogWriter(opts, overwrite=True).abort([])
    assert sorted(p.name for p in tmp_path.iterdir()) == ["binlog.000001"]

    (tmp_path / ".stream.abc.000001.tmp").write_bytes(b"p1")
    (tmp_path / ".stream.def.000002.tmp").write_bytes(b"p2")
    sw = MysqlBinlogStreamWriter(opts, overwrite=False)
    sw.abort([_BinlogWriteMsg(".stream.abc.000001.tmp"),
              _BinlogWriteMsg(None)], batchId=7)
    names = sorted(p.name for p in tmp_path.iterdir())
    # only the NAMED tmp went; the other task's tmp awaits ITS abort
    assert names == [".stream.def.000002.tmp", "binlog.000001"]


def test_sink_overwrite_reclaims_stale_files(spark, tmp_path):
    """The overwrite contract is total (round 9, ADVICE): a re-save
    that lands FEWER non-empty partitions must reclaim the previous
    save's extra binlog.* files — a reader lists everything in the
    directory and would otherwise silently mix the two saves' rows.
    Orphaned tmp debris from a dead attempt goes too; a co-located
    binlog.index is never treated as a stale data file."""
    import os

    from mysql_cdc_table_spark.cdc.queries import ORDERS_TARGET_SCHEMA
    from mysql_cdc_table_spark.cdc.synthetic import synthetic_changelog
    from mysql_cdc_table_spark.sources.datasource import register
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        mysql_binlog_read,
    )

    register(spark)
    cl = synthetic_changelog(spark, "/root/testdata/sf0.001")
    ddl = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    out = str(tmp_path / "binlogs")

    def save(parts):
        (
            cl.repartition(parts, "__gtid")
            .write.format("mysql_binlog")
            .option("schema_ddl", ddl)
            .option("database", "tpch")
            .option("table", "orders")
            .mode("overwrite")
            .save(out)
        )

    save(8)
    first = sorted(f for f in os.listdir(out) if f.startswith("binlog."))
    assert len(first) == 8
    # plant debris the second save must reclaim / must preserve
    orphan = os.path.join(out, ".binlog.000001.deadbeefcafe.tmp")
    with open(orphan, "wb") as fh:
        fh.write(b"dead attempt")
    idx = os.path.join(out, "binlog.index")
    with open(idx, "w") as fh:
        fh.write("\n".join(f"./{f}" for f in first))

    save(2)
    left = sorted(os.listdir(out))
    assert "binlog.index" in left          # preserved
    datafiles = [f for f in left if f.startswith("binlog.")
                 and not f.endswith(".index")]
    assert len(datafiles) <= 2             # stale 8-part files reclaimed
    assert not any(f.endswith(".tmp") for f in left)

    back = mysql_binlog_read(
        spark, out, ORDERS_TARGET_SCHEMA, "tpch", "orders"
    )
    assert back.count() == cl.count()      # not doubled, not mixed


def test_stream_writer_replayed_batch_no_rotate_cycle(tmp_path):
    """Crash between sink commit and checkpoint commit replays the
    micro-batch (round 9, ADVICE): on the second commit the directory
    already holds this batch's OWN files, and the seam link must still
    come from the PREVIOUS batch — never from the batch's replaced
    highest file, which would write a backward ROTATE (a cycle) and
    close the file that must stay open."""
    import os

    from pyspark.sql import types as T

    from mysql_cdc_table_spark.sources.mysql_binlog import (
        MysqlBinlogStreamWriter,
        _BinlogWriteMsg,
        binlog_chain_gaps,
        binlog_file_rotate_target,
        build_binlog_file,
    )

    tgt = T.StructType([T.StructField("id", T.LongType())])
    opts = {
        "path": str(tmp_path), "schema_ddl": "id bigint",
        "database": "d", "table": "t",
    }
    sw = MysqlBinlogStreamWriter(opts, overwrite=False)

    def blob(gno):
        return build_binlog_file(
            "d", "t", tgt, [{"gno": gno, "op": "w", "rows": [{"id": gno}]}],
            checksum=True,
        )

    def run_commit(batch_id, gnos):
        msgs = []
        for i, g in enumerate(gnos):
            tmp = f".stream.test{batch_id}a{i}.{i:06d}.tmp"
            with open(tmp_path / tmp, "wb") as fh:
                fh.write(blob(g))
            msgs.append(_BinlogWriteMsg(tmp))
        sw.commit(msgs, batchId=batch_id)

    run_commit(4, [1])                 # an earlier, sealed batch
    run_commit(5, [2, 3])              # first attempt of batch 5
    files = sorted(f for f in os.listdir(tmp_path) if f.startswith("binlog."))
    assert files == [
        "binlog.000000040001", "binlog.000000050001", "binlog.000000050002",
    ]
    run_commit(5, [2, 3])              # REPLAY of batch 5

    f40001, f50001, f50002 = (str(tmp_path / f) for f in files)
    # seam link: prior batch -> first of batch 5 (relinked after replace)
    assert binlog_file_rotate_target(f40001) == "binlog.000000050001"
    assert binlog_file_rotate_target(f50001) == "binlog.000000050002"
    # the invariant the bug broke: newest file has NO rotate target
    assert binlog_file_rotate_target(f50002) is None
    assert binlog_chain_gaps(str(tmp_path)) == []


def test_sink_tail_concurrent_relay(spark, tmp_path):
    """The engine as its own replication relay (round 9): a streaming
    mysql_binlog SINK produces a rotating series while a
    mysql_binlog_tail consumer reads the SAME directory CONCURRENTLY —
    live rotation seams, ROTATE appends racing the tail's cursor, tmp
    files appearing and renaming mid-listing. Every row written must
    arrive at the consumer exactly once, and the finished directory
    must audit as one continuous chain."""
    import os
    import time

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from mysql_cdc_table_spark.sources.datasource import register
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        binlog_chain_gaps,
        mysql_binlog_tail_stream,
    )

    register(spark)
    src_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    os.makedirs(src_dir)
    os.makedirs(out)
    in_schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )

    def put(name, lo, hi):
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(lo, hi)], in_schema
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src_dir, name)
        )

    put("f0", 0, 50)

    producer = (
        spark.readStream.schema(in_schema)
        .option("maxFilesPerTrigger", 1)   # one sink commit per wave
        .parquet(src_dir + "/*")
        .select(
            "k", "v",
            F.lit(1).alias("__op"),
            (F.col("k") + 1).alias("__gtid"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("__tm"),
            F.lit(1).alias("__file_seq"),
            F.col("k").alias("__event_seq"),
            F.lit(0).alias("__image_seq"),
        )
        .repartition(2, "__gtid")
        .writeStream.format("mysql_binlog")
        .option("schema_ddl", "k bigint, v string")
        .option("database", "d")
        .option("table", "t")
        .option("checkpointLocation", str(tmp_path / "ck_prod"))
        .trigger(processingTime="300 milliseconds")
        .start(out)
    )

    got: list = []
    consumer = (
        mysql_binlog_tail_stream(
            spark, out, "k bigint, v string", "d", "t"
        )
        .writeStream.foreachBatch(lambda df, _eid: got.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_cons"))
        .trigger(processingTime="150 milliseconds")
        .start()
    )

    try:
        # feed three more waves WHILE both queries run — each wave is a
        # new micro-batch, a new sink commit, a new rotation seam under
        # the consumer's feet
        for i, (lo, hi) in enumerate([(50, 100), (100, 150), (150, 200)]):
            time.sleep(0.7)
            put(f"f{i + 1}", lo, hi)
        deadline = time.time() + 60
        while time.time() < deadline:
            if len({r["k"] for r in got}) == 200:
                break
            time.sleep(0.3)
    finally:
        producer.stop()
        consumer.stop()

    keys = [r["k"] for r in got]
    assert sorted(set(keys)) == list(range(200)), (
        f"lost rows: {sorted(set(range(200)) - set(keys))[:10]}"
    )
    assert len(keys) == 200, "tail delivered duplicate rows across seams"
    assert binlog_chain_gaps(out) == []


def test_mysql_binlog_relay_filters_and_rechains(spark, tmp_path):
    """mysql_binlog_relay (round 9): a staged upstream series relays
    through tail -> filter -> sink into a NEW continuous rotating
    series — only the transactions passing the (transaction-stable)
    predicate arrive, the downstream chain audits gap-free, zstd
    re-compression applies on the way through, and a checkpointed
    second run relays only the new upstream file."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from mysql_cdc_table_spark.sources.datasource import register
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        binlog_chain_gaps,
        build_binlog_file,
        mysql_binlog_read,
        mysql_binlog_relay,
    )

    register(spark)
    src, dst, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "dst"), str(tmp_path / "ck")
    )
    os.makedirs(src)
    tgt = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )

    def put(name, lo, hi, rotate_to=None):
        txns = [
            {"gno": g, "op": "w", "rows": [{"id": g, "v": f"v{g}"}]}
            for g in range(lo, hi)
        ]
        blob = build_binlog_file(
            "d", "t", tgt, txns, checksum=True, rotate_to=rotate_to,
            previous_gtids={b"\x11" * 16: [(1, lo)]} if lo > 1 else None,
        )
        (tmp_path / "src" / name).write_bytes(blob)

    put("binlog.000001", 1, 41, rotate_to="binlog.000002")
    put("binlog.000002", 41, 81)

    def relay_once():
        q = mysql_binlog_relay(
            spark, src, dst, "id bigint, v string", "d", "t",
            checkpoint=ckpt,
            predicate=F.col("id") % 2 == 0,   # txn-stable (1-row txns)
            partitions=2,
            compression="zstd",
            available_now=True,
        )
        await_drained(q)

    relay_once()
    got = mysql_binlog_read(spark, dst, tgt, "d", "t")
    assert sorted(r["id"] for r in got.collect()) == list(range(2, 81, 2))
    assert binlog_chain_gaps(dst) == []

    # upstream rotates forward; the checkpointed relay ships ONLY the
    # new transactions, extending the downstream chain seamlessly
    put("binlog.000003", 81, 101)
    # the tail consumes rotated files; re-link the upstream chain
    relay_once()
    got2 = mysql_binlog_read(spark, dst, tgt, "d", "t")
    assert sorted(r["id"] for r in got2.collect()) == list(range(2, 101, 2))
    assert binlog_chain_gaps(dst) == []


# --- round 13: CHAR(n), TIME2 fsp>0, legacy temporals ------------------------


def test_time2_fsp_roundtrip_grid():
    """TIME2 at every fsp 0-6 x sign x fraction width — including the
    floor/truncation borrow for negative times with fractions
    (my_time.cc's my_time_packed_to_binary layout)."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _decode_time2,
        _encode_time2,
        _frac_bytes,
    )

    for fsp in range(7):
        for base in ["0:00:00", "8:03:07", "143:59:59", "838:59:59"]:
            for nd in range(fsp + 1):
                frac = "" if nd == 0 else "." + "987654"[:nd]
                for sign in ["", "-"]:
                    v = sign + base + frac
                    enc = _encode_time2(v, fsp)
                    assert len(enc) == 3 + _frac_bytes(fsp)
                    got, end = _decode_time2(enc, 0, fsp)
                    assert end == len(enc)
                    canon = (
                        base
                        if fsp == 0
                        else base + "." + ("987654"[:nd]).ljust(fsp, "0")
                    )
                    exp = sign + canon
                    if base == "0:00:00" and nd == 0:
                        exp = canon  # -0 has no wire sign
                    assert got == exp, (v, fsp, enc.hex(), got, exp)


def test_time2_fsp_overflow_and_range_raise():
    from mysql_cdc_table_spark.sources.mysql_binlog import _encode_time2

    with pytest.raises(ValueError, match="fractional digits"):
        _encode_time2("1:00:00.123", 2)  # 3 digits > fsp 2
    with pytest.raises(ValueError, match="out of range"):
        _encode_time2("839:00:00", 0)


def test_char_trailing_space_strip_and_overflow():
    """Field_string::pack strips trailing pad spaces — the decoded
    value is the stripped text; a value over the declared byte length
    raises instead of truncating."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _char_meta,
        _Col,
        _decode_col,
        _encode_col,
        TY_STRING,
    )

    col = _Col("c", TY_STRING, _char_meta(12))
    enc = _encode_col(col, "ab  ")
    assert enc == b"\x02ab"
    assert _decode_col(col, enc, 0) == ("ab", 2 + 1)

    # 2-byte prefix past 255 bytes
    big = _Col("c", TY_STRING, _char_meta(1000))
    enc = _encode_col(big, "z" * 300)
    assert enc[:2] == (300).to_bytes(2, "little")
    assert _decode_col(big, enc, 0) == ("z" * 300, 302)

    with pytest.raises(ValueError, match="exceeds"):
        _encode_col(col, "x" * 13)


def test_legacy_temporal_file_roundtrip():
    """Codes 7/11/12 through the full binlog v4 framing — one file,
    scalar decode, every legacy value reproduced."""
    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "ts", T.TimestampType(), metadata={"mysql_type": "timestamp_v1"}
            ),
            T.StructField(
                "dtm", T.TimestampType(), metadata={"mysql_type": "datetime_v1"}
            ),
            T.StructField(
                "dur", T.StringType(), metadata={"mysql_type": "time_v1"}
            ),
        ]
    )
    rows = [
        {
            "id": i,
            "ts": dt.datetime(1999, 12, 31, 23, 59, i % 60),
            "dtm": dt.datetime(1969, 7, 20, 20, 17, (i * 3) % 60),
            "dur": f"{'-' if i % 2 else ''}{i * 37 % 800}:{i % 60:02d}:{(i * 11) % 60:02d}",
        }
        for i in range(20)
    ]
    blob = build_binlog_file(
        "d", "t", target, [_txn(1, "w", rows)], checksum=True
    )
    got = decode_binlog_bytes(blob, target, "d", "t")
    assert len(got) == 20
    by_id = {r["id"]: r for r in got}
    for r in rows:
        g = by_id[r["id"]]
        assert g["ts"] == r["ts"], r["id"]
        assert g["dtm"] == r["dtm"], r["id"]
        exp = r["dur"]
        if exp == "-0:00:00":
            exp = "0:00:00"
        assert g["dur"] == exp, r["id"]


def test_char_in_full_metadata_inference(tmp_path):
    """binlog_row_metadata=FULL file with a CHAR column: the DDL-free
    inference derives the CHAR field (char_bytes from the packed
    metadata) and decode through the inferred schema reproduces the
    values."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        mysql_binlog_infer_target,
    )

    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "cc",
                T.StringType(),
                metadata={"mysql_type": "char", "char_len": 2},
            ),
            T.StructField(
                "tk",
                T.StringType(),
                metadata={"mysql_type": "time", "fsp": 2},
            ),
        ]
    )
    rows = [
        {"id": i, "cc": f"{chr(65 + i % 26)}X", "tk": f"{i}:{i % 60:02d}:05.{i % 100:02d}"}
        for i in range(10)
    ]
    blob = build_binlog_file(
        "d", "t", target, [_txn(1, "w", rows)], row_metadata="full"
    )
    inferred = mysql_binlog_infer_target(blob, "d", "t")
    f = {x.name: x for x in inferred.fields}
    assert f["cc"].metadata["mysql_type"] == "char"
    assert f["cc"].metadata["char_bytes"] == 8  # 2 chars x utf8mb4
    assert f["tk"].metadata == {"mysql_type": "time", "fsp": 2}
    got = decode_binlog_bytes(blob, inferred, "d", "t")
    by_id = {r["id"]: r for r in got}
    for r in rows:
        assert by_id[r["id"]]["cc"] == r["cc"]
        assert by_id[r["id"]]["tk"] == r["tk"]


def test_file_seq_rejects_rotation_numbers_past_int32():
    """__file_seq is IntegerType: a rotation number past int32 must fail
    loudly with the path, not wrap to a negative ordering key."""
    from mysql_cdc_table_spark.sources.mysql_binlog import _file_seq_of

    assert _file_seq_of("/logs/binlog.000042") == 42
    assert _file_seq_of("/logs/binlog.p7.000003") == 3
    assert _file_seq_of("/logs/binlog.2147483647") == 2**31 - 1
    with pytest.raises(ValueError, match=r"/logs/binlog\.2148000000"):
        _file_seq_of("/logs/binlog.2148000000")


@pytest.mark.parametrize("checksum", [True, False])
def test_corrupt_event_size_raises_instead_of_truncating(tmp_path, checksum):
    """A bit flip in a mid-file event's size field used to read as the
    active file's torn tail, so every walk stopped there and returned a
    silent prefix. The header's log_pos (the writer's end offset)
    disagrees with such a size: the kernel, the planner plus range
    decode, the DDL walk and the census all raise, naming the offset
    (and the path where they opened the file)."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        binlog_file_ddl,
        binlog_file_event_census,
        scan_binlog_splits_file,
    )
    from mysql_cdc_table_spark.sources.mysql_binlog_vec import (
        decode_binlog_record_batches,
    )

    r = lambda i: {"id": i, "v": "v" * (i % 30), "amt": Decimal(i)}
    txns = [_txn(i, "w", [r(i)]) for i in range(1, 201)]
    blob = build_binlog_file("d", "t", TARGET, txns, checksum=checksum)
    # the first 100 transactions frame a byte prefix of the file, so its
    # length is the offset of transaction 101's GTID event
    off = len(build_binlog_file("d", "t", TARGET, txns[:100], checksum=checksum))
    bad = bytearray(blob)
    bad[off + 12] ^= 0x80  # size u32 after ts u32, type u8, server_id u32
    bad = bytes(bad)
    path = tmp_path / "binlog.000001"
    path.write_bytes(bad)
    msg = f"corrupt event size .* at offset {off}"
    with pytest.raises(ValueError, match=msg):
        list(decode_binlog_record_batches(bad, TARGET, "d", "t"))
    with pytest.raises(ValueError, match=f"{path}: {msg}"):
        for s in scan_binlog_splits_file(str(path), 1024):
            list(
                decode_binlog_record_batches(
                    bad[s["start"] : s["end"]], TARGET, "d", "t",
                    init_state=s, seq_base=s["start"],
                )
            )
    for walk in (binlog_file_ddl, binlog_file_event_census):
        with pytest.raises(ValueError, match=f"{path}: {msg}"):
            walk(str(path))


@settings(max_examples=60, deadline=None)
@given(st.data())
def test_truncated_file_decodes_exactly_its_complete_events(data):
    """Cutting a writer-made file anywhere past its magic decodes
    exactly the rows of the events wholly before the cut, through the
    kernel and through the planner's ranges; strict mode raises unless
    the cut lands on an event boundary."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _events,
        scan_binlog_splits,
    )
    from mysql_cdc_table_spark.sources.mysql_binlog_vec import (
        decode_binlog_record_batches,
    )

    r = lambda i: {"id": i, "v": "v" * (i % 7), "amt": Decimal(i)}
    checksum = data.draw(st.booleans())
    blob = build_binlog_file(
        "d", "t", TARGET,
        [
            _txn(i, "u", [(r(i), r(i + 1))]) if i % 3 == 0
            else _txn(i, "w", [r(i)])
            for i in range(1, 16)
        ],
        checksum=checksum,
    )
    ends = {off: off + size for off, _t, _tc, size, _b, _c in _events(blob)}
    cut = data.draw(st.integers(4, len(blob)))
    head = blob[:cut]

    def rows(batches):  # in file order: batches group rows by kind
        return sorted(
            (row for b in batches for row in b.to_pylist()),
            key=lambda row: (row["__event_seq"], row["__image_seq"]),
        )

    full = rows(decode_binlog_record_batches(blob, TARGET, "d", "t"))
    want = [row for row in full if ends[row["__event_seq"]] <= cut]
    assert rows(decode_binlog_record_batches(head, TARGET, "d", "t")) == want
    ranged = []
    for s in scan_binlog_splits(head, 256):
        ranged += rows(
            decode_binlog_record_batches(
                head[s["start"] : s["end"]], TARGET, "d", "t",
                init_state=s, seq_base=s["start"],
            )
        )
    assert ranged == want
    if cut == 4 or cut in ends.values():
        rows(decode_binlog_record_batches(head, TARGET, "d", "t", mode="strict"))
    else:
        with pytest.raises(ValueError, match="truncated|trailing"):
            rows(
                decode_binlog_record_batches(
                    head, TARGET, "d", "t", mode="strict"
                )
            )


_TARGET_DDL = "id bigint, v string, amt decimal(10,2)"


def _stat_plan_blob(checksum):
    r = lambda i: {"id": i, "v": "v" * (i % 7), "amt": Decimal(i)}
    return build_binlog_file(
        "d", "t", TARGET, [_txn(i, "w", [r(i)]) for i in range(1, 16)],
        checksum=checksum,
    )


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_stat_planned_file_gets_the_walks_one_spec(tmp_path_factory, data):
    """With no GTID bound and split_bytes >= size, the planner yields
    the one spec the header walk would, from a stat: whole files and
    files cut anywhere past the magic, CRC on and off."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _binlog_window,
        _window_ranges,
        scan_binlog_splits_file,
    )

    blob = _stat_plan_blob(data.draw(st.booleans()))
    cut = data.draw(st.one_of(st.just(len(blob)), st.integers(4, len(blob))))
    path = tmp_path_factory.mktemp("stat") / "binlog.000001"
    path.write_bytes(blob[:cut])
    split_bytes = data.draw(st.integers(cut, 4 * len(blob)))
    w = _binlog_window(
        {"database": "d", "table": "t", "schema_ddl": _TARGET_DDL}
    )
    got = list(_window_ranges([str(path)], w, split_bytes))
    assert got == [
        (str(path), s) for s in scan_binlog_splits_file(str(path), split_bytes)
    ]


def test_format_reader_walks_only_files_it_must_cut_or_bound(
    tmp_path, monkeypatch
):
    """format("mysql_binlog")'s planner header-walks no file of an
    unbounded read that fits in split_bytes; a larger file, or any file
    of a GTID-bounded read, still walks."""
    from mysql_cdc_table_spark.sources import mysql_binlog as mbm

    sizes = []
    for seq, checksum in ((1, True), (2, False)):
        blob = _stat_plan_blob(checksum)
        (tmp_path / f"binlog.{seq:06d}").write_bytes(blob)
        sizes.append(len(blob))

    walked = []

    def no_walk(path, *a, **kw):
        walked.append(path)
        raise AssertionError(f"header walk of {path}")

    monkeypatch.setattr(mbm, "scan_binlog_splits_file", no_walk)
    mbm._SPLIT_MEM_CACHE.clear()
    opts = {
        "path": str(tmp_path), "database": "d", "table": "t",
        "schema_ddl": _TARGET_DDL, "split_bytes": str(max(sizes)),
    }
    parts = mbm.MysqlBinlogReader(opts).partitions()
    ranges = [
        (p, s["start"], s["end"]) for part in parts for p, _q, s in part.ranges
    ]
    assert ranges == [
        (str(tmp_path / f"binlog.{i + 1:06d}"), 4, size)
        for i, size in enumerate(sizes)
    ]
    assert walked == []
    for bounded in (
        {"split_bytes": str(min(sizes) - 1)},
        {"stop_at_gno": "8"},
        {"start_after_gno": "3"},
    ):
        with pytest.raises(AssertionError, match="header walk"):
            mbm.MysqlBinlogReader({**opts, **bounded}).partitions()


@pytest.mark.parametrize("fault", ["magic", "size"])
def test_stat_planned_file_fails_naming_path(spark, tmp_path, fault):
    """A stat-planned file is still checked: bad magic fails at
    planning, a corrupt event size when its range decodes, and both
    errors name the file (the size error also the event offset)."""
    r = lambda i: {"id": i, "v": "v" * (i % 30), "amt": Decimal(i)}
    txns = [_txn(i, "w", [r(i)]) for i in range(1, 201)]
    blob = bytearray(build_binlog_file("d", "t", TARGET, txns, checksum=True))
    path = tmp_path / "binlog.000001"
    if fault == "magic":
        blob[:4] = b"\xfebim"
        wants = [f"{path}: not a binlog file (bad magic)"]
    else:
        off = len(
            build_binlog_file("d", "t", TARGET, txns[:100], checksum=True)
        )
        blob[off + 12] ^= 0x80  # as in the corrupt event size test
        # the kernel names the offset, the reader's note the range
        wants = [f"offset {off}", f"{path}: bytes 4..{len(blob)}"]
    path.write_bytes(bytes(blob))
    with pytest.raises(Exception) as ei:
        mysql_binlog_read(spark, str(tmp_path), TARGET, "d", "t").collect()
    msg = "\n".join([str(ei.value), *getattr(ei.value, "__notes__", ())])
    assert all(want in msg for want in wants), msg


def test_format_reader_with_nothing_to_read_returns_no_rows(spark, tmp_path):
    """format("mysql_binlog") over an empty directory, or with a
    start_after_gno past the series' last transaction, plans no
    partition; Spark then reads one None partition, which yields zero
    rows under the declared schema."""
    from mysql_cdc_table_spark.sources.datasource import register

    register(spark)
    ddl = "id bigint, v string, amt decimal(10,2)"
    empty = tmp_path / "empty"
    empty.mkdir()
    d = tmp_path / "logs"
    d.mkdir()
    r = lambda i: {"id": i, "v": f"v{i}", "amt": Decimal(i)}
    (d / "binlog.000001").write_bytes(
        build_binlog_file(
            "d", "t", TARGET, [_txn(i, "w", [r(i)]) for i in range(1, 6)],
            previous_gtids={},
        )
    )

    def fmt(path, **opts):
        rd = (
            spark.read.format("mysql_binlog")
            .option("schema_ddl", ddl)
            .option("database", "d")
            .option("table", "t")
        )
        for k, v in opts.items():
            rd = rd.option(k, str(v))
        return rd.load(str(path))

    assert fmt(d).count() == 5
    for df in (fmt(empty), fmt(d, start_after_gno=99)):
        assert df.collect() == []
        assert df.columns[:3] == ["id", "v", "amt"]


def test_fixtures_decode_on_kernel_and_streams_wait_bounded():
    """Static guard over the package source and the tests. Registry
    fixtures decode through the production columnar kernel: only the
    scalar walk's own internals and the deliberate kernel-vs-walk
    parity keys may call ``decode_binlog_bytes``. Only the one event
    walk, ``_events``, reads the 19-byte event header. And no stream
    wait is unbounded: every ``awaitTermination`` carries a timeout
    (``run_to_completion`` / ``await_drained``)."""
    import ast
    import pathlib

    repo = pathlib.Path(__file__).resolve().parents[1]
    root = repo / "mysql_cdc_table_spark"
    allowed = {
        # the walk's internals: the kernel runs it for headers/state
        ("sources/mysql_binlog_vec.py", "decode_binlog_record_batches"),
        # parity keys: the walk is the reference model the kernel is
        # held to (a `kernel` oracle column / a shared oracle)
        ("operators/round15.py", "cdc_binlog_gbk_roundtrip"),
        ("sources/mysql_binlog.py", "cdc_binlog_ddl_schema_decode"),
    }
    walk_callers, header_readers, untimed = set(), set(), []
    files = sorted(root.rglob("*.py")) + sorted((repo / "tests").glob("*.py"))
    for path in files:
        rel = path.relative_to(root if root in path.parents else repo)
        rel = rel.as_posix()
        for top in ast.parse(path.read_text(), filename=str(path)).body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Attribute)
                    and node.attr in ("unpack", "unpack_from")
                    and getattr(node.value, "id", None) == "_HEADER"
                ):
                    header_readers.add((rel, getattr(top, "name", "<module>")))
                if not isinstance(node, ast.Call):
                    continue
                fn = node.func
                name = getattr(fn, "id", None) or getattr(fn, "attr", None)
                if name == "decode_binlog_bytes" and root in path.parents:
                    walk_callers.add((rel, getattr(top, "name", "<module>")))
                elif name == "awaitTermination" and not (
                    node.args or node.keywords
                ):
                    untimed.append(f"{rel}:{node.lineno}")
    assert walk_callers - allowed == set()
    assert header_readers == {("sources/mysql_binlog.py", "_events")}
    assert untimed == []
