"""Columnar (numpy/Arrow) binlog value decode vs the scalar walk.

The round-6 kernel (sources/mysql_binlog_vec.py) must emit exactly the
rows ``decode_binlog_bytes`` emits — same values, same metadata keys —
for the full MySQL wire-type matrix, update/minimal images, multi-row
events, checksummed files, TRANSACTION_PAYLOAD wrappers, schema
evolution, and the PARTIAL_UPDATE_ROWS scalar-remainder path. Row
ORDER may differ (image-round grouping); compare on the explicit
(__event_seq, __image_seq) ordering keys, the changelog contract.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from mysql_cdc_table_spark.sources import mysql_binlog as mb
from mysql_cdc_table_spark.sources.mysql_binlog import (
    build_binlog_file,
    decode_binlog_bytes,
    mysql_binlog_read,
)
from mysql_cdc_table_spark.sources.mysql_binlog_vec import (
    decode_binlog_pandas,
)
from tests._tail_rows import tail_rows

RICH = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("b", T.ByteType()),
        T.StructField("s", T.ShortType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("f", T.FloatType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("v", T.StringType()),
        T.StructField("vl", T.StringType(), metadata={"varchar_len": 1000}),
        T.StructField("amt", T.DecimalType(10, 2)),
        T.StructField("big", T.DecimalType(30, 5)),
        T.StructField("bin", T.BinaryType()),
        T.StructField("dtm", T.TimestampType()),
        T.StructField("dte", T.DateType()),
        T.StructField(
            "m", T.IntegerType(), metadata={"mysql_type": "mediumint"}
        ),
        T.StructField("tm", T.StringType(), metadata={"mysql_type": "time"}),
        T.StructField("yr", T.IntegerType(), metadata={"mysql_type": "year"}),
        T.StructField(
            "bits", T.LongType(), metadata={"mysql_type": "bit", "bits": 20}
        ),
        T.StructField(
            "en",
            T.StringType(),
            metadata={"mysql_type": "enum", "values": ["a", "b", "c"]},
        ),
        T.StructField(
            "st",
            T.StringType(),
            metadata={"mysql_type": "set", "values": ["x", "y", "z"]},
        ),
        T.StructField("doc", T.StringType(), metadata={"mysql_type": "json"}),
        T.StructField(
            "geo", T.BinaryType(), metadata={"mysql_type": "geometry"}
        ),
        # round 13: fixed-width CHAR(n) — short form (1-byte prefix)
        # and long form (byte length > 255 -> 2-byte prefix + packed
        # high bits in the metadata)
        T.StructField(
            "ch", T.StringType(), metadata={"mysql_type": "char", "char_len": 4}
        ),
        T.StructField(
            "chl",
            T.StringType(),
            metadata={"mysql_type": "char", "char_len": 250},
        ),
        # round 13: TIME2 with fractional seconds (negative values
        # exercise the int-part/fraction sign borrow)
        T.StructField(
            "tm3",
            T.StringType(),
            metadata={"mysql_type": "time", "fsp": 3},
        ),
        T.StructField(
            "tm6",
            T.StringType(),
            metadata={"mysql_type": "time", "fsp": 6},
        ),
        # round 13: legacy pre-5.6.4 temporal formats (codes 7/11/12)
        T.StructField(
            "ts1",
            T.TimestampType(),
            metadata={"mysql_type": "timestamp_v1"},
        ),
        T.StructField(
            "dt1",
            T.TimestampType(),
            metadata={"mysql_type": "datetime_v1"},
        ),
        T.StructField(
            "tv1", T.StringType(), metadata={"mysql_type": "time_v1"}
        ),
        # round 13: TEXT — the BLOB wire code with a string surface
        T.StructField(
            "txt", T.StringType(), metadata={"mysql_type": "text"}
        ),
    ]
)


def _rich_row(i: int) -> dict:
    return {
        "id": i,
        "b": (i % 200) - 100,
        "s": i * 3 % 30000 - 15000,
        "i": i * 7 - 100,
        "f": float(i) / 2,
        "d": i * 1.25,
        "v": f"v{i}",
        "vl": "x" * (i % 300),
        "amt": Decimal(f"{i}.25"),
        "big": Decimal(f"123456789012345678901234.{i % 10:05d}"),
        "bin": bytes([i % 256, 1, 2]),
        "dtm": dt.datetime(
            2024, 1 + i % 12, 1 + i % 28, i % 24, i % 60, i % 60,
            (i * 1000) % 1_000_000,
        ),
        "dte": dt.date(2020 + i % 5, 1 + i % 12, 1 + i % 28),
        "m": (i * 31) % (1 << 23) - (1 << 22),
        "tm": f"{i % 800}:{i % 60:02d}:{i % 60:02d}",
        "yr": 1990 + i % 50,
        "bits": (i * 7919) % (1 << 20),
        "en": ["a", "b", "c"][i % 3],
        "st": ["x", "x,y", "", "x,y,z"][i % 4],
        "doc": f'{{"k": {i}, "s": "t{i}"}}',
        "geo": bytes([0, 0, 0, 0]) + bytes([i % 256]) * 5,
        "ch": f"c{i % 100}",
        "chl": "y" * (i % 200),
        "tm3": (
            f"{'-' if i % 3 == 0 else ''}{i % 300}:{i % 60:02d}:"
            f"{(i * 7) % 60:02d}.{i % 1000:03d}"
        ),
        "tm6": f"{i % 10}:{i % 60:02d}:{i % 60:02d}.{(i * 37) % 1000000:06d}",
        "ts1": dt.datetime(2001, 1 + i % 12, 1 + i % 28, i % 24, i % 60, i % 60),
        "dt1": dt.datetime(
            1975 + i % 40, 1 + i % 12, 1 + i % 28, i % 24, i % 60, (i * 3) % 60
        ),
        "tv1": f"{'-' if i % 4 == 0 else ''}{i % 500}:{i % 60:02d}:{(i * 11) % 60:02d}",
        "txt": ("t\u00e9xt-" + "y" * (i % 300)) if i % 6 else "",
    }


def _assert_same(scalar_rows: list[dict], pdf: pd.DataFrame, target) -> None:
    names = list(pdf.columns)
    spdf = pd.DataFrame({n: [r.get(n) for r in scalar_rows] for n in names})
    key = ["__event_seq", "__image_seq"]
    a = spdf.sort_values(key).reset_index(drop=True)
    b = pdf.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b)
    for n in names:
        for j in range(len(a)):
            av, bv = a[n][j], b[n][j]
            if av is None:
                assert bv is None or bv != bv, (n, j, bv)
            elif isinstance(av, float):
                # pandas renders a NULL in a numeric column as NaN on
                # both sides — that's agreement, not divergence
                assert (av != av and bv != bv) or math.isclose(
                    av, bv, rel_tol=1e-6
                ), (n, j, av, bv)
            elif isinstance(av, (dt.datetime, dt.date)):
                assert pd.Timestamp(av) == pd.Timestamp(bv), (n, j, av, bv)
            elif isinstance(av, bytes):
                assert bytes(bv) == av, (n, j, av, bv)
            else:
                assert av == bv, (n, j, av, bv)


def _mixed_txns():
    rows = [_rich_row(i) for i in range(40)]
    for i, r in enumerate(rows):
        if i % 5 == 0:
            r["v"] = None
            r["doc"] = None
            r["amt"] = None
            r["dte"] = None
    return [
        {"gno": 1, "op": "w", "rows": rows[:15]},
        {
            "gno": 2,
            "op": "u",
            "rows": [(rows[k], rows[k + 15]) for k in range(10)],
        },
        {"gno": 3, "op": "d", "rows": rows[30:]},
    ]


@pytest.mark.parametrize("checksum", [False, True])
def test_columnar_matches_scalar_rich_matrix(checksum):
    blob = build_binlog_file("d", "t", RICH, _mixed_txns(), checksum=checksum)
    scalar = decode_binlog_bytes(blob, RICH, "d", "t")
    pdf = decode_binlog_pandas(blob, RICH, "d", "t")
    assert len(scalar) == 45  # 15 ins + 10x2 upd images + 10 del
    _assert_same(scalar, pdf, RICH)


def test_columnar_matches_scalar_payload_wrap_and_uuid_gno():
    blob = build_binlog_file(
        "d", "t", RICH, _mixed_txns(), payload_wrap=True
    )
    scalar = decode_binlog_bytes(
        blob, RICH, "d", "t", gtid_format="uuid_gno"
    )
    pdf = decode_binlog_pandas(blob, RICH, "d", "t", gtid_format="uuid_gno")
    assert "__gtid_src" in pdf.columns
    _assert_same(scalar, pdf, RICH)


def test_columnar_partial_update_scalar_remainder():
    """PARTIAL_UPDATE_ROWS events decode on the scalar walk and merge
    back into the columnar output; surrounding full events stay
    vectorized."""
    tgt = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "doc", T.StringType(), metadata={"mysql_type": "json"}
            ),
        ]
    )
    r1 = {"id": 1, "doc": '{"a": 1, "b": "x"}'}
    r1b = {"id": 1, "doc": '{"a": 2, "b": "x"}'}
    txns = [
        {"gno": 1, "op": "w", "rows": [r1]},
        {
            "gno": 2,
            "op": "pu",
            "rows": [(r1, r1b, {"doc": [("replace", "$.a", 2)]})],
        },
    ]
    blob = build_binlog_file("d", "t", tgt, txns)
    scalar = decode_binlog_bytes(blob, tgt, "d", "t")
    pdf = decode_binlog_pandas(blob, tgt, "d", "t")
    _assert_same(scalar, pdf, tgt)
    assert sorted(pdf["__op"].tolist()) == [1, 2, 3]


def test_columnar_schema_evolution_prefix_map():
    old = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    new = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("amt", T.DecimalType(10, 2)),
        ]
    )
    blob_old = build_binlog_file(
        "d", "t", old, [{"gno": 1, "op": "w", "rows": [{"id": 1, "v": "a"}]}]
    )
    blob_new = build_binlog_file(
        "d",
        "t",
        new,
        [
            {
                "gno": 2,
                "op": "w",
                "rows": [{"id": 2, "v": "b", "amt": Decimal("2.50")}],
            }
        ],
    )
    stream = blob_old + blob_new[4:]
    scalar = decode_binlog_bytes(stream, new, "d", "t")
    pdf = decode_binlog_pandas(stream, new, "d", "t")
    _assert_same(scalar, pdf, new)
    got = pdf.sort_values("id")
    assert got["amt"].tolist()[0] is None or got["amt"].isna().tolist() == [
        True,
        False,
    ]


def test_columnar_minimal_before_images():
    """binlog_row_image=MINIMAL: before-images carry only the key column
    — the update groups split by present-bitmap pair and both decode."""
    tgt = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    pairs = [
        ({"id": k, "v": f"x{k}"}, {"id": k, "v": f"y{k}"}) for k in range(6)
    ]
    txns = [
        {"gno": 1, "op": "u", "rows": pairs[:3], "before_present": [0]},
        {"gno": 2, "op": "u", "rows": pairs[3:]},
    ]
    blob = build_binlog_file("d", "t", tgt, txns)
    scalar = decode_binlog_bytes(blob, tgt, "d", "t")
    pdf = decode_binlog_pandas(blob, tgt, "d", "t")
    _assert_same(scalar, pdf, tgt)


def test_columnar_corrupt_body_raises():
    """A rows event whose image overruns its body must failfast, not
    emit garbage (same contract as the scalar walk's slicing)."""
    tgt = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    blob = bytearray(
        build_binlog_file(
            "d",
            "t",
            tgt,
            [{"gno": 1, "op": "w", "rows": [{"id": 1, "v": "hello"}]}],
        )
    )
    # corrupt the varchar length prefix of the last event's value
    # section: claim far more bytes than the body holds
    idx = bytes(blob).rfind(b"hello")
    blob[idx - 1] = 250
    with pytest.raises(ValueError, match="corrupt|overrun"):
        decode_binlog_pandas(bytes(blob), tgt, "d", "t")


def test_spark_columnar_equals_scalar_read(spark, tmp_path):
    """End-to-end through the Spark scan: mysql_binlog_read (columnar
    mapInArrow) vs the driver-side scalar walk ``decode_binlog_bytes``,
    the reference the kernel is held to. The reference rows enter Spark
    through createDataFrame so both sides collect with the same type
    conversions."""
    blob = build_binlog_file("d", "t", RICH, _mixed_txns(), checksum=True)
    (tmp_path / "binlog.000001").write_bytes(blob)
    df = mysql_binlog_read(spark, str(tmp_path), RICH, "d", "t")
    ref = spark.createDataFrame(
        [
            tuple(r.get(n) for n in df.columns)
            for r in decode_binlog_bytes(blob, RICH, "d", "t", file_seq=1)
        ],
        df.schema,
    )
    key = ["__event_seq", "__image_seq"]
    a = df.toPandas().sort_values(key).reset_index(drop=True)
    b = ref.toPandas().sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a, b)


def test_gather_bytes_vec_corrupt_length_bound():
    """Claimed value lengths that sum past the chunk raise before any
    gather index is allocated (the corrupt-length OOM guard); honest
    lengths gather into the Arrow varbinary layout."""
    import numpy as np

    from mysql_cdc_table_spark.sources.mysql_binlog_vec import (
        _gather_bytes_vec,
    )

    u8 = np.frombuffer(b"abcdefgh", np.uint8)
    data, offsets = _gather_bytes_vec(
        u8, np.array([0, 5]), np.array([3, 2])
    )
    assert data.tobytes() == b"abcfg" and offsets.tolist() == [0, 3, 5]
    with pytest.raises(ValueError, match="corrupt length prefixes"):
        _gather_bytes_vec(u8, np.array([0, 1]), np.array([8, 1 << 40]))


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(-(2**63), 2**63 - 1),
            st.text(max_size=40),
            st.integers(-(1 << 23), (1 << 23) - 1),
            st.booleans(),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_columnar_vs_scalar_property(rows):
    """Hypothesis: arbitrary values through a mixed fixed/varlen schema
    decode identically on both paths (incl. None via the flag)."""
    tgt = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField(
                "m", T.IntegerType(), metadata={"mysql_type": "mediumint"}
            ),
        ]
    )
    recs = [
        {"id": i64, "v": None if none else s, "m": m}
        for (i64, s, m, none) in rows
    ]
    blob = build_binlog_file(
        "d", "t", tgt, [{"gno": 1, "op": "w", "rows": recs}]
    )
    scalar = decode_binlog_bytes(blob, tgt, "d", "t")
    pdf = decode_binlog_pandas(blob, tgt, "d", "t")
    _assert_same(scalar, pdf, tgt)


def test_columnar_zero_date_failfast():
    """MySQL zero-dates (0000-00-00, a real legacy-data path) must
    raise on the columnar path exactly like the scalar walk does
    (datetime.date(0,0,0) raises there) — not silently emit an ancient
    bogus date32."""
    import datetime as dtm

    tgt = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("d", T.DateType())]
    )
    blob = bytearray(
        build_binlog_file(
            "d",
            "t",
            tgt,
            [
                {
                    "gno": 1,
                    "op": "w",
                    "rows": [{"id": 1, "d": dtm.date(2020, 1, 1)}],
                }
            ],
        )
    )
    packed = (2020 << 9) | (1 << 5) | 1
    needle = packed.to_bytes(3, "little")
    idx = bytes(blob).rfind(needle)
    assert idx > 0
    blob[idx : idx + 3] = b"\x00\x00\x00"  # 0000-00-00
    with pytest.raises(Exception):
        decode_binlog_bytes(bytes(blob), tgt, "d", "t")  # scalar raises
    with pytest.raises(ValueError, match="invalid DATE"):
        decode_binlog_pandas(bytes(blob), tgt, "d", "t")  # vec must too


def test_tail_reader_carry_state_incremental_and_pruned(tmp_path):
    """The O(delta) tail carry: (a) a mid-file resume decodes only the
    delta yet produces the same rows as a fresh walk, (b) the cached
    carry watermark advances monotonically, (c) commit() prunes carry
    entries for rotated-away files."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        MysqlBinlogTailStreamReader,
    )

    tgt_ddl = "id bigint, v string"
    tgt = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    d = tmp_path / "logs"
    d.mkdir()
    txns = [
        {"gno": g, "op": "w", "rows": [{"id": g, "v": f"x{g}"}]}
        for g in range(1, 6)
    ]
    full = build_binlog_file("d", "t", tgt, txns)
    part = build_binlog_file("d", "t", tgt, txns[:3])
    (d / "binlog.000001").write_bytes(part)

    r = MysqlBinlogTailStreamReader(
        {"path": str(d), "schema_ddl": tgt_ddl, "database": "d", "table": "t"}
    )
    b1, off1 = r._delta(r.initialOffset())
    rows1 = tail_rows(b1)
    assert [t_[0] for t_ in rows1] == [1, 2, 3]
    assert r._carry == {}  # first read starts at file head, no carry yet

    (d / "binlog.000001").write_bytes(full)
    b2, off2 = r._delta(off1)
    rows2 = tail_rows(b2)
    assert [t_[0] for t_ in rows2] == [4, 5]  # only the delta
    assert 1 in r._carry and r._carry[1][0] == off1["pos"]

    # replay between offsets must equal the live read (determinism)
    replay = tail_rows(r.readBetweenOffsets(off1, off2))
    assert [t_[0] for t_ in replay] == [4, 5]

    # rotation: new file appears; after commit the old carry is pruned
    (d / "binlog.000002").write_bytes(
        build_binlog_file(
            "d", "t", tgt, [{"gno": 9, "op": "w", "rows": [{"id": 9, "v": "z"}]}]
        )
    )
    b3, off3 = r._delta(off2)
    rows3 = tail_rows(b3)
    assert [t_[0] for t_ in rows3] == [9]
    r.commit(off3)
    assert 1 not in r._carry


def test_columnar_day_in_month_invalid_failfast():
    """2021-02-30 is storable under MySQL ALLOW_INVALID_DATES; the
    scalar walk raises from datetime.date — the columnar path must
    raise too, never emit a silently shifted date."""
    import datetime as dtm

    tgt = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("d", T.DateType())]
    )
    blob = bytearray(
        build_binlog_file(
            "d",
            "t",
            tgt,
            [
                {
                    "gno": 1,
                    "op": "w",
                    "rows": [{"id": 1, "d": dtm.date(2021, 2, 28)}],
                }
            ],
        )
    )
    packed = (2021 << 9) | (2 << 5) | 28
    needle = packed.to_bytes(3, "little")
    idx = bytes(blob).rfind(needle)
    assert idx > 0
    bad = (2021 << 9) | (2 << 5) | 30  # 2021-02-30
    blob[idx : idx + 3] = bad.to_bytes(3, "little")
    with pytest.raises(Exception):
        decode_binlog_bytes(bytes(blob), tgt, "d", "t")  # scalar raises
    with pytest.raises(ValueError, match="invalid DATE"):
        decode_binlog_pandas(bytes(blob), tgt, "d", "t")


@pytest.mark.parametrize(
    "prec,scale",
    [
        (5, 0), (9, 9), (10, 2), (18, 4), (18, 0), (19, 2), (28, 6),
        (30, 10), (38, 0), (38, 38), (37, 19), (27, 9),
    ],
)
def test_columnar_newdecimal_matrix(prec, scale):
    """Vectorized NEWDECIMAL — the int64 path (precision ≤18) AND the
    round-7 two-limb decimal128 path (19-38) — matches the scalar walk
    across sign, zero, and the digit-group boundaries
    (leading/trailing partial groups, full-group-only layouts)."""
    tgt = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("d", T.DecimalType(prec, scale)),
        ]
    )
    intg = prec - scale
    # build via literals: unary minus on a Decimal would round through
    # Python's default 28-digit context and silently change the value
    big_s = ("9" * intg if intg else "0") + (
        "." + "9" * scale if scale else ""
    )
    vals = [
        Decimal(0),
        Decimal(big_s),
        Decimal("-" + big_s),
        Decimal(1).scaleb(-scale) if scale else Decimal(1),
        Decimal("-1" + "0" * (intg - 1)) if intg >= 1 else Decimal("-0." + "0" * (scale - 1) + "1"),
    ]
    rows = [{"id": i, "d": v} for i, v in enumerate(vals)]
    rows.append({"id": len(rows), "d": None})
    blob = build_binlog_file(
        "d", "t", tgt, [{"gno": 1, "op": "w", "rows": rows}]
    )
    scalar = decode_binlog_bytes(blob, tgt, "d", "t")
    pdf = decode_binlog_pandas(blob, tgt, "d", "t")
    _assert_same(scalar, pdf, tgt)


@settings(max_examples=30, deadline=None)
@given(
    st.integers(1, 38).flatmap(
        lambda p: st.tuples(
            st.just(p),
            st.integers(0, p),
            st.lists(
                st.decimals(
                    allow_nan=False,
                    allow_infinity=False,
                    places=0,
                    min_value=-(10**p) + 1,
                    max_value=10**p - 1,
                ),
                min_size=1,
                max_size=6,
            ),
        )
    )
)
def test_columnar_newdecimal_property(ps_vals):
    """Hypothesis: random unscaled values across random (precision,
    scale) decode identically on the vectorized and scalar paths."""
    prec, scale, raw = ps_vals
    tgt = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("d", T.DecimalType(prec, scale)),
        ]
    )
    # scaleb under the DEFAULT 28-digit context silently rounds 29+
    # digit unscaled values (exactly the class this fuzz now draws) —
    # widen, as the writer itself does
    import decimal as _dec

    ctx = _dec.Context(prec=50)
    vals = [Decimal(v).scaleb(-scale, context=ctx) for v in raw]
    rows = [{"id": i, "d": v} for i, v in enumerate(vals)]
    blob = build_binlog_file(
        "d", "t", tgt, [{"gno": 1, "op": "w", "rows": rows}]
    )
    scalar = decode_binlog_bytes(blob, tgt, "d", "t")
    pdf = decode_binlog_pandas(blob, tgt, "d", "t")
    _assert_same(scalar, pdf, tgt)


def _patched_blob(tgt, rows, needle: bytes, replacement: bytes) -> bytes:
    """Build an (unchecksummed) file and byte-patch the last occurrence
    of `needle` — simulating on-disk corruption a binlog_checksum=NONE
    file cannot catch, the advisor's round-7 failfast-parity scenario."""
    blob = bytearray(
        build_binlog_file("d", "t", tgt, [{"gno": 1, "op": "w", "rows": rows}])
    )
    idx = bytes(blob).rfind(needle)
    assert idx > 0, "wire needle not found in fixture"
    blob[idx : idx + len(replacement)] = replacement
    return bytes(blob)


def test_columnar_datetime2_hour_failfast():
    """The DATETIME2 wire packs hour in 5 bits (0-31): hour 24-31 is
    storable by a corrupt writer. The scalar walk raises from
    datetime.datetime(..., hour=24); the columnar path must raise too,
    never silently emit a shifted timestamp (advisor finding)."""
    import datetime as dtm

    tgt = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("dtm", T.TimestampType()),
        ]
    )
    v = dtm.datetime(2021, 3, 4, 5, 6, 7)
    good = mb._encode_datetime2(v, 6)[:5]
    bad = mb._encode_datetime2(v.replace(hour=8), 6)[:5]
    # hour=8 (0b01000) -> patch bit pattern to 24 (0b11000) by hand:
    intpart = int.from_bytes(bad, "big") - 0x8000000000
    intpart = (intpart & ~(0x1F << 12)) | (24 << 12)
    bad = (intpart + 0x8000000000).to_bytes(5, "big")
    blob = _patched_blob(tgt, [{"id": 1, "dtm": v}], good, bad)
    with pytest.raises(Exception):
        decode_binlog_bytes(blob, tgt, "d", "t")  # scalar raises
    with pytest.raises(ValueError, match="invalid DATETIME2"):
        decode_binlog_pandas(blob, tgt, "d", "t")


def test_columnar_datetime2_minute_second_failfast():
    """minute/second occupy 6 bits (0-63) on the wire: 60-63 must
    failfast on both paths."""
    import datetime as dtm

    tgt = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("dtm", T.TimestampType()),
        ]
    )
    v = dtm.datetime(2021, 3, 4, 5, 6, 7)
    good = mb._encode_datetime2(v, 6)[:5]
    intpart = int.from_bytes(good, "big") - 0x8000000000
    intpart = (intpart & ~(0x3F << 6)) | (61 << 6)  # minute=61
    bad = (intpart + 0x8000000000).to_bytes(5, "big")
    blob = _patched_blob(tgt, [{"id": 1, "dtm": v}], good, bad)
    with pytest.raises(Exception):
        decode_binlog_bytes(blob, tgt, "d", "t")
    with pytest.raises(ValueError, match="invalid DATETIME2"):
        decode_binlog_pandas(blob, tgt, "d", "t")


def test_columnar_datetime2_frac_overflow_failfast():
    """fsp=6 stores the fraction in 3 big-endian bytes (max 16777215);
    any value >= 10^6 would overflow microseconds into seconds on the
    vectorized multiply. The scalar walk raises from microsecond= —
    the columnar path must raise too."""
    import datetime as dtm

    tgt = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("dtm", T.TimestampType()),
        ]
    )
    v = dtm.datetime(2021, 3, 4, 5, 6, 7, 123456)
    good = mb._encode_datetime2(v, 6)  # 5 intpart + 3 frac bytes
    bad = good[:5] + b"\xff\xff\xff"  # frac = 16777215 >= 10^6
    blob = _patched_blob(tgt, [{"id": 1, "dtm": v}], good, bad)
    with pytest.raises(Exception):
        decode_binlog_bytes(blob, tgt, "d", "t")
    with pytest.raises(ValueError, match="invalid DATETIME2"):
        decode_binlog_pandas(blob, tgt, "d", "t")


def test_columnar_varchar_invalid_utf8_failfast():
    """Vectorized VARCHAR builds pa.string() via from_buffers, which
    skips UTF-8 validation; the scalar path's bytes.decode('utf-8')
    raises on invalid bytes. The columnar path must validate(full=True)
    so malformed payloads fail fast instead of flowing into Spark as a
    corrupt string column (advisor finding)."""
    tgt = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    blob = _patched_blob(
        tgt, [{"id": 1, "v": "abcd"}], b"\x04abcd", b"\x04\xff\xfe\xfd\xfc"
    )
    with pytest.raises(Exception):
        decode_binlog_bytes(blob, tgt, "d", "t")  # UnicodeDecodeError
    with pytest.raises(Exception):
        decode_binlog_pandas(blob, tgt, "d", "t")  # pa.ArrowInvalid


def test_tail_reader_rotation_race_no_loss_no_double(tmp_path):
    """Rotation race at the seam (round-7 verdict stretch): between two
    micro-batches the ACTIVE file is sealed with its final
    transactions AND the next file appears — and the new file's own
    tail is torn mid-event. One batch must pick up exactly the sealed
    remainder + the new file's complete prefix (nothing lost at the
    seam, nothing doubled), the torn transaction must surface in the
    NEXT batch once its bytes land, and replay between the recorded
    offsets must reproduce the race batch exactly."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        MysqlBinlogTailStreamReader,
        build_binlog_file,
    )

    tgt_ddl = "id bigint, v string"
    tgt = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    d = tmp_path / "logs"
    d.mkdir()
    txn = lambda g: {"gno": g, "op": "w", "rows": [{"id": g, "v": f"x{g}"}]}

    f1_full = build_binlog_file("d", "t", tgt, [txn(g) for g in range(1, 6)])
    f1_part = build_binlog_file("d", "t", tgt, [txn(g) for g in range(1, 4)])
    (d / "binlog.000001").write_bytes(f1_part)

    r = MysqlBinlogTailStreamReader(
        {"path": str(d), "schema_ddl": tgt_ddl, "database": "d", "table": "t"}
    )
    b1, off1 = r._delta(r.initialOffset())
    rows1 = tail_rows(b1)
    assert [t_[0] for t_ in rows1] == [1, 2, 3]

    # the race, all within one batch window: file 1 sealed with txns
    # 4-5, file 2 appears with txns 6-8 but its last event is torn
    f2_full = build_binlog_file("d", "t", tgt, [txn(g) for g in range(6, 9)])
    (d / "binlog.000001").write_bytes(f1_full)
    (d / "binlog.000002").write_bytes(f2_full[:-10])

    b2, off2 = r._delta(off1)
    rows2 = tail_rows(b2)
    assert [t_[0] for t_ in rows2] == [4, 5, 6, 7]  # seam intact, no dup
    assert off2["seq"] == 2

    # replay of the race batch is deterministic
    replay = tail_rows(r.readBetweenOffsets(off1, off2))
    assert [t_[0] for t_ in replay] == [4, 5, 6, 7]

    # the torn transaction lands; only IT is emitted next batch
    (d / "binlog.000002").write_bytes(f2_full)
    b3, off3 = r._delta(off2)
    rows3 = tail_rows(b3)
    assert [t_[0] for t_ in rows3] == [8]

    # conservation across the whole history: each id exactly once
    seen = [t_[0] for t_ in rows1 + rows2 + rows3]
    assert sorted(seen) == list(range(1, 9)) and len(set(seen)) == len(seen)


def test_rows_query_capture_scalar_columnar_parity():
    """ROWS_QUERY (binlog_rows_query_log_events=ON): __query is stamped
    on every row of the transaction, scoped to ONE transaction (txns
    without a statement yield NULL), both images of an update carry it,
    and the columnar path agrees with the scalar walk byte-for-byte —
    including through TRANSACTION_PAYLOAD wrapping. capture off keeps
    the schema unchanged."""
    tgt = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    r1 = {"id": 1, "v": "a"}
    r2 = {"id": 2, "v": "b"}
    r2b = {"id": 2, "v": "B"}
    txns = [
        {"gno": 1, "op": "w", "rows": [r1], "query": "INSERT 1 /* ünï */"},
        {"gno": 2, "op": "u", "rows": [(r2, r2b)], "query": "UPDATE 2"},
        {"gno": 3, "op": "w", "rows": [{"id": 3, "v": "c"}]},  # no stmt
    ]
    for wrap in (False, True, "zstd"):
        blob = build_binlog_file("d", "t", tgt, txns, payload_wrap=wrap)
        scalar = decode_binlog_bytes(
            blob, tgt, "d", "t", capture_query=True
        )
        assert [r["__query"] for r in sorted(scalar, key=lambda r: (r["__gtid"], r["__image_seq"]))] == [
            "INSERT 1 /* ünï */", "UPDATE 2", "UPDATE 2", None,
        ]
        pdf = decode_binlog_pandas(blob, tgt, "d", "t", capture_query=True)
        assert "__query" in pdf.columns
        _assert_same(scalar, pdf, tgt)
        # capture off: column absent, rows unchanged
        off = decode_binlog_bytes(blob, tgt, "d", "t")
        assert all("__query" not in r for r in off)
        assert len(off) == len(scalar)


def test_rows_query_spark_read_roundtrip(spark, tmp_path):
    """mysql_binlog_read(capture_query=True) surfaces __query through
    the full Spark scan (columnar kernel), NULL where no statement was
    logged."""
    from pyspark.sql import functions as F

    tgt = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    d = tmp_path / "logs"
    d.mkdir()
    txns = [
        {"gno": g, "op": "w", "rows": [{"id": g, "v": f"x{g}"}],
         **({"query": f"INSERT {g}"} if g % 2 else {})}
        for g in range(1, 7)
    ]
    (d / "binlog.000001").write_bytes(
        build_binlog_file("d", "t", tgt, txns, checksum=True)
    )
    df = mysql_binlog_read(spark, str(d), tgt, "d", "t", capture_query=True)
    got = {r["id"]: r["__query"] for r in df.collect()}
    assert got == {
        g: (f"INSERT {g}" if g % 2 else None) for g in range(1, 7)
    }
    assert df.filter(F.col("__query").isNull()).count() == 3


def test_rows_query_parallel_split_scan(spark, tmp_path):
    """capture_query through the PARALLEL split scan: ranges cut at
    GTID boundaries (where the statement scope resets), so split decode
    stamps identical __query values to the whole-file walk at any
    split size."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        mysql_binlog_read_parallel,
    )

    tgt = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    txns = [
        {"gno": g, "op": "w", "rows": [{"id": g, "v": "y" * (g % 50)}],
         **({"query": f"Q{g}"} if g % 3 else {})}
        for g in range(1, 120)
    ]
    d = tmp_path / "logs"
    d.mkdir()
    blob = build_binlog_file("d", "t", tgt, txns, checksum=True)
    (d / "binlog.000001").write_bytes(blob)
    expect = {
        r["id"]: r["__query"]
        for r in decode_binlog_bytes(blob, tgt, "d", "t", capture_query=True)
    }
    for sb in (512, 4096):
        df = mysql_binlog_read_parallel(
            spark, str(d), tgt, "d", "t", split_bytes=sb, capture_query=True
        )
        got = {r["id"]: r["__query"] for r in df.collect()}
        assert got == expect, sb


def test_rows_query_tail_carry_mid_transaction_cursor(tmp_path):
    """The O(delta) tail with capture_query=true: a micro-batch cursor
    that lands BETWEEN a transaction's ROWS_QUERY event and its rows
    event must still stamp the statement on the rows decoded next
    batch — the carry walk folds rows_query like gtid."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        EV_ROWS_QUERY,
        MysqlBinlogTailStreamReader,
        _events,
        build_binlog_file,
    )

    tgt_ddl = "id bigint, v string"
    tgt = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    d = tmp_path / "logs"
    d.mkdir()
    txns = [
        {"gno": 1, "op": "w", "rows": [{"id": 1, "v": "a"}], "query": "Q1"},
        {"gno": 2, "op": "w", "rows": [{"id": 2, "v": "b"}], "query": "Q2"},
    ]
    full = build_binlog_file("d", "t", tgt, txns)
    # the byte offset of txn 2's TABLE_MAP: the boundary right after
    # the second ROWS_QUERY event
    cut = [
        off + size
        for off, _ts, tc, size, _b, _c in _events(full)
        if tc == EV_ROWS_QUERY
    ][1]
    (d / "binlog.000001").write_bytes(full[:cut])
    r = MysqlBinlogTailStreamReader(
        {"path": str(d), "schema_ddl": tgt_ddl, "database": "d",
         "table": "t", "capture_query": "true"}
    )
    b1, off1 = r._delta(r.initialOffset())
    rows1 = tail_rows(b1)
    assert [t_[0] for t_ in rows1] == [1]  # txn 2 still incomplete
    assert off1["pos"] == cut  # cursor parked mid-transaction

    (d / "binlog.000001").write_bytes(full)
    b2, off2 = r._delta(off1)
    rows2 = tail_rows(b2)
    # schema order: id, v, __op, __query, __gtid, ... — find __query by
    # name for robustness
    from mysql_cdc_table_spark.sources.mysql_binlog import _binlog_out_schema

    names = [f.name for f in _binlog_out_schema(tgt, "long", True).fields]
    qi = names.index("__query")
    assert [t_[0] for t_ in rows2] == [2]
    assert rows2[0][qi] == "Q2"  # statement survived the cursor seam


def test_rows_query_non_utf8_never_kills_decode():
    """Review fix: the server logs ROWS_QUERY in the CONNECTION charset
    (not guaranteed UTF-8). With capture off the bytes are never
    decoded; with capture on they decode lossily — either way the row
    decode must survive."""
    tgt = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    blob = bytearray(
        build_binlog_file(
            "d", "t", tgt,
            [{"gno": 1, "op": "w", "rows": [{"id": 1, "v": "a"}],
              "query": "UPDATE xxLATIN1xx"}],
        )
    )
    idx = bytes(blob).rfind(b"xxLATIN1xx")
    assert idx > 0
    blob[idx : idx + 10] = b"x\xe9\xe8\xfc\xdf LATI"  # latin-1, same length
    rows_off = decode_binlog_bytes(bytes(blob), tgt, "d", "t")
    assert len(rows_off) == 1 and "__query" not in rows_off[0]
    rows_on = decode_binlog_bytes(
        bytes(blob), tgt, "d", "t", capture_query=True
    )
    assert "�" in rows_on[0]["__query"]  # lossy, not fatal
    pdf = decode_binlog_pandas(bytes(blob), tgt, "d", "t", capture_query=True)
    assert pdf["__query"].iloc[0] == rows_on[0]["__query"]


@pytest.mark.parametrize("prec,scale", [(10, 2), (28, 6)])
def test_columnar_decimal_corrupt_group_failfast(prec, scale):
    """Review fix: a digit group ≥ 10^ndig (impossible from a correct
    writer, possible in a corrupt checksum-free file) must raise on
    BOTH the int64 and the two-limb path — never silently overflow the
    unscaled past the declared precision."""
    tgt = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("d", T.DecimalType(prec, scale)),
        ]
    )
    v = Decimal(1234).scaleb(-scale)
    blob = bytearray(
        build_binlog_file(
            "d", "t", tgt, [{"gno": 1, "op": "w", "rows": [{"id": 1, "d": v}]}]
        )
    )
    from mysql_cdc_table_spark.sources.mysql_binlog import _encode_col, _Col

    needle = _encode_col(_Col("d", mb.TY_NEWDECIMAL, bytes([prec, scale])), v)
    idx = bytes(blob).rfind(bytes(needle))
    assert idx > 0
    # a full 4-byte group holding 0xFFFFFFFF = 4294967295 > 10^9-1:
    # patch the last 4 bytes of the value (the trailing full/partial
    # group region) to all-ones while keeping the sign bit intact
    blob[idx + 1 : idx + len(needle)] = b"\xff" * (len(needle) - 1)
    with pytest.raises(ValueError, match="digit group exceeds"):
        decode_binlog_pandas(bytes(blob), tgt, "d", "t")


def test_infer_target_through_transaction_payload():
    """Review fix: binlog_transaction_compression=ON wraps TABLE_MAP
    inside TRANSACTION_PAYLOAD carriers — inference must unwrap them
    like the decode walk does."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        mysql_binlog_infer_target,
    )

    tgt = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "color",
                T.StringType(),
                metadata={"mysql_type": "enum", "values": ["red", "green"]},
            ),
        ]
    )
    for wrap in (True, "zstd"):
        blob = build_binlog_file(
            "d", "t", tgt,
            [{"gno": 1, "op": "w", "rows": [{"id": 1, "color": "red"}]}],
            row_metadata="full", payload_wrap=wrap,
        )
        inferred = mysql_binlog_infer_target(blob, "d", "t")
        assert [f.name for f in inferred.fields] == ["id", "color"]
        assert inferred["color"].metadata["values"] == ["red", "green"]


def test_wire_field_char_column_infers():
    """Round 13: TY_STRING (254) with Field_string's packed-length
    metadata infers as a CHAR column — short form (byte length in m1)
    and long form (length bits 8-9 XORed into m0's 0x30 bits); the
    round-7 failfast now applies only to genuinely unknown real
    types."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _char_meta,
        _wire_field,
    )

    f = _wire_field("c", mb.TY_STRING, bytes([254, 20]), None)
    assert isinstance(f.dataType, T.StringType)
    assert f.metadata["mysql_type"] == "char"
    assert f.metadata["char_bytes"] == 20

    # long form: CHAR(250) utf8mb4 -> 1000 bytes -> m0 loses 0x30 bits
    meta = _char_meta(1000)
    assert (meta[0] & 0x30) != 0x30
    f = _wire_field("c", mb.TY_STRING, meta, None)
    assert f.metadata["char_bytes"] == 1000
    assert f.metadata["char_len"] == 250

    # a real type that is neither ENUM/SET nor CHAR still raises
    with pytest.raises(TypeError, match="unknown real type"):
        _wire_field("c", mb.TY_STRING, bytes([0xF0, 20]), None)


def test_wire_field_time_fsp_and_legacy_temporals():
    """Round 13: TIME2 metadata carries fsp into the inferred field;
    the legacy pre-5.6.4 codes 7/11/12 infer their kinds."""
    from mysql_cdc_table_spark.sources.mysql_binlog import _wire_field

    f = _wire_field("t", mb.TY_TIME2, bytes([3]), None)
    assert f.metadata == {"mysql_type": "time", "fsp": 3}

    f = _wire_field("t", mb.TY_TIMESTAMP_V1, b"", None)
    assert isinstance(f.dataType, T.TimestampType)
    assert f.metadata["mysql_type"] == "timestamp_v1"
    f = _wire_field("t", mb.TY_DATETIME_V1, b"", None)
    assert isinstance(f.dataType, T.TimestampType)
    assert f.metadata["mysql_type"] == "datetime_v1"
    f = _wire_field("t", mb.TY_TIME_V1, b"", None)
    assert isinstance(f.dataType, T.StringType)
    assert f.metadata["mysql_type"] == "time_v1"


def test_tail_initial_offset_parks_at_event_boundary_not_getsize(tmp_path):
    """Advisor fix (round 7): with start_after_gno fully consumed, the
    initial cursor parked at os.path.getsize() of the active file —
    which can fall MID-EVENT on a torn tail write. Every cursor in
    this reader means an event boundary; a mid-event pos makes later
    micro-batches read garbage event sizes (permanent stall, or a CRC
    kill). It must park at the last COMPLETE-event boundary, and the
    torn transaction must surface cleanly once its bytes land."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        EV_GTID,
        MysqlBinlogTailStreamReader,
        _events,
    )

    tgt = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    txn = lambda g: {"gno": g, "op": "w", "rows": [{"id": g, "v": f"x{g}"}]}
    full = build_binlog_file("d", "t", tgt, [txn(g) for g in range(1, 5)])

    # boundary where txn 4's GTID event starts
    cut = [off for off, _ts, tc, *_ in _events(full) if tc == EV_GTID][3]

    d = tmp_path / "logs"
    d.mkdir()
    # torn tail: 5 bytes of txn 4's GTID event header are on disk
    (d / "binlog.000001").write_bytes(full[: cut + 5])

    r = MysqlBinlogTailStreamReader(
        {"path": str(d), "schema_ddl": "id bigint, v string",
         "database": "d", "table": "t", "start_after_gno": "3"}
    )
    off0 = r.initialOffset()
    assert off0["pos"] == cut  # boundary, NOT cut + 5 (raw getsize)

    # nothing new yet: an empty batch, cursor stays put
    b0, off0b = r._delta(off0)
    rows0 = tail_rows(b0)
    assert rows0 == [] and off0b["pos"] == cut

    # the torn bytes land: exactly txn 4 surfaces
    (d / "binlog.000001").write_bytes(full)
    b1, off1 = r._delta(off0b)
    rows1 = tail_rows(b1)
    assert [t_[0] for t_ in rows1] == [4]
    assert off1["pos"] == len(full)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.booleans(),                 # negative sign
            st.integers(0, 838),           # hours (1-3 digits exercised)
            st.integers(0, 59),
            st.integers(0, 59),
            st.booleans(),                 # null flag
        ),
        min_size=1,
        max_size=16,
    )
)
def test_columnar_time2_vs_scalar_property(vals):
    """Hypothesis: the vectorized TIME2 decoder (round-8: the last
    fixed-width type off the per-cell closure) formats every value —
    signs, 1/2/3-digit hours, zero-padded MM:SS, nulls — exactly like
    the scalar walk."""
    tgt = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("tm", T.StringType(),
                          metadata={"mysql_type": "time"}),
        ]
    )
    recs = [
        {"id": i,
         "tm": None if none else f"{'-' if neg and (h or m or s) else ''}{h}:{m:02d}:{s:02d}"}
        for i, (neg, h, m, s, none) in enumerate(vals)
    ]
    blob = build_binlog_file(
        "d", "t", tgt, [{"gno": 1, "op": "w", "rows": recs}]
    )
    scalar = decode_binlog_bytes(blob, tgt, "d", "t")
    pdf = decode_binlog_pandas(blob, tgt, "d", "t")
    _assert_same(scalar, pdf, tgt)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 255),
            st.integers(0, (1 << 16) - 1),
            st.integers(0, (1 << 24) - 1),
            st.integers(0, (1 << 32) - 1),
            st.integers(0, (1 << 63) - 1),
            st.booleans(),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_columnar_unsigned_vs_scalar_property(vals):
    """Hypothesis: UNSIGNED columns of every width — full unsigned
    ranges, BIGINT UNSIGNED up to 2^63−1, nulls — decode identically
    on the scalar and columnar kernels through SIGNEDNESS TLVs and the
    widened reader schema (round 8)."""
    wtgt = T.StructType(
        [
            T.StructField("u8", T.ShortType(),
                          metadata={"mysql_type": "tinyint_unsigned"}),
            T.StructField("u16", T.IntegerType(),
                          metadata={"mysql_type": "smallint_unsigned"}),
            T.StructField("u24", T.IntegerType(),
                          metadata={"mysql_type": "mediumint_unsigned"}),
            T.StructField("u32", T.LongType(),
                          metadata={"mysql_type": "int_unsigned"}),
            T.StructField("u64", T.LongType(),
                          metadata={"mysql_type": "bigint_unsigned"}),
        ]
    )
    recs = [
        {"u8": a, "u16": b, "u24": c, "u32": d,
         "u64": None if none else e}
        for (a, b, c, d, e, none) in vals
    ]
    blob = build_binlog_file(
        "d", "t", wtgt, [{"gno": 1, "op": "w", "rows": recs}],
        row_metadata="full",
    )
    rtgt = T.StructType(
        [
            T.StructField("u8", T.ShortType()),
            T.StructField("u16", T.IntegerType()),
            T.StructField("u24", T.IntegerType()),
            T.StructField("u32", T.LongType()),
            T.StructField("u64", T.LongType()),
        ]
    )
    scalar = decode_binlog_bytes(blob, rtgt, "d", "t")
    pdf = decode_binlog_pandas(blob, rtgt, "d", "t")
    _assert_same(scalar, pdf, rtgt)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, (1 << 20) - 1), st.booleans()),
        min_size=1,
        max_size=16,
    )
)
def test_columnar_wide_set_vs_scalar_property(vals):
    """Hypothesis: SET columns wider than 8 members (here 20 -> 3-byte
    bitmask) decode identically on both kernels. Round 8 replaced the
    per-cell closure with a unique-mask dictionary scatter, so the
    property pins every mask combination the batch can contain."""
    members = [f"m{i:02d}" for i in range(20)]
    tgt = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("s", T.StringType(),
                          metadata={"mysql_type": "set",
                                    "values": members}),
        ]
    )
    recs = [
        {
            "id": i,
            "s": None if none else ",".join(
                m for b, m in enumerate(members) if mask >> b & 1
            ),
        }
        for i, (mask, none) in enumerate(vals)
    ]
    blob = build_binlog_file(
        "d", "t", tgt, [{"gno": 1, "op": "w", "rows": recs}]
    )
    scalar = decode_binlog_bytes(blob, tgt, "d", "t")
    pdf = decode_binlog_pandas(blob, tgt, "d", "t")
    _assert_same(scalar, pdf, tgt)


# --- round 10: vectorized flat-scalar binary JSON ---------------------------


def _json_schema():
    return T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "doc", T.StringType(), metadata={"mysql_type": "json"}
            ),
        ]
    )


def test_columnar_json_flat_scalar_battery():
    """The round-10 vectorized flat-scalar JSON path must emit
    byte-identical text to the scalar walk for every top-level kind:
    signed ints at each width boundary, the three literals, strings
    (empty / ASCII / escapes / non-ASCII / 1-byte and 2-byte varint
    lengths), doubles, containers, nested trees, NULL cells — the
    latter groups via the per-cell fallback inside the same buffer."""
    import json

    vals = [
        5, -5, 127, -128, 32767, -32768, 40000, 2**31 - 1, -(2**31),
        2**40, -(2**40), 2**63 - 1, -(2**63),
        True, False, None,
        "", "abc", "t96", 'he said "hi"', "back\\slash", "tab\there",
        "café", "日本語", "x" * 127, "y" * 128, "z" * 300,
        "w" * 20000,
        1.5, -0.25, 1e16, 0.1,
        [1, 2, "a"], {"a": 1, "b": [True, None]},
        {"id": 7, "meta": {"rev": 3, "src": "gen"}}, [], {},
    ]
    tgt = _json_schema()
    recs = [
        {"id": i, "doc": json.dumps(v, separators=(",", ":"))}
        for i, v in enumerate(vals)
    ]
    recs.append({"id": len(recs), "doc": None})
    blob = build_binlog_file(
        "d", "t", tgt, [{"gno": 1, "op": "w", "rows": recs}]
    )
    scalar = decode_binlog_bytes(blob, tgt, "d", "t")
    pdf = decode_binlog_pandas(blob, tgt, "d", "t")
    _assert_same(scalar, pdf, tgt)
    # and the canonical text is exact (not just mutually consistent)
    by_id = dict(zip(pdf["id"], pdf["doc"]))
    for i, v in enumerate(vals):
        assert by_id[i] == json.dumps(
            v, separators=(",", ":"), ensure_ascii=False
        )


_JSON_VAL = st.recursive(
    st.none()
    | st.booleans()
    | st.integers(-(2**63), 2**63 - 1)
    | st.text(max_size=50),
    lambda ch: st.lists(ch, max_size=4)
    | st.dictionaries(st.text(max_size=8), ch, max_size=4),
    max_leaves=6,
)


@settings(max_examples=40, deadline=None)
@given(st.lists(_JSON_VAL, min_size=1, max_size=10))
def test_columnar_json_property(docs):
    """Hypothesis: arbitrary JSON documents (scalar and container,
    unicode keys/values, deep nesting) decode identically through the
    vectorized kernel and the scalar walk."""
    import json

    tgt = _json_schema()
    recs = [
        {"id": i, "doc": json.dumps(v, separators=(",", ":"))}
        for i, v in enumerate(docs)
    ]
    blob = build_binlog_file(
        "d", "t", tgt, [{"gno": 1, "op": "w", "rows": recs}]
    )
    scalar = decode_binlog_bytes(blob, tgt, "d", "t")
    pdf = decode_binlog_pandas(blob, tgt, "d", "t")
    _assert_same(scalar, pdf, tgt)
