"""Round-15: gbk charset decode (both kernels), table-level RENAME in
the schema history, and the multi-table history fold.

The gbk transcode is the first MULTIBYTE non-utf-8 charset in the
codec space — unlike latin1, its trail bytes overlap the ASCII range
(0x40-0x7E), so the vectorized char-start scan is adversarially
checked against Python's codec on strings that deliberately carry
ASCII-looking trail bytes ('丂' is gbk 0x81 0x40 — the trail is '@').
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from mysql_cdc_table_spark.sources.mysql_binlog import (
    build_binlog_file,
    decode_binlog_bytes,
)
from mysql_cdc_table_spark.sources.mysql_binlog_vec import (
    decode_binlog_pandas,
)

# every value carries at least one 2-byte gbk char — the raw wire
# bytes are NOT valid utf-8, so a utf-8-assuming decode cannot pass
# by accident. '丂' (U+4E02, gbk 81 40) pins the ASCII-trail case;
# '啊' (U+554A, gbk B0 A1) the high-trail case.
_GBK_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField(
            "note",
            T.StringType(),
            metadata={"mysql_type": "text", "charset": "gbk"},
        ),
        T.StructField(
            "code",
            T.StringType(),
            metadata={
                "mysql_type": "char", "char_len": 4, "char_bytes": 8,
                "charset": "gbk",
            },
        ),
        T.StructField(
            "city",
            T.StringType(),
            metadata={"varchar_len": 40, "charset": "gbk"},
        ),
    ]
)

_GBK_ROWS = [
    {"id": 1, "note": "你好 world", "code": "丂A丂B", "city": "北京市"},
    {"id": 2, "note": "啊丂啊丂", "code": "中文", "city": "x上y海z"},
    {"id": 3, "note": "", "code": "丂", "city": "pure ascii"},
    {"id": 4, "note": None, "code": None, "city": None},
    # consecutive multibyte runs ending/starting rows: the char-start
    # parity scan must not leak across row boundaries
    {"id": 5, "note": "汉字汉字汉", "code": "字汉", "city": "汉"},
]


def _gbk_blob():
    return build_binlog_file(
        "d", "t", _GBK_SCHEMA,
        [
            {"gno": 10 + r["id"], "op": "w", "rows": [r]}
            for r in _GBK_ROWS
        ],
        checksum=True,
    )


def test_gbk_roundtrip_scalar():
    rows = {
        r["id"]: r
        for r in decode_binlog_bytes(_gbk_blob(), _GBK_SCHEMA, "d", "t")
    }
    for want in _GBK_ROWS:
        got = rows[want["id"]]
        for k in ("note", "code", "city"):
            assert got.get(k) == want[k], (want["id"], k, got.get(k))


def test_gbk_roundtrip_columnar():
    pdf = decode_binlog_pandas(_gbk_blob(), _GBK_SCHEMA, "d", "t")
    got = {int(r["id"]): r for _, r in pdf.iterrows()}
    for want in _GBK_ROWS:
        for k in ("note", "code", "city"):
            v = got[want["id"]][k]
            v = None if v is None or isinstance(v, float) else v
            assert v == want[k], (want["id"], k, v)


def test_gbk_to_utf8_transcode_matches_python_codec():
    """The vectorized buffer transcode equals bytes.decode('gbk')
    .encode('utf-8') row by row — random mixes of ASCII, high-trail
    CJK, and ASCII-trail extension chars, empty rows, all-multibyte
    rows, and the offsets remap."""
    import random

    import numpy as np

    from mysql_cdc_table_spark.sources.mysql_binlog_vec import (
        _gbk_to_utf8,
    )

    rng = random.Random(15)
    # pool: ASCII + BMP CJK (high trails) + extension chars whose gbk
    # trail byte is ASCII-range
    ascii_trail = [
        b.decode("gbk")
        for b in (b"\x81\x40", b"\x81\x41", b"\x82\x7e", b"\xaa\x40")
    ]
    pool = (
        [chr(c) for c in range(0x20, 0x7F)]
        + [chr(0x4E00 + k) for k in range(400)]
        + ascii_trail * 20
    )
    rows = [b"", "丂丂丂".encode("gbk"), b"@@@"]
    for _ in range(300):
        n = rng.randrange(0, 24)
        rows.append("".join(rng.choice(pool) for _ in range(n)).encode("gbk"))
    data = np.frombuffer(b"".join(rows), dtype=np.uint8).copy()
    offsets = np.zeros(len(rows) + 1, np.int32)
    np.cumsum([len(r) for r in rows], out=offsets[1:])
    out, new_off = _gbk_to_utf8(data, offsets)
    buf = out.tobytes()
    for i, raw in enumerate(rows):
        got = buf[new_off[i]: new_off[i + 1]]
        assert got == raw.decode("gbk").encode("utf-8"), (i, raw)


def test_gbk_malformed_bytes_failfast_columnar():
    """A lone gbk lead byte (truncated char) must raise, not emit a
    mojibake row — failfast parity with the scalar walk."""
    import numpy as np

    from mysql_cdc_table_spark.sources.mysql_binlog_vec import (
        _gbk_to_utf8,
    )

    data = np.frombuffer(b"ok\x81", dtype=np.uint8).copy()
    offsets = np.array([0, 3], np.int32)
    with pytest.raises((UnicodeDecodeError, ValueError)):
        _gbk_to_utf8(data, offsets)


def test_ddl_gbk_schema_decodes_gbk_wire_bytes():
    """A DDL history declaring gbk (table default + per-column) yields
    a schema whose decode handles real multibyte gbk wire bytes —
    CHAR byte width doubles (mbmaxlen 2), TEXT/VARCHAR transcode."""
    from mysql_cdc_table_spark.sources.mysql_ddl import (
        schema_from_ddl_history,
    )

    schema = schema_from_ddl_history(
        [
            "CREATE TABLE d.t ("
            " id BIGINT,"
            " name VARCHAR(10),"
            " tag CHAR(2),"
            " note TEXT CHARACTER SET gbk"
            ") DEFAULT CHARSET=gbk"
        ],
        "d.t",
    )
    tag = next(f for f in schema.fields if f.name == "tag")
    assert tag.metadata["char_bytes"] == 4  # 2 chars x mbmaxlen 2
    rows = [
        {"id": 7, "name": "丂x北京", "tag": "汉字", "note": "啊丂 ok"},
    ]
    blob = build_binlog_file(
        "d", "t", schema,
        [{"gno": 1, "op": "w", "rows": [r]} for r in rows],
        checksum=True,
    )
    got = decode_binlog_bytes(blob, schema, "d", "t")
    assert got[0]["name"] == "丂x北京"
    assert got[0]["tag"] == "汉字"
    assert got[0]["note"] == "啊丂 ok"
    pdf = decode_binlog_pandas(blob, schema, "d", "t")
    assert pdf.iloc[0]["name"] == "丂x北京"
    assert pdf.iloc[0]["tag"] == "汉字"
    assert pdf.iloc[0]["note"] == "啊丂 ok"


def test_ucs2_charset_still_raises_pointedly():
    # gbk/sjis/cp932 joined the codec space in round 15; ucs2 (a
    # 2-byte-units charset with NUL bytes in ASCII — structurally
    # different) stays pointedly rejected
    from mysql_cdc_table_spark.sources.mysql_ddl import (
        schema_from_ddl_history,
    )

    with pytest.raises(ValueError, match="ucs2"):
        schema_from_ddl_history(
            ["CREATE TABLE t (s VARCHAR(5) CHARACTER SET ucs2)"], "t"
        )


def test_sjis_cp932_roundtrip_both_kernels():
    """Shift_JIS pins the nastiest DBCS case: '表' is 0x95 0x5C — the
    trail byte is ASCII BACKSLASH — and 0xA1-0xDF are SINGLE-byte
    halfwidth kana sitting above 0x80 without being leads. cp932 adds
    the extended lead range (NEC/IBM rows)."""
    for cs, vals in (
        ("sjis", ["表計算", "ア表イ", "ソ\\ン", "ｱｲｳ半角", "a表b"]),
        ("cp932", ["表①高", "ア①イ", "ｱ①", "髙﨑"]),
    ):
        sch = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField(
                    "s",
                    T.StringType(),
                    metadata={"varchar_len": 40, "charset": cs},
                ),
                T.StructField(
                    "note",
                    T.StringType(),
                    metadata={"mysql_type": "text", "charset": cs},
                ),
            ]
        )
        rows = [
            {"id": i, "s": v, "note": v[::-1]} for i, v in enumerate(vals)
        ]
        blob = build_binlog_file(
            "d", "t", sch,
            [{"gno": 10 + r["id"], "op": "w", "rows": [r]} for r in rows],
            checksum=True,
        )
        scal = {
            r["id"]: r for r in decode_binlog_bytes(blob, sch, "d", "t")
        }
        pdf = decode_binlog_pandas(blob, sch, "d", "t")
        vec = {int(r["id"]): r for _, r in pdf.iterrows()}
        for want in rows:
            for k in ("s", "note"):
                assert scal[want["id"]][k] == want[k], (cs, want, k)
                assert vec[want["id"]][k] == want[k], (cs, want, k)


def test_sjis_transcode_matches_python_codec():
    """Random Shift_JIS mixes — ASCII, halfwidth kana singles, kanji
    with ASCII-range trails — through the vectorized DBCS scan vs
    Python's codec, row by row."""
    import random

    import numpy as np

    from mysql_cdc_table_spark.sources.mysql_binlog_vec import (
        _sjis_to_utf8,
    )

    rng = random.Random(151)
    kana = [chr(c) for c in range(0xFF61, 0xFFA0)]  # halfwidth forms
    kanji = ["表", "計", "算", "ソ", "高", "士"]
    pool = [chr(c) for c in range(0x20, 0x7F)] + kana + kanji * 10
    rows = [b"", "表表".encode("shift_jis"), "ｱｲｳ".encode("shift_jis")]
    for _ in range(300):
        n = rng.randrange(0, 20)
        rows.append(
            "".join(rng.choice(pool) for _ in range(n)).encode("shift_jis")
        )
    data = np.frombuffer(b"".join(rows), dtype=np.uint8).copy()
    offsets = np.zeros(len(rows) + 1, np.int32)
    np.cumsum([len(r) for r in rows], out=offsets[1:])
    out, new_off = _sjis_to_utf8(data, offsets)
    buf = out.tobytes()
    for i, raw in enumerate(rows):
        got = buf[new_off[i]: new_off[i + 1]]
        assert got == raw.decode("shift_jis").encode("utf-8"), (i, raw)


# --- table-level RENAME / multi-table schema history -------------------------


def _hist(table="orders", db="tpch"):
    from mysql_cdc_table_spark.sources.mysql_ddl import SchemaHistory

    return SchemaHistory(table, database=db)


_CREATE = (
    "CREATE TABLE `tpch`.`orders` ("
    " `id` BIGINT, `price` DECIMAL(12,2), `flag` CHAR(2))"
)
_GHOST = (
    "CREATE TABLE `tpch`.`_orders_gho` ("
    " `id` BIGINT, `price` DECIMAL(14,4), `note` VARCHAR(30),"
    " `flag` CHAR(2))"
)
_CUTOVER = (
    "RENAME TABLE `tpch`.`orders` TO `tpch`.`_orders_del`,"
    " `tpch`.`_orders_gho` TO `tpch`.`orders`"
)


def test_history_follows_alter_rename_to():
    h = _hist()
    assert h.apply(_CREATE)
    gen = h.generation
    assert h.apply("ALTER TABLE `tpch`.`orders` RENAME TO `tpch`.`arch`")
    assert h.generation == gen + 1
    assert h.matches_current("tpch", "arch")
    assert not h.matches_current("tpch", "orders")
    # layout and identities untouched by the name move
    assert h.names == ("id", "price", "flag")
    assert h.ids == (0, 1, 2)


def test_history_follows_single_pair_rename_table():
    h = _hist()
    h.apply(_CREATE)
    assert h.apply("RENAME TABLE tpch.orders TO tpch.orders_v2")
    assert h.matches_current("tpch", "orders_v2")
    assert not h.matches_current("tpch", "orders")


def test_history_cutover_swap_inherits_identities_by_name():
    h = _hist()
    h.apply(_CREATE)
    assert h.ids == (0, 1, 2)
    assert not h.apply(_GHOST)  # side registry, tracked unchanged
    assert h.names == ("id", "price", "flag")
    assert h.apply(_CUTOVER)
    # tracked NAME is still orders; layout is the ghost's
    assert h.matches_current("tpch", "orders")
    assert not h.matches_current("tpch", "_orders_gho")
    assert not h.matches_current("tpch", "_orders_del")
    assert h.names == ("id", "price", "note", "flag")
    # id/price/flag inherit identities 0/1/2; note keeps its fresh id
    assert h.ids == (0, 1, 5, 2)
    # the widened type arrived with the swap
    price = next(f for f in h.schema.fields if f.name == "price")
    from pyspark.sql import types as T

    assert price.dataType == T.DecimalType(14, 4)


def test_history_cutover_via_alter_rename_chain():
    """pt-osc variant: the ghost arrives via ALTER ... RENAME TO after
    the original left."""
    h = _hist()
    h.apply(_CREATE)
    h.apply(_GHOST)
    assert h.apply(
        "ALTER TABLE `tpch`.`orders` RENAME TO `tpch`.`_orders_del`"
    )
    # fold followed to _orders_del; now the ghost takes the old name —
    # but the fold tracks _orders_del now, so this parks in the
    # registry (name-follow semantics for sequential renames)
    assert not h.apply(
        "ALTER TABLE `tpch`.`_orders_gho` RENAME TO `tpch`.`orders`"
    )
    assert h.matches_current("tpch", "_orders_del")


def test_history_rename_into_tracked_without_create_raises():
    h = _hist()
    h.apply(_CREATE)
    with pytest.raises(ValueError, match="no CREATE"):
        h.apply(
            "RENAME TABLE tpch.orders TO tpch._old,"
            " tpch.unknown TO tpch.orders"
        )


def test_history_other_tables_rename_is_noop_for_tracked():
    h = _hist()
    h.apply(_CREATE)
    h.apply("CREATE TABLE tpch.a (x INT)")
    assert not h.apply("RENAME TABLE tpch.a TO tpch.b")
    assert not h.apply("RENAME TABLE tpch.zzz TO tpch.yyy")  # unknown
    assert h.names == ("id", "price", "flag")


def test_history_alter_on_registered_ghost_applies():
    h = _hist()
    h.apply(_CREATE)
    h.apply(_GHOST)
    h.apply("ALTER TABLE tpch._orders_gho ADD COLUMN extra INT")
    h.apply(_CUTOVER)
    assert h.names == ("id", "price", "note", "flag", "extra")
    assert h.ids == (0, 1, 5, 2, 7)


def test_decode_follows_table_rename_mid_walk():
    """Rows logged under the OLD name before ALTER RENAME TO and under
    the NEW name after it both decode; rows to an unrelated table under
    the old name's slot do not."""
    from pyspark.sql import types as T

    from mysql_cdc_table_spark.sources.mysql_ddl import SchemaHistory

    create = "CREATE TABLE d.t (id BIGINT, v INT)"
    sch = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.IntegerType())]
    )
    blob = build_binlog_file(
        "d", "t", sch,
        [
            {"gno": 1, "ddl": create},
            {"gno": 2, "op": "w", "rows": [{"id": 1, "v": 10}]},
            {"gno": 3, "ddl": "ALTER TABLE d.t RENAME TO d.t2"},
        ],
        checksum=True,
    )
    blob += build_binlog_file(
        "d", "t2", sch,
        [{"gno": 4, "op": "w", "rows": [{"id": 2, "v": 20}]}],
        checksum=True,
    )[4:]
    # a DIFFERENT table re-using the old name: must NOT be captured
    blob += build_binlog_file(
        "d", "t", sch,
        [{"gno": 5, "op": "w", "rows": [{"id": 99, "v": 999}]}],
        checksum=True,
    )[4:]
    hist = SchemaHistory("t", database="d")
    rows = decode_binlog_bytes(blob, None, "d", "t", schema_history=hist)
    assert [(r["id"], r["v"]) for r in rows] == [(1, 10), (2, 20)]


def test_decode_cutover_swap_end_to_end():
    """The gh-ost cut-over through real binlog bytes: pre-swap rows
    surface under the migrated layout (price carried by inherited
    identity, note NULL), ghost backfill rows and post-swap writes to
    the parked old table are NOT captured, post-swap rows carry the
    ghost layout."""
    from decimal import Decimal

    from pyspark.sql import types as T

    from mysql_cdc_table_spark.sources.mysql_ddl import (
        SchemaHistory,
        schema_from_ddl_history,
    )

    gen0 = schema_from_ddl_history([_CREATE], "tpch.orders")
    ghost = schema_from_ddl_history([_GHOST], "tpch._orders_gho")
    blob = build_binlog_file(
        "tpch", "orders", gen0,
        [
            {"gno": 1, "ddl": _CREATE},
            {
                "gno": 2, "op": "w",
                "rows": [
                    {"id": 1, "price": Decimal("9.50"), "flag": "AB"}
                ],
            },
            {"gno": 3, "ddl": _GHOST},
        ],
        checksum=True,
    )
    # ghost backfill (gh-ost copies rows into the ghost pre-swap) —
    # deliberately DIFFERENT values so a capture leak is visible
    blob += build_binlog_file(
        "tpch", "_orders_gho", ghost,
        [
            {
                "gno": 4, "op": "w",
                "rows": [
                    {
                        "id": 1, "price": Decimal("999.9999"),
                        "note": "backfill", "flag": "XX",
                    }
                ],
            },
            {"gno": 5, "ddl": _CUTOVER},
        ],
        checksum=True,
    )[4:]
    blob += build_binlog_file(
        "tpch", "orders", ghost,
        [
            {
                "gno": 6, "op": "w",
                "rows": [
                    {
                        "id": 2, "price": Decimal("1.2345"),
                        "note": "post", "flag": "CD",
                    }
                ],
            },
        ],
        checksum=True,
    )[4:]
    # a late write to the parked old table: not captured
    blob += build_binlog_file(
        "tpch", "_orders_del", gen0,
        [
            {
                "gno": 7, "op": "w",
                "rows": [{"id": 99, "price": Decimal("0.01"), "flag": "ZZ"}],
            },
        ],
        checksum=True,
    )[4:]
    hist = SchemaHistory("orders", database="tpch")
    rows = decode_binlog_bytes(
        blob, None, "tpch", "orders", schema_history=hist
    )
    assert len(rows) == 2
    pre, post = rows
    assert pre["id"] == 1
    assert pre["price"] == Decimal("9.50")  # carried by identity
    assert pre["flag"] == "AB"
    assert pre.get("note") is None  # ghost-only column: NULL pre-swap
    assert post["id"] == 2
    assert post["price"] == Decimal("1.2345")
    assert post["note"] == "post"
    assert post["flag"] == "CD"


# --- columnar-kernel schema-history decode ------------------------------------


def _three_gen_blob():
    """CREATE -> rows -> ALTER ADD -> rows -> ALTER MODIFY/CHANGE/
    RENAME COLUMN -> rows, all in one log (the ddl-schema-decode
    fixture's shape, small)."""
    from decimal import Decimal as _D

    from mysql_cdc_table_spark.sources.mysql_ddl import (
        schema_from_ddl_history,
    )

    create = (
        "CREATE TABLE `d`.`t` (`id` BIGINT, `price` DECIMAL(12,2),"
        " `flag` CHAR(2), `note` TEXT)"
    )
    alter1 = (
        "ALTER TABLE `d`.`t` ADD COLUMN `status` ENUM('F','O','P'),"
        " ADD COLUMN `took` TIME(3)"
    )
    alter2 = (
        "ALTER TABLE `d`.`t` MODIFY COLUMN `price` DECIMAL(14,4),"
        " CHANGE COLUMN `flag` `cflag` CHAR(2),"
        " RENAME COLUMN `note` TO `memo`"
    )
    g0 = schema_from_ddl_history([create], "d.t")
    g1 = schema_from_ddl_history([create, alter1], "d.t")
    g2 = schema_from_ddl_history([create, alter1, alter2], "d.t")
    blob = build_binlog_file(
        "d", "t", g0,
        [
            {"gno": 1, "ddl": create},
            {"gno": 10, "op": "w", "rows": [
                {"id": 1, "price": _D("1.25"), "flag": "AA", "note": "one"}
            ]},
            {"gno": 11, "op": "u", "rows": [(
                {"id": 1, "price": _D("1.25"), "flag": "AA", "note": "one"},
                {"id": 1, "price": _D("2.50"), "flag": "AB", "note": "uno"},
            )]},
        ],
        checksum=True,
    )
    blob += build_binlog_file(
        "d", "t", g1,
        [
            {"gno": 2, "ddl": alter1},
            {"gno": 12, "op": "w", "rows": [
                {"id": 2, "price": _D("3.75"), "flag": "BC",
                 "note": "two", "status": "O", "took": "-1:02:03.456"}
            ]},
        ],
        checksum=True,
    )[4:]
    blob += build_binlog_file(
        "d", "t", g2,
        [
            {"gno": 3, "ddl": alter2},
            {"gno": 13, "op": "w", "rows": [
                {"id": 3, "price": _D("9.1234"), "cflag": "CD",
                 "memo": "three", "status": "P", "took": "0:00:01.001"}
            ]},
            {"gno": 14, "op": "d", "rows": [
                {"id": 1, "price": _D("2.5000"), "cflag": "AB",
                 "memo": "uno", "status": None, "took": None}
            ]},
        ],
        checksum=True,
    )[4:]
    return blob


def _vec_vs_scalar_history(blob, table="t", db="d"):
    from mysql_cdc_table_spark.sources.mysql_ddl import SchemaHistory

    h1 = SchemaHistory(table, database=db)
    scal = decode_binlog_bytes(blob, None, db, table, schema_history=h1)
    h2 = SchemaHistory(table, database=db)
    pdf = decode_binlog_pandas(blob, None, db, table, schema_history=h2)
    # key both by the explicit ordering triple; compare every column
    def norm(v):
        import math

        if v is None:
            return None
        if isinstance(v, float) and math.isnan(v):
            return None
        try:
            import pandas as pd

            if v is pd.NaT or (isinstance(v, type(pd.NaT)) and pd.isna(v)):
                return None
        except Exception:
            pass
        if hasattr(v, "to_pydatetime"):
            return v.to_pydatetime()
        return v

    scal_by_key = {
        (r["__event_seq"], r["__image_seq"]): r for r in scal
    }
    assert len(scal_by_key) == len(pdf), (len(scal_by_key), len(pdf))
    cols = [c for c in pdf.columns]
    for _, row in pdf.iterrows():
        key = (int(row["__event_seq"]), int(row["__image_seq"]))
        want = scal_by_key[key]
        for c in cols:
            got, exp = norm(row[c]), norm(want.get(c))
            assert got == exp, (key, c, got, exp)


def test_vec_schema_history_three_generations_matches_scalar():
    """The columnar kernel's schema-history decode is value-identical
    to the scalar walk across CREATE / ADD / MODIFY+CHANGE+RENAME
    generations — including the (12,2)->(14,4) decimal cast of old
    generations onto the final layout and NULL fill for late-added
    columns."""
    _vec_vs_scalar_history(_three_gen_blob())


def test_vec_schema_history_cutover_matches_scalar():
    """The cut-over swap (table-level RENAME) through the vec kernel:
    generation-pure groups before and after the swap, inherited
    identities placing carried columns, backfill/decoys excluded."""
    from decimal import Decimal

    from mysql_cdc_table_spark.sources.mysql_ddl import (
        schema_from_ddl_history,
    )

    gen0 = schema_from_ddl_history([_CREATE], "tpch.orders")
    ghost = schema_from_ddl_history([_GHOST], "tpch._orders_gho")
    blob = build_binlog_file(
        "tpch", "orders", gen0,
        [
            {"gno": 1, "ddl": _CREATE},
            {"gno": 2, "op": "w", "rows": [
                {"id": 1, "price": Decimal("9.50"), "flag": "AB"}
            ]},
            {"gno": 3, "ddl": _GHOST},
        ],
        checksum=True,
    )
    blob += build_binlog_file(
        "tpch", "_orders_gho", ghost,
        [
            {"gno": 4, "op": "w", "rows": [
                {"id": 1, "price": Decimal("999.9999"),
                 "note": "backfill", "flag": "XX"}
            ]},
            {"gno": 5, "ddl": _CUTOVER},
        ],
        checksum=True,
    )[4:]
    blob += build_binlog_file(
        "tpch", "orders", ghost,
        [
            {"gno": 6, "op": "w", "rows": [
                {"id": 2, "price": Decimal("1.2345"),
                 "note": "post", "flag": "CD"}
            ]},
        ],
        checksum=True,
    )[4:]
    _vec_vs_scalar_history(blob, table="orders", db="tpch")


def test_vec_schema_history_without_create_raises():
    from pyspark.sql import types as T

    from mysql_cdc_table_spark.sources.mysql_ddl import SchemaHistory

    sch = T.StructType([T.StructField("id", T.LongType())])
    blob = build_binlog_file(
        "d", "t", sch,
        [{"gno": 1, "op": "w", "rows": [{"id": 1}]}],
        checksum=True,
    )
    with pytest.raises(ValueError, match="no CREATE TABLE"):
        decode_binlog_pandas(
            blob, None, "d", "t",
            schema_history=SchemaHistory("t", database="d"),
        )


# --- maintained histogram under CDC deltas ------------------------------------


def test_histogram_maintained_equals_recount(spark):
    """The maintained per-bucket counts after the three delta batches
    equal a from-scratch recount of the FINAL state against the frozen
    boundary grid — and the deltas genuinely move rows (the maintained
    counts differ from the base build's)."""
    from conftest import SF_SMOKE
    from mysql_cdc_table_spark.operators.round13 import (
        HIST_BUCKETS,
        _hist_one_column,
    )
    from mysql_cdc_table_spark.operators.round15 import (
        _HM_A,
        _HM_M,
        stats_histogram_maintained,
    )
    from mysql_cdc_table_spark.operators._util import t as _t

    rows = sorted(
        stats_histogram_maintained(spark, SF_SMOKE).collect(),
        key=lambda r: r["bucket"],
    )
    assert len(rows) == HIST_BUCKETS
    # cum_rows is the running sum of n_rows
    run = 0
    for r in rows:
        run += r["n_rows"]
        assert r["cum_rows"] == run
    # recount the final state per frozen bucket from first principles
    ks = [
        r["k"]
        for r in _t(spark, SF_SMOKE, "orders")
        .selectExpr("o_orderkey AS k")
        .collect()
    ]
    base_vals = sorted(
        ((k * _HM_A) % _HM_M) * 2 for k in ks if k % 10 != 0
    )
    n = len(base_vals)
    his = {}
    for i, v in enumerate(base_vals):
        b = (i * HIST_BUCKETS) // n
        his[b] = v  # max per bucket (sorted ascending)
    final = []
    for k in ks:
        if k % 10 == 0:
            final.append(((k * _HM_A) % _HM_M) * 2)
        elif k % 7 == 0:
            final.append(((k * _HM_A) % _HM_M) * 2 + 1)
        elif k % 9 == 0:
            continue
        else:
            final.append(((k * _HM_A) % _HM_M) * 2)
    want = {b: 0 for b in range(HIST_BUCKETS)}
    bounds = sorted(his.items())
    for v in final:
        b = next((bb for bb, hi in bounds if v <= hi), bounds[-1][0])
        want[b] += 1
    got = {r["bucket"]: r["n_rows"] for r in rows}
    assert got == want
    # the deltas moved rows: at least one bucket differs from the base
    base = {
        r["bucket"]: r["n_rows"]
        for r in _hist_one_column(
            _t(spark, SF_SMOKE, "orders")
            .selectExpr(
                f"((o_orderkey * {_HM_A}) % {_HM_M}) * 2 AS val",
                "o_orderkey AS rid",
            )
            .where("o_orderkey % 10 <> 0"),
            "base",
        ).collect()
    }
    assert any(got[b] != base[b] for b in got)


# --- z-order probe #2: row-group pruning within buckets -----------------------


def test_zorder_rowgroup_probe_matches_direct_and_pushes_zkey(
    spark, tmp_path, monkeypatch
):
    """The within-bucket probe answers exactly the direct box
    aggregate, and the zkey range predicate is PUSHED to the parquet
    scan (row-group footers can serve it) — not just evaluated
    post-scan."""
    import os as _os

    from conftest import SF_CORRECTNESS
    from pyspark.sql import functions as F

    from mysql_cdc_table_spark.catalog import load_table
    from mysql_cdc_table_spark.operators import round14 as r14
    from mysql_cdc_table_spark.operators import round15 as r15

    if not _os.path.isdir(SF_CORRECTNESS):
        pytest.skip(f"{SF_CORRECTNESS} not present")
    store = str(tmp_path / "zstore")
    monkeypatch.setattr(r14, "zorder_store_dir", lambda _sf: store)
    df = r15.zorder_rowgroup_probe(spark, SF_CORRECTNESS)
    got = df.collect()[0]

    o = load_table(spark, SF_CORRECTNESS, "orders")
    maxck = o.agg(F.max("o_custkey").cast("long")).first()[0]
    direct = (
        o.where(
            F.col("o_custkey").between(
                maxck * 35 // 100, maxck * 38 // 100
            )
            & F.col("o_orderdate").between("1994-03-01", "1994-04-30")
        )
        .agg(
            F.count("*").cast("long"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100).cast("long")
            ).cast("long"),
            F.sum("o_custkey").cast("long"),
        )
        .collect()[0]
    )
    assert tuple(got) == tuple(direct)

    # the zkey range reaches the scan: PushedFilters names zkey
    from mysql_cdc_table_spark.plans.audit import formatted_plan

    plan = formatted_plan(df)
    pushed = [
        ln for ln in plan.splitlines() if "PushedFilters" in ln
    ]
    assert any(
        "zkey" in ln and ("GreaterThanOrEqual" in ln or ">=" in ln)
        for ln in pushed
    ), pushed


# --- split-parallel schema-history decode -------------------------------------


def _history_ranges(spark, tmp_path, blob, split_bytes):
    """``blob`` as a one-file directory read through
    ``format("mysql_binlog")`` without a schema and with a tiny
    ``split_bytes``: the planner's range specs
    (``MysqlBinlogReader(opts).partitions()``) and the read's rows as
    dicts, every range decoded on its own through the columnar kernel
    onto the file-final layout."""
    from mysql_cdc_table_spark.sources.datasource import register
    from mysql_cdc_table_spark.sources.mysql_binlog import MysqlBinlogReader

    d = tmp_path / f"one_{split_bytes}"
    d.mkdir()
    (d / "binlog.000001").write_bytes(blob)
    opts = {
        "path": str(d), "database": "d", "table": "t",
        "split_bytes": str(split_bytes),
    }
    splits = [
        s
        for part in MysqlBinlogReader(opts).partitions()
        for _p, _q, s in part.ranges
    ]
    register(spark)
    df = spark.read.format("mysql_binlog").options(**opts).load()
    return splits, [r.asDict() for r in df.collect()]


def _assert_rows_match_walk(got, want):
    """Kernel rows vs the scalar walk's: the same (event, image) keys,
    every scalar value equal, and every column the scalar row lacks
    (added after its generation) NULL."""
    key = lambda r: (r["__event_seq"], r["__image_seq"])  # noqa: E731
    got_by = {key(r): r for r in got}
    want_by = {key(r): r for r in want}
    assert len(got_by) == len(got)
    assert got_by.keys() == want_by.keys()
    for k, w in want_by.items():
        g = got_by[k]
        for c, v in w.items():
            assert g[c] == v, (k, c, g[c], v)
        assert all(g[c] is None for c in g.keys() - w.keys()), (k, g, w)


def test_split_history_ranges_union_equals_whole_file_walk(spark, tmp_path):
    """Tiny target ranges force split starts inside every generation;
    each range decodes independently through the columnar kernel
    (prefix-seeded history, file-final identity placement) and the
    union equals the whole-file walk."""
    from mysql_cdc_table_spark.sources.mysql_ddl import SchemaHistory

    blob = _three_gen_blob()
    splits, got = _history_ranges(spark, tmp_path, blob, 64)
    assert len(splits) >= 4, "fixture must split into several ranges"
    # the last range opens past all three statements of the file
    assert max(len(sp["ddl"]) for sp in splits) == 3
    # at least one range starts past the first DDL (non-empty prefix)
    assert any(sp["ddl"] for sp in splits)
    hist = SchemaHistory("t", database="d")
    want = decode_binlog_bytes(blob, None, "d", "t", schema_history=hist)
    _assert_rows_match_walk(got, want)


def _partial_json_then_rename():
    """A PARTIAL_JSON update (PARTIAL_UPDATE_ROWS, decoded on the scalar
    walk) under ``flag``, then ``RENAME COLUMN flag TO cflag``: the
    update's range, or its file, ends before the rename."""
    from mysql_cdc_table_spark.sources.mysql_ddl import (
        schema_from_ddl_history,
    )

    create = (
        "CREATE TABLE `d`.`t` (`id` BIGINT, `flag` CHAR(2), `doc` JSON)"
    )
    rename = "ALTER TABLE `d`.`t` RENAME COLUMN `flag` TO `cflag`"
    g0 = schema_from_ddl_history([create], "d.t")
    g1 = schema_from_ddl_history([create, rename], "d.t")
    r1 = {"id": 1, "flag": "AA", "doc": '{"a": 1}'}
    r1b = {"id": 1, "flag": "AB", "doc": '{"a": 2}'}
    head = build_binlog_file(
        "d", "t", g0,
        [
            {"gno": 1, "ddl": create},
            {"gno": 10, "op": "w", "rows": [r1]},
            {"gno": 11, "op": "pu",
             "rows": [(r1, r1b, {"doc": [("replace", "$.a", 2)]})]},
        ],
        checksum=True,
    )
    tail = build_binlog_file(
        "d", "t", g1,
        [
            {"gno": 2, "ddl": rename},
            {"gno": 12, "op": "w",
             "rows": [{"id": 2, "cflag": "BB", "doc": '{"a": 3}'}]},
        ],
        checksum=True,
    )
    return head, tail


def test_partial_json_rows_surface_under_final_layout(spark, tmp_path):
    """PARTIAL_UPDATE_ROWS images stay on the scalar walk, which names
    them after the range's (or file's) own final generation; the
    kernel must still place them onto the final layout by identity,
    through the split ranges and through the rotated-series reader."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        mysql_binlog_read_ddl_history,
    )
    from mysql_cdc_table_spark.sources.mysql_ddl import SchemaHistory

    head, tail = _partial_json_then_rename()
    blob = head + tail[4:]
    want = decode_binlog_bytes(
        blob, None, "d", "t", schema_history=SchemaHistory("t", database="d")
    )
    flags = {(r["id"], r["__op"]): r["cflag"] for r in want}
    assert flags == {(1, 1): "AA", (1, 2): "AA", (1, 3): "AB", (2, 1): "BB"}

    splits, got = _history_ranges(spark, tmp_path, blob, 32)
    assert len(splits) >= 3
    _assert_rows_match_walk(got, want)

    series = tmp_path / "series"
    series.mkdir()
    (series / "binlog.000001").write_bytes(head)
    (series / "binlog.000002").write_bytes(tail)
    df = mysql_binlog_read_ddl_history(spark, str(series), "d", "t")
    got = {(r["id"], r["__op"]): r["cflag"] for r in df.collect()}
    assert got == flags


def test_split_history_without_prefix_still_raises():
    from mysql_cdc_table_spark.sources.mysql_ddl import SchemaHistory

    blob = _three_gen_blob()
    with pytest.raises(ValueError, match="DDL prefix"):
        decode_binlog_bytes(
            blob[4:], None, "d", "t",
            schema_history=SchemaHistory("t", database="d"),
            init_state={"checksum": True, "gtid": None, "sid": None,
                        "table_maps": []},
        )


# --- cross-file schema history (rotated series) --------------------------------


def test_read_ddl_history_series_both_kernels(spark, tmp_path):
    """A three-file rotated series whose DDL spans file boundaries:
    the zero-declaration reader learns each file's layout from the
    prefix of EARLIER files, decodes per file, and remaps onto the
    series-final names. The Spark read (columnar kernel) must equal
    the whole-series scalar walk, so both kernels run."""
    import os

    from decimal import Decimal as _D

    from mysql_cdc_table_spark.sources.mysql_binlog import (
        build_binlog_file,
        mysql_binlog_read_ddl_history,
    )
    from mysql_cdc_table_spark.sources.mysql_ddl import (
        SchemaHistory,
        schema_from_ddl_history,
    )

    create = (
        "CREATE TABLE `d`.`t` (`id` BIGINT, `price` DECIMAL(12,2),"
        " `flag` CHAR(2))"
    )
    alter1 = "ALTER TABLE `d`.`t` ADD COLUMN `status` ENUM('F','O')"
    alter2 = (
        "ALTER TABLE `d`.`t` MODIFY COLUMN `price` DECIMAL(14,4),"
        " RENAME COLUMN `flag` TO `cflag`"
    )
    g0 = schema_from_ddl_history([create], "d.t")
    g1 = schema_from_ddl_history([create, alter1], "d.t")
    g2 = schema_from_ddl_history([create, alter1, alter2], "d.t")
    f1 = build_binlog_file(
        "d", "t", g0,
        [
            {"gno": 1, "ddl": create},
            {"gno": 10, "op": "w", "rows": [
                {"id": 1, "price": _D("1.25"), "flag": "AA"}
            ]},
        ],
        checksum=True,
    )
    # file 2 carries NO DDL of its own at the head: its rows decode
    # against file 1's CREATE — the cross-file dependency — and the
    # ALTER lands mid-file
    f2 = build_binlog_file(
        "d", "t", g0,
        [
            {"gno": 11, "op": "w", "rows": [
                {"id": 2, "price": _D("2.50"), "flag": "BB"}
            ]},
            {"gno": 2, "ddl": alter1},
        ],
        checksum=True,
    ) 
    f2 += build_binlog_file(
        "d", "t", g1,
        [
            {"gno": 12, "op": "w", "rows": [
                {"id": 3, "price": _D("3.75"), "flag": "CC",
                 "status": "O"}
            ]},
        ],
        checksum=True,
    )[4:]
    f3 = build_binlog_file(
        "d", "t", g1,
        [{"gno": 3, "ddl": alter2}],
        checksum=True,
    )
    f3 += build_binlog_file(
        "d", "t", g2,
        [
            {"gno": 13, "op": "w", "rows": [
                {"id": 4, "price": _D("4.1234"), "cflag": "DD",
                 "status": "F"}
            ]},
        ],
        checksum=True,
    )[4:]
    series = str(tmp_path / "series")
    os.makedirs(series)
    for i, b in enumerate((f1, f2, f3), start=1):
        with open(os.path.join(series, f"binlog.{i:06d}"), "wb") as fh:
            fh.write(b)

    # reference: one scalar walk over the concatenated series
    hist = SchemaHistory("t", database="d")
    want_rows = decode_binlog_bytes(
        f1 + f2[4:] + f3[4:], None, "d", "t", schema_history=hist
    )
    want = {
        r["id"]: (r["price"], r.get("cflag"), r.get("status"))
        for r in want_rows
    }
    assert set(want) == {1, 2, 3, 4}
    assert want[1] == (_D("1.25"), "AA", None)  # pre-ALTER carried

    df = mysql_binlog_read_ddl_history(spark, series, "d", "t")
    got = {
        r["id"]: (r["price"], r["cflag"], r["status"])
        for r in df.collect()
    }
    assert set(got) == set(want)
    for k, w in want.items():
        assert got[k] == w, (k, got[k], w)


def test_read_ddl_history_no_create_raises(spark, tmp_path):
    import os

    from pyspark.errors import AnalysisException
    from pyspark.sql import types as T

    from mysql_cdc_table_spark.sources.mysql_binlog import (
        mysql_binlog_read_ddl_history,
    )

    sch = T.StructType([T.StructField("id", T.LongType())])
    series = str(tmp_path / "s2")
    os.makedirs(series)
    blob = build_binlog_file(
        "d", "t", sch, [{"gno": 1, "op": "w", "rows": [{"id": 1}]}],
        checksum=True,
    )
    with open(os.path.join(series, "binlog.000001"), "wb") as fh:
        fh.write(blob)
    # schema() raises in the Python worker; Spark wraps it
    with pytest.raises(AnalysisException, match="no CREATE TABLE"):
        mysql_binlog_read_ddl_history(spark, series, "d", "t")


# --- CONVERT TO CHARACTER SET / DEFAULT CHARSET in the fold --------------------


def test_convert_to_charset_rewrites_string_columns():
    from mysql_cdc_table_spark.sources.mysql_ddl import (
        SchemaHistory,
    )

    h = SchemaHistory("t", database="d")
    h.apply(
        "CREATE TABLE d.t (id BIGINT, city VARCHAR(20), code CHAR(3),"
        " note TEXT, payload BLOB, j JSON) DEFAULT CHARSET=latin1"
    )
    city0 = next(f for f in h.schema.fields if f.name == "city")
    assert city0.metadata["charset"] == "latin1"
    assert city0.metadata["varchar_len"] == 20  # latin1: 1 B/char
    gen = h.generation
    assert h.apply("ALTER TABLE d.t CONVERT TO CHARACTER SET gbk")
    assert h.generation == gen + 1  # layout change, not a table option
    by = {f.name: f for f in h.schema.fields}
    assert by["city"].metadata["charset"] == "gbk"
    assert by["city"].metadata["varchar_len"] == 40  # 20 chars x 2
    assert by["code"].metadata["charset"] == "gbk"
    assert by["code"].metadata["char_bytes"] == 6  # 3 chars x 2
    assert by["note"].metadata["charset"] == "gbk"
    assert "charset" not in (by["payload"].metadata or {})  # binary
    assert by["j"].metadata.get("mysql_type") == "json"  # untouched
    # identities survive the conversion (same columns, new surface)
    assert h.ids == (0, 1, 2, 3, 4, 5)
    # converting to utf8mb4 drops the charset marker (the default path)
    h.apply("ALTER TABLE d.t CONVERT TO CHARACTER SET utf8mb4")
    by = {f.name: f for f in h.schema.fields}
    assert "charset" not in by["city"].metadata
    assert by["city"].metadata["varchar_len"] == 80  # 20 chars x 4


def test_default_charset_alter_governs_future_adds():
    from mysql_cdc_table_spark.sources.mysql_ddl import SchemaHistory

    h = SchemaHistory("t", database="d")
    h.apply("CREATE TABLE d.t (id BIGINT, a VARCHAR(5))")
    # option-only ALTER: no layout change (returns False), but the
    # default moves — the next ADD inherits gbk
    assert not h.apply("ALTER TABLE d.t DEFAULT CHARACTER SET = gbk")
    a = next(f for f in h.schema.fields if f.name == "a")
    assert "charset" not in (a.metadata or {})  # existing col untouched
    h.apply("ALTER TABLE d.t ADD COLUMN b VARCHAR(5)")
    b = next(f for f in h.schema.fields if f.name == "b")
    assert b.metadata["charset"] == "gbk"
    assert b.metadata["varchar_len"] == 10  # 5 chars x mbmaxlen 2
    # running default INSIDE one statement: CONVERT then ADD
    h.apply(
        "ALTER TABLE d.t CONVERT TO CHARACTER SET latin1,"
        " ADD COLUMN c VARCHAR(5)"
    )
    c = next(f for f in h.schema.fields if f.name == "c")
    assert c.metadata["charset"] == "latin1"
    assert c.metadata["varchar_len"] == 5


# --- DDL verb completion: IF NOT EXISTS, LIKE, DROP TABLE ----------------------


def test_create_if_not_exists_is_noop_on_live_table():
    h = _hist()
    h.apply(_CREATE)
    h.apply("ALTER TABLE tpch.orders ADD COLUMN extra INT")
    ids = h.ids
    gen = h.generation
    # the server no-ops this even though the declared layout differs
    assert not h.apply(
        "CREATE TABLE IF NOT EXISTS `tpch`.`orders` (`zzz` INT)"
    )
    assert h.ids == ids and h.generation == gen


def test_create_like_clones_layout_with_fresh_ids():
    h = _hist()
    h.apply(_CREATE)
    assert h.ids == (0, 1, 2)
    # the gh-ost ghost: LIKE clone, then evolve, then cut over
    assert not h.apply(
        "CREATE TABLE `tpch`.`_orders_gho` LIKE `tpch`.`orders`"
    )
    h.apply("ALTER TABLE tpch._orders_gho ADD COLUMN note VARCHAR(30)")
    h.apply(_CUTOVER)
    assert h.names == ("id", "price", "flag", "note")
    # clone columns inherit the tracked identities by NAME at swap-in
    assert h.ids == (0, 1, 2, 6)


def test_create_like_unknown_source_raises():
    h = _hist()
    h.apply(_CREATE)
    with pytest.raises(ValueError, match="not in the schema history"):
        h.apply("CREATE TABLE tpch.x LIKE tpch.unknown")


def test_drop_table_clears_tracked_and_registry():
    h = _hist()
    h.apply(_CREATE)
    h.apply("CREATE TABLE tpch.other (x INT)")
    assert not h.apply("DROP TABLE tpch.other")  # registry-only
    assert h.apply("DROP TABLE IF EXISTS tpch.orders")
    assert h.schema is None
    # ALTER after the drop fails pointedly
    with pytest.raises(ValueError, match="ALTER before CREATE"):
        h.apply("ALTER TABLE tpch.orders ADD COLUMN x INT")
    # re-CREATE: same-named columns inherit their identities (the
    # logical table continues across DROP+CREATE, Debezium-style)
    assert h.apply(_CREATE)
    assert h.ids == (0, 1, 2)


def test_decode_drop_and_recreate_mid_walk():
    """Rows before a DROP keep surfacing after the re-CREATE: the
    logical table continues, so same-named columns join back to their
    identities and pre-drop values carry — Debezium's contract across
    DROP+CREATE."""
    from decimal import Decimal as _D

    from mysql_cdc_table_spark.sources.mysql_ddl import (
        SchemaHistory,
        schema_from_ddl_history,
    )

    create = "CREATE TABLE d.t (id BIGINT, price DECIMAL(12,2))"
    sch = schema_from_ddl_history([create], "d.t")
    blob = build_binlog_file(
        "d", "t", sch,
        [
            {"gno": 1, "ddl": create},
            {"gno": 10, "op": "w", "rows": [
                {"id": 1, "price": _D("1.00")}
            ]},
            {"gno": 2, "ddl": "DROP TABLE d.t"},
            {"gno": 3, "ddl": create},
            {"gno": 11, "op": "w", "rows": [
                {"id": 2, "price": _D("2.00")}
            ]},
        ],
        checksum=True,
    )
    hist = SchemaHistory("t", database="d")
    rows = decode_binlog_bytes(blob, None, "d", "t", schema_history=hist)
    got = {r["id"]: r for r in rows}
    assert set(got) == {1, 2}
    assert got[1]["price"] == _D("1.00")  # carried across DROP+CREATE
    assert got[2]["price"] == _D("2.00")


def test_decode_drop_at_end_of_walk_keeps_last_live_generation():
    from decimal import Decimal as _D

    from mysql_cdc_table_spark.sources.mysql_ddl import (
        SchemaHistory,
        schema_from_ddl_history,
    )

    create = "CREATE TABLE d.t (id BIGINT, price DECIMAL(12,2))"
    sch = schema_from_ddl_history([create], "d.t")
    blob = build_binlog_file(
        "d", "t", sch,
        [
            {"gno": 1, "ddl": create},
            {"gno": 10, "op": "w", "rows": [
                {"id": 1, "price": _D("1.00")}
            ]},
            {"gno": 2, "ddl": "DROP TABLE d.t"},
        ],
        checksum=True,
    )
    hist = SchemaHistory("t", database="d")
    rows = decode_binlog_bytes(blob, None, "d", "t", schema_history=hist)
    assert [(r["id"], r["price"]) for r in rows] == [(1, _D("1.00"))]
