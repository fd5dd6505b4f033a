"""Deterministic CDC inputs for the benchmark, made from the seed.

``ChangeGen`` produces MySQL-style transactions (inserts, updates with
before/after images, deletes) over a bounded key space and keeps the
answers every op is checked against: the latest state per key and the
image counts and decimal sums per ``__op`` code. ``BinlogSeries``
lays those transactions out as a rotating binlog v4 directory the way
a server does: it appends to the active file, seals it with a ROTATE
event, opens the next file with a PREVIOUS_GTIDS head and purges the
oldest file past the retention length.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import zlib
from decimal import Decimal
from pathlib import Path

from pyspark.sql import types as T

from mysql_cdc_table_spark.cdc.schema import (
    CDC_DELETE,
    CDC_INSERT,
    CDC_UPDATE_AFTER,
    CDC_UPDATE_BEFORE,
)
from mysql_cdc_table_spark.sources.mysql_binlog import build_binlog_file

DB, TABLE = "shop", "orders"
DDL = "id bigint, v string, amt decimal(12,2), qty int"
TARGET = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("amt", T.DecimalType(12, 2)),
        T.StructField("qty", T.IntegerType()),
    ]
)
SID = bytes.fromhex("3e11fa4771ca11e1" "9e33c80aa9429562")
BASE_TS = 1_700_000_000
# Transaction kinds in the mix of the repo's primary CDC fixture
# (FIXTURES.md, B1 orders_cdc): every key is inserted once, 30% of keys
# get 1-3 update pairs (0.6 per key on average) and 10% are deleted, so
# of 1.7 changes per key 1/1.7 insert, 0.6/1.7 update, 0.1/1.7 delete.
B1_MIX = {"w": 1 / 1.7, "u": 0.6 / 1.7, "d": 0.1 / 1.7}


class ChangeGen:
    """Transactions over keys 1..keys with a known latest state."""

    def __init__(self, seed: int, keys: int, mix: dict[str, float] | None = None):
        """``mix`` gives fixed shares of insert ("w"), update ("u") and
        delete ("d") transactions. Without it, updates keep their B1
        share and the rest insert or delete with the odds of the dead
        and live key shares, which holds the live key count near half
        the key space whatever the seed: a stationary store."""
        self.rng = random.Random(seed)
        self.mix = mix
        self.state: dict[int, dict] = {}
        self.live: list[int] = []
        self.dead: list[int] = list(range(1, keys + 1))
        self.gno = 0
        # per __op code: [row images, sum of amt]
        self.totals = {
            op: [0, Decimal("0.00")]
            for op in (CDC_DELETE, CDC_INSERT, CDC_UPDATE_BEFORE, CDC_UPDATE_AFTER)
        }

    def _row(self, key: int) -> dict:
        r = self.rng
        return {
            "id": key,
            "v": f"sku-{r.randrange(10**8):08d}",
            "amt": Decimal(r.randrange(1, 10**9)).scaleb(-2),
            "qty": r.randrange(1, 10_000),
        }

    def _count(self, op: int, row: dict) -> None:
        t = self.totals[op]
        t[0] += 1
        t[1] += row["amt"]

    @staticmethod
    def _take(pool: list[int], picks: list[int]) -> list[int]:
        """Remove the keys at positions ``picks`` (swap-remove)."""
        keys = []
        for i in sorted(picks, reverse=True):
            keys.append(pool[i])
            pool[i] = pool[-1]
            pool.pop()
        return keys

    def txn(self, n_rows: int, kind: str | None = None) -> dict:
        """One transaction of ``n_rows`` row changes of a single kind."""
        if kind is None and self.mix is not None:
            x = self.rng.random()
            kind = "w" if x < self.mix["w"] else "u" if x < self.mix["w"] + self.mix["u"] else "d"
        elif kind is None:
            live = len(self.live) / (len(self.live) + len(self.dead))
            if self.rng.random() < B1_MIX["u"]:
                kind = "u"
            else:
                kind = "d" if self.rng.random() < live else "w"
        if kind != "w" and len(self.live) < n_rows:
            kind = "w"
        if kind == "w" and len(self.dead) < n_rows:
            kind = "u"
        self.gno += 1
        if kind == "w":
            keys = self._take(self.dead, self.rng.sample(range(len(self.dead)), n_rows))
            rows = []
            for k in keys:
                row = self._row(k)
                self.state[k] = row
                self.live.append(k)
                self._count(CDC_INSERT, row)
                rows.append(row)
        elif kind == "u":
            keys = [self.live[i] for i in self.rng.sample(range(len(self.live)), n_rows)]
            rows = []
            for k in keys:
                before, after = self.state[k], self._row(k)
                self.state[k] = after
                self._count(CDC_UPDATE_BEFORE, before)
                self._count(CDC_UPDATE_AFTER, after)
                rows.append((before, after))
        else:
            keys = self._take(self.live, self.rng.sample(range(len(self.live)), n_rows))
            rows = []
            for k in keys:
                row = self.state.pop(k)
                self.dead.append(k)
                self._count(CDC_DELETE, row)
                rows.append(row)
        return {"gno": self.gno, "op": kind, "rows": rows, "ts": BASE_TS + self.gno}

    def txns(self, n: int, max_rows: int = 10) -> list[dict]:
        return [self.txn(self.rng.randint(1, max_rows)) for _ in range(n)]

    def txns_for(self, n_images: int, max_rows: int = 10) -> list[dict]:
        """Transactions until they hold at least ``n_images`` row images."""
        out, n = [], 0
        while n < n_images:
            out.append(self.txn(self.rng.randint(1, max_rows)))
            n += images(out[-1])
        return out

    def fill(self, max_rows: int = 10) -> list[dict]:
        """Insert transactions until half the key space is live."""
        out = []
        while len(self.live) < len(self.dead):
            n = min(self.rng.randint(1, max_rows), len(self.dead) - len(self.live))
            out.append(self.txn(n, "w"))
        return out

    def expected_ops(self) -> dict[int, tuple[int, Decimal]]:
        """{__op: (row images, sum of amt)} over every transaction so far."""
        return {op: (n, s) for op, (n, s) in self.totals.items() if n}

    def state_digest(self) -> tuple[int, Decimal, int]:
        """(live keys, sum of amt, sum of per-row CRC32) of the latest state."""
        return digest(self.state.values())


def images(txn: dict) -> int:
    """Row images a transaction puts in the changelog."""
    return len(txn["rows"]) * (2 if txn["op"] == "u" else 1)


def digest(rows) -> tuple[int, Decimal, int]:
    """Order-free digest of (id, v, amt, qty) rows, shared by every check."""
    n, amt, crc = 0, Decimal("0.00"), 0
    for r in rows:
        n += 1
        amt += r["amt"]
        crc += zlib.crc32(f"{r['id']}|{r['v']}|{r['amt']}|{r['qty']}".encode())
    return n, amt, crc


def changelog_rows(txns: list[dict]):
    """The changelog images of ``txns`` as dicts carrying the CDC metadata
    columns the ``mysql_binlog`` sink groups and orders by."""
    ops = {"w": CDC_INSERT, "d": CDC_DELETE}
    for t in txns:
        tm = dt.datetime.fromtimestamp(t["ts"], dt.timezone.utc)
        meta = {"__gtid": t["gno"], "__tm": tm, "__file_seq": 1, "__event_seq": 0}
        if t["op"] == "u":
            for i, (before, after) in enumerate(t["rows"]):
                yield {**before, **meta, "__op": CDC_UPDATE_BEFORE, "__image_seq": 2 * i}
                yield {**after, **meta, "__op": CDC_UPDATE_AFTER, "__image_seq": 2 * i + 1}
        else:
            for i, row in enumerate(t["rows"]):
                yield {**row, **meta, "__op": ops[t["op"]], "__image_seq": i}


class BinlogSeries:
    """A rotating binlog directory with one active file, purged to
    ``retain`` files on every rotation.

    The active file is append-only on disk: each append rebuilds the
    file's bytes from its transactions (deterministic, so the old bytes
    are a prefix of the new ones) and writes only the new suffix.
    """

    def __init__(self, directory: Path, retain: int):
        self.dir = directory
        self.retain = retain
        self.seq = 0
        self.txns: list[dict] = []
        self.blob = b""
        self.next_gno = 1  # first gno the active file may hold
        self.rotations = 0
        directory.mkdir(parents=True, exist_ok=True)
        self._open()

    def _path(self, seq: int) -> Path:
        return self.dir / f"binlog.{seq:06d}"

    def _build(self, rotate_to: str | None = None) -> bytes:
        head = {} if self.next_gno == 1 else {SID: [(1, self.next_gno)]}
        return build_binlog_file(
            DB, TABLE, TARGET, self.txns, sid=SID, checksum=True,
            base_ts=BASE_TS + self.next_gno, previous_gtids=head,
            rotate_to=rotate_to,
        )

    def _write_suffix(self, blob: bytes) -> None:
        if not blob.startswith(self.blob):
            raise AssertionError("binlog rebuild is not append-only")
        with open(self._path(self.seq), "ab") as fh:
            fh.write(blob[len(self.blob):])
        self.blob = blob

    def _open(self) -> None:
        self.seq += 1
        self.txns = []
        self.blob = b""
        self._write_suffix(self._build())

    def append(self, txns: list[dict], rotate: bool = False) -> None:
        """Append ``txns`` to the active file; with ``rotate``, also seal
        it and open the next one."""
        self.txns.extend(txns)
        if not rotate:
            self._write_suffix(self._build())
            return
        self._write_suffix(self._build(rotate_to=self._path(self.seq + 1).name))
        self.next_gno = self.txns[-1]["gno"] + 1
        self._open()
        self.rotations += 1
        for p in self.files()[: -self.retain]:
            os.remove(p)

    def files(self) -> list[str]:
        return sorted(str(p) for p in self.dir.glob("binlog.*"))
