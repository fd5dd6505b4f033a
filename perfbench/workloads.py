"""The benchmark's workloads. Each is one closed-loop client that drives
the engine only through its public entry points.

Every workload has the same shape: ``stage`` makes the fixture from
the seed (part of set-up), ``prepare`` makes the next op's input
(untimed), ``build`` is the driver-side call that builds and returns a
DataFrame or writer, ``execute`` runs it, and ``check`` compares the
result with the answer the generator already knows and returns the
row images the op handled. Traced runs also call ``probe`` after each
op and ``end_probe`` once after the timed window.

Why these workloads, and what each one bypasses (README.md has more):

- replay_scan: a full replay through ``spark.read.format("mysql_binlog")``
  and a narrow aggregate. Most work is the decode kernel, the Arrow
  boundary and the per-query Python data source planning; listing,
  pruning, shuffle and the writer are bypassed. Its traced run also
  writes the same changelog back out through
  ``df.write.format("mysql_binlog")`` to measure the writer layer.
- checkpoint_poll: one ``availableNow`` pass of the sub-rotation tail
  into the bucketed latest-state store per op, over a small appended
  batch. Most work is streaming query start-up, offsets and commits,
  the latest_state shuffle and the store rewrite; bulk decode and the
  writer are bypassed.
"""

from __future__ import annotations

import os
import statistics
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from fixtures import (
    B1_MIX,
    DB,
    DDL,
    TABLE,
    TARGET,
    BinlogSeries,
    ChangeGen,
    changelog_rows,
    digest,
    images,
)
from mysql_cdc_table_spark.cdc.ops import latest_state
from mysql_cdc_table_spark.sources.mysql_binlog import (
    binlog_chain_gaps,
    mysql_binlog_tail_stream,
)
from mysql_cdc_table_spark.sources.mysql_binlog_vec import (
    decode_binlog_record_batches,
)
from mysql_cdc_table_spark.streaming.cdc_stream import (
    materialize_latest_state_partitioned,
    run_to_completion,
)

CHANGELOG_SCHEMA = pa.schema(
    [
        ("id", pa.int64()), ("v", pa.string()), ("amt", pa.decimal128(12, 2)),
        ("qty", pa.int32()), ("__op", pa.int32()), ("__gtid", pa.int64()),
        ("__tm", pa.timestamp("us", tz="UTC")), ("__file_seq", pa.int32()),
        ("__event_seq", pa.int64()), ("__image_seq", pa.int32()),
    ]
)


class WrongResult(Exception):
    """An op returned something other than the generator's answer."""


def _expect(what: str, got, want) -> None:
    if got != want:
        raise WrongResult(f"{what}: got {got!r}, want {want!r}")


def _binlog_reader(spark):
    return (
        spark.read.format("mysql_binlog")
        .option("schema_ddl", DDL)
        .option("database", DB)
        .option("table", TABLE)
    )


def _dir_bytes(path: Path) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(path) for f in fs
    )


class Workload:
    prune_bound = 0  # start_after_gno given to series pruning in traced runs
    WARMUP_OPS = 5  # untimed ops before the window; see README.md

    spark = None  # set once the session is up; staging does not use it

    def __init__(self, work: Path, seed: int):
        self.work = work
        self.seed = seed
        self.sample_txns: list[dict] = []  # encode microbenchmark input

    def prepare(self) -> None:
        """Make the next op's input; untimed."""

    def probe(self, result) -> dict:
        return {}

    def end_probe(self) -> dict:
        return {}

    def flat(self) -> dict:
        """Sizes that must stay flat over a run, and the rotation count."""
        return {}


class ReplayScan(Workload):
    """Full replay of a retained series and counts/sums per ``__op``."""

    # every file holds the row images of one file of bench.py's sf0.1
    # binlog fixture (2,500 transactions of 10 rows); 4 files keep an op
    # short enough for a 10 s window and still feed both Spark cores
    FILES = 4
    IMAGES_PER_FILE = 25_000
    KEYS = 100_000  # more than the series inserts: B1 inserts fresh keys
    SINK_PARTITIONS = 4

    def stage(self) -> None:
        gen = ChangeGen(self.seed, self.KEYS, B1_MIX)
        self.series = BinlogSeries(self.work / "replay", retain=self.FILES)
        for i in range(self.FILES):
            txns = gen.txns_for(self.IMAGES_PER_FILE)
            self.series.append(txns, rotate=i < self.FILES - 1)
        self.sample_txns = txns  # one file's worth
        self.expected = gen.expected_ops()
        self.images = sum(n for n, _s in self.expected.values())

    def build(self):
        return (
            _binlog_reader(self.spark)
            .load(str(self.series.dir))
            .groupBy("__op")
            .agg(F.count("*").alias("n"), F.sum("amt").alias("amt"))
        )

    def execute(self, built):
        return built.collect()

    def check(self, result) -> int:
        _expect("rows per __op", {r["__op"]: (r["n"], r["amt"]) for r in result},
                self.expected)
        return self.images

    def files(self) -> list[str]:
        return self.series.files()

    def end_probe(self, reps: int = 3) -> dict:
        """The writer layer: the last file's changelog, staged as parquet,
        written back out through the ``mysql_binlog`` sink and checked by
        decoding the files it wrote."""
        rows = list(changelog_rows(self.sample_txns))
        staged = self.work / "staged"
        staged.mkdir()
        pq.write_table(pa.Table.from_pylist(rows, CHANGELOG_SCHEMA), staged / "part-0.parquet")
        want = digest(rows)
        out = self.work / "archive"
        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            (
                self.spark.read.parquet(str(staged))
                .repartition(self.SINK_PARTITIONS, "__gtid")
                .write.format("mysql_binlog")
                .option("schema_ddl", DDL)
                .option("database", DB)
                .option("table", TABLE)
                .mode("overwrite")
                .save(str(out))
            )
            walls.append(time.perf_counter() - t0)
            _expect("ROTATE chain gaps", binlog_chain_gaps(str(out)), [])
            files = sorted(str(p) for p in out.glob("binlog.*"))
            back = []
            for i, p in enumerate(files):
                with open(p, "rb") as fh:
                    blob = fh.read()
                for b in decode_binlog_record_batches(blob, TARGET, DB, TABLE, file_seq=i + 1):
                    back.extend(b.select(["id", "v", "amt", "qty"]).to_pylist())
            _expect("sink read-back digest", digest(back), want)
        return {
            "mysql_binlog.sink_write_s": statistics.median(walls),
            "mysql_binlog.sink_bytes_per_row": sum(map(os.path.getsize, files)) / len(rows),
            "mysql_binlog.sink_files_per_op": float(len(files)),
        }


class CheckpointPoll(Workload):
    """Incremental consumer: one availableNow pass per appended batch."""

    # Kept small for stationarity inside a 10 s window, not taken from
    # real traffic (README.md says which layer figures each inflates):
    # a bounded key space holds the store near 1,000 rows, and a file
    # rotates at 48 KiB (MySQL's max_binlog_size defaults to 1 GiB) so
    # that rotations and purges recur every 4-5 ops within a run.
    KEYS = 2_000
    RETAIN = 4
    ROTATE_BYTES = 48 << 10
    BATCH_IMAGES = 256  # row images appended before each op (at least)
    BUCKETS = 8
    WARMUP_OPS = 6  # see README.md for the CPU curve behind this count

    def stage(self) -> None:
        self.gen = ChangeGen(self.seed, self.KEYS)
        self.series = BinlogSeries(self.work / "poll", retain=self.RETAIN)
        # sealed files, then an empty active file: nothing is purged
        # before the first op has consumed it
        self.series.append(self.gen.fill(), rotate=True)
        for _ in range(self.RETAIN - 2):
            self.series.append(self.gen.txns(40), rotate=True)
        self.store = str(self.work / "store")
        self.checkpoint = str(self.work / "checkpoint")
        self.pending = sum(n for n, _s in self.gen.expected_ops().values())

    def prepare(self) -> None:
        self.prune_bound = self.gen.gno
        txns = self.gen.txns_for(self.BATCH_IMAGES)
        n = sum(map(images, txns))
        self.series.append(txns, rotate=len(self.series.blob) >= self.ROTATE_BYTES)
        self.pending += n
        self.sample_txns = (self.sample_txns + txns)[-2_000:]

    def build(self):
        changes = mysql_binlog_tail_stream(
            self.spark, str(self.series.dir), DDL, DB, TABLE
        )
        return materialize_latest_state_partitioned(
            changes, ["id"], self.store, self.checkpoint, n_buckets=self.BUCKETS
        )

    def execute(self, built):
        q = run_to_completion(built, timeout_s=120.0)
        if q.isActive:
            q.stop()
            raise TimeoutError("availableNow pass did not drain within 120 s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q

    def _store_rows(self) -> list[dict]:
        parts = sorted(Path(self.store).glob("__bucket=*/*.parquet"))
        return pa.concat_tables(
            pq.read_table(p, columns=["id", "v", "amt", "qty"]) for p in parts
        ).to_pylist()

    def check(self, result) -> int:
        _expect("latest state digest", digest(self._store_rows()), self.gen.state_digest())
        self.op_images, self.pending = self.pending, 0
        return self.op_images

    def files(self) -> list[str]:
        return self.series.files()

    def probe(self, q) -> dict:
        progress = q.recentProgress
        out = {
            f"cdc_stream.{k}_ms": float(sum(p.durationMs.get(k, 0) for p in progress))
            for k in ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                      "walCommit", "commitOffsets")
        }
        rows = sum(p.numInputRows for p in progress)
        out["cdc_stream.batch_s"] = sum(
            p.durationMs.get("triggerExecution", 0) for p in progress
        ) / 1e3
        out["cdc_stream.input_rows"] = float(rows)
        out["cdc_stream.store_rows"] = float(len(self.gen.state))
        out["cdc_stream.store_bytes"] = float(_dir_bytes(Path(self.store)))
        out["cdc_stream.decoded_per_new_row"] = rows / self.op_images
        # latest_state over the store plus this op's delta, read back
        # through the batch reader from the op's first new transaction
        delta = _binlog_reader(self.spark).option(
            "start_after_gno", str(self.prune_bound)
        ).load(str(self.series.dir))
        store = self.spark.read.parquet(self.store).drop("__bucket")
        t0 = time.perf_counter()
        latest_state(store.unionByName(delta), ["id"]).write.format("noop").mode(
            "overwrite"
        ).save()
        out["cdc_ops.latest_state_s"] = time.perf_counter() - t0
        return out

    def flat(self) -> dict:
        return {
            "files": len(self.series.files()),
            "store_rows": len(self.gen.state),
            "rotations": self.series.rotations,
        }


WORKLOADS = {"replay_scan": ReplayScan, "checkpoint_poll": CheckpointPoll}
