"""CDC engine benchmark: one closed-loop client per workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload replay_scan --seed 1 --seconds 10 --trace 0

Prints a table of every metric with its unit and sample count, then as
its last line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones, and
the spans and per-op counters are written to
``.perfbench_out/<workload>-seed<seed>-trace.json``. See README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

from probes import ProcTree, SparkCounters, Tracer, TreeSample, delta, host_ticks

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
SPARK_CORES = 2  # leaves headroom on a 4-core host; CPU per op repeats best here
DRIVER_MEM = "1g"

# metric names and units come from BENCHMARK.json, the one copy of them
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOAD_NAMES = tuple(w["name"] for w in SPEC["workloads"])
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
UNITS = {m["name"]: m["unit"] for m in SPEC["per_layer"]}

# per-layer metric -> (end-to-end metric it should move, on which
# workload). The writer is on no timed path: its metrics come from the
# replay_scan traced run's sink probe and predict no end-to-end change.
LAYERS = {
    "session.start_s": ("setup_s", "all"),
    "driver.build_s": ("op_s.p50", "checkpoint_poll; small share on replay_scan"),
    "driver.jobs_per_op": ("op_s.p50", "checkpoint_poll"),
    "driver.jobs_during_build": ("op_s.p50", "checkpoint_poll"),
    "jvm.exec_s": ("op_s.p50", "all"),
    "jvm.task_cpu_s": ("op_s.p50", "all"),
    "jvm.task_run_s": ("op_s.p50", "all"),
    "jvm.gc_s": ("op_s.p50", "all"),
    "jvm.stages_per_op": ("op_s.p50", "all"),
    "jvm.tasks_per_op": ("op_s.p50", "all"),
    "jvm.shuffle_write_bytes": ("cpu_s", "checkpoint_poll; about 0 on replay_scan"),
    "jvm.shuffle_read_bytes": ("cpu_s", "checkpoint_poll; about 0 on replay_scan"),
    "jvm.spill_bytes": ("cpu_s", "checkpoint_poll"),
    "proc.driver_cpu_s": ("cpu_s", "all"),
    "proc.jvm_cpu_s": ("cpu_s", "all"),
    "proc.pyworker_cpu_s": ("cpu_s", "all"),
    "mysql_binlog_vec.decode_rows_s": ("rows_s, cpu_s", "replay_scan; no change on checkpoint_poll"),
    "mysql_binlog_vec.decode_mb_s": ("rows_s, cpu_s", "replay_scan; no change on checkpoint_poll"),
    "mysql_binlog.header_walk_s": ("op_s.p50", "checkpoint_poll"),
    "mysql_binlog.prune_s": ("op_s.p50", "checkpoint_poll"),
    "mysql_binlog.files_kept_ratio": ("op_s.p50", "checkpoint_poll"),
    "mysql_binlog.encode_rows_s": ("nothing (writer not timed)", "both"),
    "mysql_binlog.sink_write_s": ("nothing (writer not timed)", "replay_scan trace"),
    "mysql_binlog.sink_bytes_per_row": ("nothing (writer not timed)", "replay_scan trace"),
    "mysql_binlog.sink_files_per_op": ("nothing (writer not timed)", "replay_scan trace"),
    "cdc_ops.latest_state_s": ("op_s.p50", "checkpoint_poll"),
    "cdc_stream.batch_s": ("op_s.p50", "checkpoint_poll"),
    **{
        f"cdc_stream.{k}_ms": ("op_s.p50", "checkpoint_poll")
        for k in ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                  "walCommit", "commitOffsets")
    },
    "cdc_stream.input_rows": ("op_s.p50", "checkpoint_poll"),
    "cdc_stream.store_rows": ("op_s.p50", "checkpoint_poll"),
    "cdc_stream.store_bytes": ("op_s.p50", "checkpoint_poll"),
    "cdc_stream.decoded_per_new_row": ("op_s.p50", "checkpoint_poll"),
    "io.read_bytes": ("op_s.p50", "checkpoint_poll"),
    "io.write_bytes": ("op_s.p50", "checkpoint_poll"),
    "trace.overhead_s": ("op_s.p50 (traced minus plain ops)", "all"),
}
if set(LAYERS) != set(UNITS):
    raise SystemExit(f"perfbench: LAYERS and BENCHMARK.json differ on {set(LAYERS) ^ set(UNITS)}")


def isolate(work: Path) -> None:
    """Confine every file Spark, the JVM and the Python workers write to
    ``work``. The per-run TMPDIR also gives each run its own split-spec
    disk cache, so no run starts warm from another run's cache."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} '
        '-XX:+PerfDisableSharedMem" '
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.chdir(work)  # derby.log, metastore_db and friends land here


def become_subreaper() -> None:
    """Adopt orphaned descendants (exited Spark workers' children) so
    ``reap`` can wait for every process the run started."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap(tree, grace_s: float = 20.0) -> None:
    """Stop the Spark JVM and wait until every descendant has exited:
    SIGTERM for ``grace_s``, then SIGKILL for ``grace_s`` more."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=grace_s)
    deadline = time.monotonic() + grace_s
    while True:
        left = [p for p in tree.pids() if p != tree.root]
        if not left:
            break
        if time.monotonic() > deadline + grace_s:
            print(f"perfbench: processes {left} did not exit", file=sys.stderr)
            break
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.1)


def timed_call(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


@dataclass
class Op:
    """One op's record: wall time, /proc deltas, row images, outcome and,
    when traced, Spark counter deltas and layer metrics."""

    traced: bool
    wall: float = 0.0
    proc: TreeSample | None = None
    images: int = 0
    ok: bool = False
    spark: dict | None = None
    layers: dict = field(default_factory=dict)
    trace_s: float = 0.0  # wall time of tracing work outside the op


def run_op(wl, tree, tracer, counters, op_id: int, traced: bool) -> Op:
    op = Op(traced)
    tracer.op_id = op_id
    tracer.enabled = traced
    wl.prepare()
    t0 = time.perf_counter()
    if traced:
        counters.read()  # drop counts of earlier, untimed work
    op.trace_s = time.perf_counter() - t0
    before = tree.sample(io=traced)
    t0 = time.perf_counter()
    result = None
    in_build: dict = {}  # Spark counters of the jobs the build ran
    try:
        with tracer.span("op"):
            with tracer.span("driver.build"):
                built = wl.build()
            if traced:
                in_build = counters.read()
                op.layers["driver.jobs_during_build"] = in_build["jobs"]
            with tracer.span("exec"):
                result = wl.execute(built)
        op.ok = True
    except Exception:
        traceback.print_exc(file=sys.stderr)
    op.wall = time.perf_counter() - t0
    op.proc = delta(before, tree.sample(io=traced))
    if op.ok:
        try:
            op.images = wl.check(result)
        except Exception:
            op.ok = False
            traceback.print_exc(file=sys.stderr)
    if traced:
        t0 = time.perf_counter()
        op.spark = {k: v + in_build.get(k, 0) for k, v in counters.read().items()}
        if op.ok:
            try:
                op.layers.update(probe_layers(wl, tracer, result))
            except Exception:
                op.ok = False
                traceback.print_exc(file=sys.stderr)
        op.trace_s += time.perf_counter() - t0
    return op


def probe_layers(wl, tracer, result) -> dict:
    """Spark-free calls into the reader planning layer over the op's own
    files, plus the workload's own counters."""
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        prune_binlog_series_by_gtid,
        scan_binlog_splits_file,
    )

    files = wl.files()
    out = {}
    with tracer.span("mysql_binlog.header_walk"):
        t0 = time.perf_counter()
        for p in files:
            scan_binlog_splits_file(p)
        out["mysql_binlog.header_walk_s"] = time.perf_counter() - t0
    with tracer.span("mysql_binlog.prune"):
        t0 = time.perf_counter()
        kept = prune_binlog_series_by_gtid(files, wl.prune_bound, None)
        out["mysql_binlog.prune_s"] = time.perf_counter() - t0
    out["mysql_binlog.files_kept_ratio"] = len(kept) / len(files)
    with tracer.span("workload.probe"):
        out.update(wl.probe(result))
    return out


def codec_rates(wl, tracer, reps: int = 3) -> dict:
    """Spark-free codec throughput over the run's own data: the decode
    kernel over the op's binlog files, the encoder over staged rows."""
    from fixtures import DB, TABLE, TARGET, images
    from mysql_cdc_table_spark.sources.mysql_binlog import build_binlog_file
    from mysql_cdc_table_spark.sources.mysql_binlog_vec import (
        decode_binlog_record_batches,
    )

    blobs = []
    for p in wl.files():
        with open(p, "rb") as fh:
            blobs.append(fh.read())
    dec, enc = [], []
    rows = 0
    for _ in range(reps):
        with tracer.span("mysql_binlog_vec.decode"):
            t0 = time.perf_counter()
            rows = sum(
                b.num_rows
                for i, blob in enumerate(blobs)
                for b in decode_binlog_record_batches(blob, TARGET, DB, TABLE, file_seq=i + 1)
            )
            dec.append(time.perf_counter() - t0)
        with tracer.span("mysql_binlog.encode"):
            t0 = time.perf_counter()
            build_binlog_file(DB, TABLE, TARGET, wl.sample_txns, checksum=True)
            enc.append(time.perf_counter() - t0)
    d, e = statistics.median(dec), statistics.median(enc)
    return {
        "mysql_binlog_vec.decode_rows_s": rows / d,
        "mysql_binlog_vec.decode_mb_s": sum(map(len, blobs)) / d / 1e6,
        "mysql_binlog.encode_rows_s": sum(map(images, wl.sample_txns)) / e,
    }


def med(values) -> float:
    values = [v for v in values if v is not None]
    return float(statistics.median(values)) if values else 0.0


def end_to_end(setup_s: float, timed: list[Op]) -> dict:
    walls = [o.wall for o in timed]
    return {
        "setup_s": (setup_s, 1, ""),
        "op_s.p50": (statistics.median(walls), len(walls), ""),
        "rows_s": (statistics.median(o.images / o.wall for o in timed), len(walls), ""),
        "cpu_s": (statistics.median(o.proc.cpu for o in timed), len(walls), ""),
        "rss_mb": (max(o.proc.rss for o in timed) / (1 << 20), len(walls), "peak"),
    }


def per_layer(session_s: float, timed: list[Op], tracer, codec: dict) -> dict:
    traced = [o for o in timed if o.traced]
    plain = [o for o in timed if not o.traced]
    build = tracer.durations("driver.build")
    execs = tracer.durations("exec")
    ids = sorted(build)
    sp = [o.spark for o in traced]

    def stage(key: str, scale: float = 1.0) -> float:
        return med(s[key] * scale for s in sp)

    out = {
        "session.start_s": session_s,
        "driver.build_s": med(build[i] for i in ids),
        "driver.jobs_per_op": stage("jobs"),
        "driver.jobs_during_build": med(o.layers.get("driver.jobs_during_build") for o in traced),
        "jvm.exec_s": med(execs.get(i) for i in ids),
        "jvm.task_cpu_s": stage("executorCpuTime", 1e-9),
        "jvm.task_run_s": stage("executorRunTime", 1e-3),
        "jvm.gc_s": stage("jvmGcTime", 1e-3),
        "jvm.stages_per_op": stage("stages"),
        "jvm.tasks_per_op": stage("numCompleteTasks"),
        "jvm.shuffle_write_bytes": stage("shuffleWriteBytes"),
        "jvm.shuffle_read_bytes": stage("shuffleReadBytes"),
        "jvm.spill_bytes": med(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in sp),
        "proc.driver_cpu_s": med(o.proc.driver_cpu for o in traced),
        "proc.jvm_cpu_s": med(o.proc.jvm_cpu for o in traced),
        "proc.pyworker_cpu_s": med(o.proc.pyworker_cpu for o in traced),
        "io.read_bytes": med(o.proc.read_bytes for o in traced),
        "io.write_bytes": med(o.proc.write_bytes for o in traced),
        "trace.overhead_s": (
            med(o.wall for o in traced) - med(o.wall for o in plain) if plain else 0.0
        ),
        **codec,
    }
    for name in LAYERS:
        if name not in out:
            out[name] = med(o.layers.get(name) for o in traced)
    return out


def print_table(rows: dict, units: dict, notes: dict | None = None) -> None:
    for name, (value, n, note) in rows.items():
        extra = f"  ({notes[name]})" if notes else ""
        print(f"{name:34s} {value:>16.6g} {units[name]:8s} n={n:<4d} {note}{extra}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    isolate(work)
    become_subreaper()
    from workloads import WORKLOADS

    tree = ProcTree()
    tracer = Tracer(enabled=False)
    wl = WORKLOADS[args.workload](work, args.seed)
    try:
        from mysql_cdc_table_spark.session import get_spark
        from mysql_cdc_table_spark.sources.datasource import register

        # staging is driver-side Python and overlaps the JVM's start-up
        with ThreadPoolExecutor(1) as pool:
            staged = pool.submit(timed_call, wl.stage)
            t0 = time.perf_counter()
            spark = get_spark("perfbench", cpus=str(SPARK_CORES))
            spark.sparkContext.setLogLevel("ERROR")
            register(spark)
            session_s = time.perf_counter() - t0
            stage_s = staged.result()
        wl.spark = spark
        counters = SparkCounters(spark) if args.trace else None
        ops: list[Op] = []
        cpu: list[float] = []
        while len(ops) < wl.WARMUP_OPS:
            ops.append(run_op(wl, tree, tracer, counters, -len(ops) - 1, False))
            cpu.append(ops[-1].proc.cpu)
        warmup = len(ops)
        setup_s = time.perf_counter() - T_START
        flat_start = wl.flat()
        ticks_start = host_ticks()
        t_end = time.perf_counter() + args.seconds
        while time.perf_counter() < t_end:
            # traced runs alternate traced and plain ops: the difference
            # of their medians is the tracing overhead. The window is
            # extended by the probes' time so both modes time as many ops.
            traced = bool(args.trace) and (len(ops) - warmup) % 2 == 0
            ops.append(run_op(wl, tree, tracer, counters, len(ops) - warmup, traced))
            t_end += ops[-1].trace_s
        timed = ops[warmup:]
        flat_end = wl.flat()
        stolen, ticks = (b - a for a, b in zip(ticks_start, host_ticks()))
        steal = stolen / max(1, ticks)
        codec, probe_failed = {}, 0
        if args.trace:
            codec = codec_rates(wl, tracer)
            try:
                codec.update(wl.end_probe())
            except Exception:
                probe_failed = 1
                traceback.print_exc(file=sys.stderr)
    finally:
        reap(tree)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    # a traced run's end probe counts as one more op
    failed = sum(not o.ok for o in ops) + probe_failed
    attempted = len(ops) + args.trace
    print(f"workload {args.workload} seed {args.seed}: {len(timed)} timed ops, "
          f"{failed} failed; set-up {setup_s:.2f} s: session {session_s:.2f} s, "
          f"staging {stage_s:.2f} s (overlapped), {warmup} warm-up ops "
          f"(CPU s/op {' '.join(f'{c:.2f}' for c in cpu)})")
    print("timed ops (wall s / CPU s): "
          + " ".join(f"{o.wall:.2f}/{o.proc.cpu:.2f}" for o in timed))
    print(f"host steal during the window: {100 * steal:.1f}% of the machine's CPU time")
    if flat_start:
        print("flat: " + ", ".join(f"{k} {flat_start[k]} -> {flat_end[k]}" for k in flat_start))
    print(f"{'failed_ops':34s} {failed / attempted:>16.6g} {'share':8s} n={attempted}")
    if args.trace:
        layers = per_layer(session_s, timed, tracer, codec)
        n = sum(o.traced for o in timed)
        rows = {k: (v, n, "") for k, v in layers.items()}
        print_table(rows, UNITS,
                    {k: f"should move {LAYERS[k][0]} | on {LAYERS[k][1]}" for k in LAYERS})
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in layers.items()}
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        (out / f"{args.workload}-seed{args.seed}-trace.json").write_text(json.dumps({
            "workload": args.workload, "seed": args.seed, "flat": [flat_start, flat_end],
            "host_steal_share": steal,
            "layers": {k: {"value": v, "unit": UNITS[k], "moves": LAYERS[k][0],
                           "on": LAYERS[k][1]} for k, v in layers.items()},
            "self_s": tracer.self_times(),
            "spans": tracer.spans,
            "ops": [{"wall": o.wall, "ok": o.ok, "traced": o.traced, "images": o.images,
                     "cpu": o.proc.cpu, "spark": o.spark, "layers": o.layers} for o in timed],
        }, default=str))
    else:
        rows = end_to_end(setup_s, timed)
        print_table(rows, END_TO_END)
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, (v, _n, _note) in rows.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    if not (ROOT / "mysql_cdc_table_spark").is_dir():
        sys.exit(f"perfbench: no engine sources under {ROOT}")
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
