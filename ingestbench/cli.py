"""Ingest benchmark: ``backfill``, ``tail`` and ``fallback`` workloads
through ``Replayer.replay`` / ``read_state`` on ``local[4]``.

    python3 ingestbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--workload all`` runs every workload, each
in a fresh process. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything the run writes goes under ``.ingestbench_work/`` in the
repository root. See ``ingestbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".ingestbench_work")
WORKLOADS = ("backfill", "tail", "fallback")
MASTER = "local[4]"
# the JVM heap, fixed (-Xms = -Xmx): a growing heap sizes itself by GC
# timing, which follows the host's speed, and moved peak RSS by ±15%
HEAP = "2g"

# End-to-end metrics of the JSON result. The time and CPU figures swing
# with the shared host by more than any bound could absorb (README,
# "Steadiness"), so they are printed on their own ``timings:`` line.
E2E_UNITS = {
    "setup_s": "s", "write_amp": "bytes/bytes", "peak_rss_mb": "MiB",
}
TIMING_UNITS = {
    "events_per_s": "events/s", "commit_p50_s": "s", "commit_max_s": "s",
    "read_p50_s": "s", "cpu_s_per_mevent": "core-s/Mevent",
}
LAYER_UNITS = {
    "session.start_s": "s", "session.warm_s": "s",
    "vector.decode_core_s": "s", "vector.stats_core_s": "s",
    "vector.rows": "count", "vector.fallback_segments": "count",
    "decoder.decode_s": "s", "decoder.bytes_read": "bytes",
    "order.gate_s": "s", "order.rows_kept": "count",
    "order.lww_s": "s", "order.net_rows": "count",
    "target.merge_s": "s", "target.buckets_touched": "count",
    "target.bytes_written": "bytes", "target.read_s": "s",
    "replay.batch_s": "s", "replay.stats_s": "s", "replay.fixed_s": "s",
    "replay.unattributed_s": "s",
    "ledger.read_s": "s", "ledger.entries": "count",
    "trace.events_per_s": "events/s", "trace.spans": "count",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _run_all(argv) -> int:
    """Each workload in its own process, one after the other."""
    code = 0
    for w in WORKLOADS:
        args = [a if a != "all" else w for a in argv]
        code = code or subprocess.call(
            [sys.executable, os.path.join(HERE, "run.py"), *args])
    return code


def _environment(run_dir: str) -> None:
    """Keep every file the run (and Spark) writes inside the work dir."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    import tempfile

    tempfile.tempdir = None
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _start_spark(run_dir: str):
    from mysql_cdc_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    spark = get_spark(
        app_name="ingestbench", master=MASTER,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark, its JVM and the Python workers, and wait for them."""
    from pyspark import SparkContext

    from .procstat import alive, tree_pids

    gateway = SparkContext._gateway
    started = set(tree_pids()) - {os.getpid()}
    spark.stop()
    proc = gateway.proc
    try:
        gateway.shutdown()
    finally:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the worker daemon outlives the JVM by a moment, reparented
    deadline = time.time() + 15
    while started and time.time() < deadline:
        started = {p for p in started if alive(p)}
        time.sleep(0.1)
    for p in started:
        print(f"ingestbench: killing leftover process {p}", file=sys.stderr)
        os.kill(p, signal.SIGKILL)


def _fmt(v):
    return v if isinstance(v, int) else float(v)


def main(argv, t_start: float) -> int:
    """``t_start``: perf_counter at process start, where set-up begins."""
    args = _args(argv)
    if args.workload == "all":
        return _run_all(argv)
    if not os.path.isfile(os.path.join(ROOT, "mysql_cdc_spark", "__init__.py")):
        print(f"ingestbench: no mysql_cdc_spark package under {ROOT}",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(os.path.join(WORK, "runs"), ignore_errors=True)
    os.makedirs(run_dir)
    _environment(run_dir)

    from . import inputs as I
    from .procstat import PeakRss, host_control
    from .spans import Recorder, record_cost_s
    from .workloads import Bench

    control_start = host_control()
    inp = I.build(args.workload, args.seed, os.path.join(WORK, "inputs"))
    n_events = sum(s.events for s in inp.segments)
    print(f"inputs: workload={inp.workload} seed={inp.seed} "
          f"sha256={inp.fingerprint} segments={len(inp.base)}+{len(inp.tail)} "
          f"events={n_events} bytes={sum(s.size for s in inp.segments)} "
          f"generate_s={inp.generate_s:.2f} reused={inp.reused}", flush=True)

    rss = PeakRss().start()
    rec = Recorder(bool(args.trace))
    with rec.span("session.start") as s_start:
        spark = _start_spark(run_dir)
    try:
        from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS, TableSpec

        spec = TRANSCRIPTS
        if inp.shape.with_set_column:
            spec = TableSpec(database=spec.database, table=spec.table,
                             columns=spec.columns + (("tags", "string", "str"),),
                             primary_key=spec.primary_key)
        bench = Bench(spark, spec, inp, run_dir, rec)
        tail = args.workload == "tail"
        with rec.span("session.warm") as s_warm:
            bench.setup_tail() if tail else bench.warm_up()
        # set-up: process start to the timed region, input generation and
        # the host control excluded
        setup_s = time.perf_counter() - t_start - inp.generate_s - control_start
        if tail:
            bench.run_tail(args.seconds)
        else:
            bench.run_backfill(args.seconds)
        t_timed_end = time.perf_counter()
        if args.trace:
            bench.probe()
    finally:
        peak = rss.stop()
        t_stop = time.perf_counter()
        _stop_spark(spark)
    t_stopped = time.perf_counter()
    control_end = host_control()

    ops = bench.ops
    attempted = sum(ops.values())
    correct = not bench.problems
    for p in bench.problems:
        print(f"CHECK FAILED {p}", file=sys.stderr)
    print("operations: " + " ".join(f"{k}={v}" for k, v in ops.items())
          + f" attempted={attempted} failed={bench.failed}")
    print(f"host_control_s: start={control_start:.4f} end={control_end:.4f}")
    print("samples: commit_s=" + ",".join(f"{x:.3f}" for x in bench.commit_s)
          + " read_s=" + ",".join(f"{x:.3f}" for x in bench.read_s))
    print(f"run_wall_s: {time.perf_counter() - t_start:.1f} (set-up {setup_s:.1f}, "
          f"timed+checks {t_timed_end - t_start - setup_s - inp.generate_s - control_start:.1f}, "
          f"probes {t_stop - t_timed_end:.1f}, stop {t_stopped - t_stop:.1f})")

    eps = bench.events / sum(bench.commit_s)
    timings = {
        "events_per_s": eps,
        "commit_p50_s": statistics.median(bench.commit_s),
        "commit_max_s": max(bench.commit_s),
        "read_p50_s": statistics.median(bench.read_s),
        "cpu_s_per_mevent": bench.cpu_s / (bench.events / 1e6),
    }
    print("timings: " + " ".join(f"{k}={v:.4f}{TIMING_UNITS[k]}"
                                 for k, v in timings.items()))
    if args.trace:
        metrics = bench.layer_metrics()
        metrics["session.start_s"] = s_start.dt
        metrics["session.warm_s"] = s_warm.dt
        metrics["trace.events_per_s"] = eps
        metrics["trace.spans"] = len(rec.spans)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl")
        rec.write_jsonl(path)
        _print_layer_table(args.workload, metrics, rec, path)
        print(f"tracing: {len(rec.spans)} spans at {record_cost_s() * 1e6:.2f} us each; "
              f"traced events_per_s={eps:.1f} (compare the untraced median)")
        units = LAYER_UNITS
    else:
        metrics = {
            "setup_s": setup_s,
            "write_amp": bench.bytes_added / bench.bytes_in,
            "peak_rss_mb": peak / 2**20,
        }
        units = E2E_UNITS
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": bench.failed,
        "metrics": {k: {"value": _fmt(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


def _print_layer_table(workload, metrics, rec, path) -> None:
    print(f"layer table ({workload}):")
    for k, u in LAYER_UNITS.items():
        v = metrics[k]
        print(f"  {k:28s} {v:>16.4f} {u}" if isinstance(v, float)
              else f"  {k:28s} {v:>16d} {u}")
    print(f"span self times ({path}):")
    for name, (n, tot, st) in sorted(rec.self_time_table().items()):
        print(f"  {name:16s} n={n:<4d} total={tot:9.3f}s self={st:9.3f}s")
