"""The three workloads, each a closed loop driven from one process, and
the probe phase of a traced run.

- ``backfill`` / ``fallback``: every round replays the whole backlog into a
  fresh store as one catch-up batch, then the consumer scans the table.
- ``tail``: a store caught up from a base backlog; every round lands one
  small segment by atomic rename, replays it, and the consumer scans.

Each engine call (``replay()``, a consumer scan) is timed on its own.
Checks against the oracle run between engine calls and are not timed.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

from . import oracle as O
from .inputs import Inputs, one_txn_segment, segment_name
from .procstat import tree_cpu_s
from .spans import Recorder


TAIL_WARM_BATCHES = 1
# ``--seconds`` buys a fixed number of rounds: a round takes about this long
# here, and every run makes the same rounds whatever the host's speed.
# (Stopping on elapsed time instead lets a slower window make one round
# fewer, and since rounds still speed up as the JVM warms, that shifts the
# medians by more than the host's own noise.)
NOMINAL_ROUND_S = 4.0
# consumer scans after every commit: sub-second read times are reported as
# medians, so each commit gives several samples
READS_PER_COMMIT = 2


def rounds_for(seconds: float) -> int:
    return max(2, round(seconds / NOMINAL_ROUND_S))


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def _link(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:
        shutil.copyfile(src, dst)


class Bench:
    def __init__(self, spark, spec, inputs: Inputs, work: str, rec: Recorder):
        self.spark = spark
        self.spec = spec
        self.inputs = inputs
        self.with_set = inputs.shape.with_set_column
        self.work = work
        self.rec = rec
        self.ops = {"replays": 0, "batches": 0, "reads": 0, "checks": 0}
        self.failed = 0
        self.problems: list[str] = []
        self.commit_s: list[float] = []
        self.read_s: list[float] = []
        self.events = 0
        self.cpu_s = 0.0
        self.bytes_in = 0
        self.bytes_added = 0
        self.batch_bytes: list[int] = []
        self.buckets: list[int] = []
        self.stats_s: list[float] = []
        self.layers: dict[str, float] = {}
        # the engine's binlog directory: ``backfill`` / ``fallback`` read
        # every segment from the start, ``tail`` lands them one by one
        self.binlog = os.path.join(work, "binlog")
        os.makedirs(self.binlog)
        if inputs.workload != "tail":
            for seg in inputs.segments:
                _link(os.path.join(inputs.dir, seg.name),
                      os.path.join(self.binlog, seg.name))

    # -- engine calls and checks ------------------------------------------

    def check(self, name: str, find_problems, batch=None) -> None:
        """Run one check; ``find_problems()`` returns what it found wrong."""
        with self.rec.span("check", batch):
            problems = find_problems()
        self.ops["checks"] += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{name}: {p}" for p in problems[:5])

    def commit(self, rep, batch: int, store: str, new_bytes: int, events: int):
        """One timed replay(), then ``READS_PER_COMMIT`` consumer scans.
        Returns the aggregates of each scan."""
        before = dir_bytes(store)
        c0 = tree_cpu_s()
        with self.rec.span("replay", batch) as s:
            res = rep.replay()
        self.cpu_s += tree_cpu_s() - c0
        self.ops["replays"] += 1
        self.ops["batches"] += len(res.batches)
        self.commit_s.append(s.dt)
        self.events += events
        self.bytes_in += new_bytes
        added = dir_bytes(store) - before
        self.bytes_added += added
        self.batch_bytes.append(added)
        self.buckets.append(
            buckets_touched(store, rep.ledger.current_snapshot_version()))
        self.stats_s.append(float(rep.ledger.last().metrics.get("stats_s", 0.0)))
        aggs = []
        for _ in range(READS_PER_COMMIT):
            with self.rec.span("read", batch) as r:
                aggs.append(O.scan(rep.read_state(), self.with_set))
            self.ops["reads"] += 1
            self.read_s.append(r.dt)
        return aggs

    def check_scans(self, aggs, want, batch) -> None:
        self.check("scan", lambda: [f"aggregates {a} != {want}"
                                    for a in aggs if a != want], batch)

    def check_table(self, rep, expected: dict, batch=None, self_test=False):
        rows = []

        def compare():
            rows.extend(O.table_rows(rep.read_state(), self.with_set))
            return O.compare(rows, expected)

        self.check("table", compare, batch)
        if self_test:
            self.check("self-test",
                       lambda: O.self_test(rows, expected, self.with_set), batch)

    def check_ledger(self, store: str, batches_txns, batch=None) -> None:
        from mysql_cdc_spark.pipeline.ledger import Ledger

        def ledger_problems():
            led = Ledger(store)
            return O.ledger_problems(
                led.entries(), led.covered_gtid_set().to_intervals(), batches_txns)

        self.check("ledger", ledger_problems, batch)

    # -- set-up ------------------------------------------------------------

    def warm_up(self) -> None:
        """Fixed warm-up of ``backfill`` / ``fallback``: one untimed round
        of the workload itself — replay into a throwaway store, then the
        consumer scans. It pays the first-use costs (JVM code generation,
        Python worker start, imports) on the plan the timed rounds run.
        ``tail`` warms up with its base catch-up instead."""
        from mysql_cdc_spark.pipeline.replay import Replayer

        store = os.path.join(self.work, "stores", "warm")
        rep = Replayer(self.spark, self.binlog, store, spec=self.spec)
        rep.replay()
        for _ in range(READS_PER_COMMIT):
            O.scan(rep.read_state(), self.with_set)
        shutil.rmtree(store, ignore_errors=True)

    # -- workloads ---------------------------------------------------------

    def run_backfill(self, seconds: float) -> None:
        """Rounds of one catch-up batch over the whole backlog, each into a
        fresh store; the table is compared with the oracle after each."""
        from mysql_cdc_spark.pipeline.replay import Replayer

        inp = self.inputs
        binlog = self.binlog
        oracle = O.Oracle(self.with_set)
        oracle.apply(inp.txns)
        n_events = sum(s.events for s in inp.segments)
        n_bytes = sum(s.size for s in inp.segments)
        prev = None
        for i in range(rounds_for(seconds)):
            store = os.path.join(self.work, "stores", f"r{i:03d}")
            rep = Replayer(self.spark, binlog, store, spec=self.spec)
            with self.rec.span("round", i):
                aggs = self.commit(rep, i, store, n_bytes, n_events)
                self.check_scans(aggs, oracle.aggregates(), i)
                self.check_table(rep, oracle.state, i, self_test=(i == 0))
                self.check_ledger(store, [inp.txns], i)
            if prev is not None:
                shutil.rmtree(prev, ignore_errors=True)
            prev = store
        self.store, self.rep = prev, rep
        self.probe_files = [s.name for s in inp.segments]
        self.timed_segments = inp.segments

    def setup_tail(self) -> None:
        """Warm-up of ``tail``: the base catch-up, which pays the first-use
        costs, and ``TAIL_WARM_BATCHES`` tail batches, which run slower
        than later ones while the resume plan shapes warm up."""
        from mysql_cdc_spark.pipeline.replay import Replayer

        inp = self.inputs
        self.stage = os.path.join(self.work, "stage")
        os.makedirs(self.stage)
        for s in inp.base:
            _link(os.path.join(inp.dir, s.name), os.path.join(self.binlog, s.name))
        for s in inp.tail:
            _link(os.path.join(inp.dir, s.name), os.path.join(self.stage, s.name))
        self.store = os.path.join(self.work, "store")
        self.rep = Replayer(self.spark, self.binlog, self.store, spec=self.spec)
        self.oracle = O.Oracle(self.with_set)
        with self.rec.span("base_catchup"):
            self.rep.replay()
        self.oracle.apply([t for s in inp.base for t in s.txns])
        self.batches_txns = [[t for s in inp.base for t in s.txns]]
        self.next_tail = 0
        for _ in range(TAIL_WARM_BATCHES):
            seg = self._land()
            with self.rec.span("warm_batch"):
                self.rep.replay()
            self.batches_txns.append(seg.txns)

    def _land(self):
        seg = self.inputs.tail[self.next_tail]
        self.next_tail += 1
        os.rename(os.path.join(self.stage, seg.name),
                  os.path.join(self.binlog, seg.name))
        self.oracle.apply(seg.txns)
        return seg

    def run_tail(self, seconds: float) -> None:
        """Land one segment, replay, scan, compare the scan with the oracle
        at that prefix; repeat. The full table is compared at the end."""
        timed = []
        # one segment stays back for the probe phase
        n = rounds_for(seconds)
        if self.next_tail + n >= len(self.inputs.tail):
            raise ValueError(f"{n} rounds need more tail segments than the input has")
        for i in range(n):
            with self.rec.span("round", i):
                seg = self._land()
                aggs = self.commit(self.rep, i, self.store, seg.size, seg.events)
                self.batches_txns.append(seg.txns)
                self.check_scans(aggs, self.oracle.aggregates(), i)
            timed.append(seg)
        self.check_table(self.rep, self.oracle.state, self_test=True)
        self.check_ledger(self.store, self.batches_txns)
        self.timed_segments = timed

    # -- probe phase (traced runs) -----------------------------------------

    def _noop(self, df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def _prefixes(self, rep, files: list[str]):
        """The plan prefixes of ``run_batch``, built from the layers'
        public functions: decode, gate (+ covered-GTID anti-join, position
        filter, change key), last-writer-wins."""
        from mysql_cdc_spark.binlog.decoder import decode_binlog_dir
        from mysql_cdc_spark.pipeline.order import (
            ORDER_COLS, filter_covered_gtids, gate_complete_transactions,
            last_writer_wins, with_change_key,
        )
        from mysql_cdc_spark.pipeline.replay import _after_position_predicate

        spark, spec = self.spark, self.spec
        glob = "{" + ",".join(files) + "}" if len(files) > 1 else files[0]
        decoded = decode_binlog_dir(spark, self.binlog, spec, path_filter=glob,
                                    before_values="keys")
        gated = gate_complete_transactions(decoded)
        covered = rep.ledger.covered_gtid_set()
        if covered.uuid_sets:
            iv = spark.createDataFrame(covered.to_intervals(),
                                       "uuid string, start long, end long")
            gated = filter_covered_gtids(gated, iv)
        max_file, max_pos = rep.ledger.resume_position()
        if max_file:
            gated = gated.filter(_after_position_predicate(max_file, max_pos))
        keys = list(spec.primary_key)
        after = [f"after_{n}" for n, _, _ in spec.columns]
        gated = with_change_key(gated, keys).select(
            *keys, "src_file", "pos", "next_pos", "ts", "server_id", "op",
            "gtid_source", "gtid_seq", "xid", "table_id", "db", "tbl",
            "row_in_event", "after_present", *after)
        payload = list(dict.fromkeys(
            ["op"] + after + list(ORDER_COLS)
            + ["src_file", "pos", "gtid_source", "gtid_seq", "xid"]))
        net = last_writer_wins(gated, key_cols=keys, order_cols=list(ORDER_COLS),
                               payload_cols=payload, salt_buckets=0)
        return decoded, gated, net

    def probe(self) -> None:
        from mysql_cdc_spark.binlog.vector import decode_segment_fast, segment_row_stats
        from mysql_cdc_spark.pipeline.ledger import Ledger
        from mysql_cdc_spark.pipeline.replay import Replayer

        L = self.layers
        rec = self.rec
        # vector: one core, no Spark, over the timed segments
        dec_s = stats_s = 0.0
        rows = fallbacks = 0
        with rec.span("probe.vector"):
            for seg in self.timed_segments:
                with open(os.path.join(self.inputs.dir, seg.name), "rb") as f:
                    content = f.read()
                t0 = time.perf_counter()
                frames = decode_segment_fast(content, seg.name, self.spec,
                                             before_values="keys")
                t1 = time.perf_counter()
                segment_row_stats(content, seg.name, self.spec)
                t2 = time.perf_counter()
                dec_s += t1 - t0
                stats_s += t2 - t1
                if frames is None:
                    fallbacks += 1
                else:
                    rows += sum(len(fr) for fr in frames)
        L.update({"vector.decode_core_s": dec_s, "vector.stats_core_s": stats_s,
                  "vector.rows": rows, "vector.fallback_segments": fallbacks})

        # the batch the prefixes and the merge probe run against
        if self.inputs.workload == "tail":
            rep = self.rep
            prev = rep.ledger.max_position()[0]
            seg = self._land()
            files = [prev, seg.name]
            in_bytes = os.path.getsize(os.path.join(self.binlog, prev)) + seg.size
        else:
            probe_store = os.path.join(self.work, "stores", "probe")
            rep = Replayer(self.spark, self.binlog, probe_store, spec=self.spec)
            files = self.probe_files
            in_bytes = sum(s.size for s in self.inputs.segments)
        decoded, gated, net = self._prefixes(rep, files)
        with rec.span("probe.decode"):
            d = _median([self._noop(decoded) for _ in range(2)])
        with rec.span("probe.gate"):
            g = _median([self._noop(gated) for _ in range(2)])
        with rec.span("probe.lww"):
            w = _median([self._noop(net) for _ in range(2)])
        L.update({"decoder.decode_s": d, "decoder.bytes_read": in_bytes,
                  "order.gate_s": g - d, "order.lww_s": w - g,
                  "order.rows_kept": gated.count(), "order.net_rows": net.count()})

        target = rep.target
        cur = rep.ledger.current_snapshot_version()
        persisted = net.persist()
        persisted.count()
        with rec.span("probe.merge") as s:
            v = target.merge(self.spark, persisted, cur)
        persisted.unpersist()
        shutil.rmtree(target.snapshot_path(v), ignore_errors=True)
        L["target.merge_s"] = s.dt

        # fixed cost: replay() of a one-transaction segment on the store
        if self.inputs.workload == "tail":
            with rec.span("probe.catchup"):
                rep.replay()
        store = self.store
        frep = Replayer(self.spark, self.binlog, store, spec=self.spec)
        name = segment_name(len(self.inputs.segments))
        with open(os.path.join(self.binlog, name), "wb") as f:
            f.write(one_txn_segment(name, 10**9, True, self.with_set))
        with rec.span("probe.fixed") as s:
            frep.replay()
        L["replay.fixed_s"] = s.dt

        with rec.span("ledger.read") as s:
            led = Ledger(store)
            led.covered_gtid_set()
            led.resume_position()
            led.current_snapshot_version()
        L["ledger.read_s"] = s.dt
        L["ledger.entries"] = len(led.entries())

    def layer_metrics(self) -> dict:
        L = dict(self.layers)
        L["replay.batch_s"] = _median(self.commit_s)
        L["replay.stats_s"] = _median(self.stats_s)
        L["target.read_s"] = _median(self.read_s)
        L["target.buckets_touched"] = _median(self.buckets)
        L["target.bytes_written"] = _median(self.batch_bytes)
        L["replay.unattributed_s"] = L["replay.batch_s"] - sum(
            L[k] for k in ("decoder.decode_s", "order.gate_s", "order.lww_s",
                           "target.merge_s"))
        return L


def buckets_touched(store: str, version: int) -> int:
    """Buckets whose manifest entry ``version`` changed from ``version-1``."""
    def manifest(v):
        p = os.path.join(store, "snapshots", f"v{v:08d}", "manifest.json")
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    new, old = manifest(version), manifest(version - 1)
    return sum(1 for b in set(new) | set(old) if new.get(b) != old.get(b))
