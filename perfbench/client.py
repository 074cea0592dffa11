"""One benchmark client process: set up a Spark session, run a workload's
ops one at a time (closed loop, one client), check every output, and write a
JSON result for ``run.py``.

    python3 perfbench/client.py --workload W --seed N --trace 0|1
        --work DIR --tmp DIR --out FILE

Set-up is process start until the session is ready and one warm-up op is
done. With ``--trace 1`` every phase runs under its own Spark job group, so
``run.py`` can reduce the Spark event log it enabled to per-phase counters.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
import traceback
from contextlib import contextmanager

T_SPAWN = float(os.environ.get("PERFBENCH_T0", time.time()))

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import workloads  # noqa: E402

OP_TIMEOUT_S = 60.0


class Tracer:
    """Spans of one run, kept in memory. A span is (name, op id, parent,
    start, end); the op span's children are its phases."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self.op_span: int | None = None

    def _span(self, name: str, t0: float, t1: float, parent) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "op": self.op_id,
                           "parent": parent, "start": t0, "end": t1})
        return len(self.spans) - 1

    @contextmanager
    def phase(self, name: str):
        if self.traced:
            self.spark.sparkContext.setJobGroup(f"{self.op_id}|{name}", name)
        t0 = time.time()
        try:
            yield
        finally:
            self._span(name, t0, time.time(), self.op_span)

    def checksum(self, df) -> tuple[int, int]:
        """The timed action. Traced: the checksum frame is planned first
        (``plan`` span) so the collect reuses that QueryExecution."""
        if self.traced:
            with self.phase("plan"):
                cf = check.checksum_frame(df)
                cf._jdf.queryExecution().executedPlan()
            with self.phase("exec"):
                return check.read_checksum(cf)
        with self.phase("exec"):
            return check.read_checksum(check.checksum_frame(df))


class Watchdog(threading.Thread):
    """Cancels the running op's Spark jobs once it exceeds OP_TIMEOUT_S."""

    def __init__(self, sc):
        super().__init__(daemon=True)
        self.sc = sc
        self.started_at: float | None = None
        self.fired = False
        self.stop = threading.Event()

    def arm(self):
        self.fired = False
        self.started_at = time.time()

    def disarm(self):
        self.started_at = None

    def run(self):
        while not self.stop.wait(0.5):
            t0 = self.started_at
            if t0 is not None and time.time() - t0 > OP_TIMEOUT_S:
                self.fired = True
                try:
                    self.sc.cancelAllJobs()
                except Exception:
                    pass


class Ctx:
    """Everything an op needs."""

    def __init__(self, spark, workload: str, args, refs):
        from etl_suite_spark.api import Engine

        self.spark = spark
        self.refs = refs
        self.base_dir = os.path.join(args.work, "data", workloads.DATASET)
        self.out_dir = os.path.join(args.tmp, "out")
        os.makedirs(self.out_dir, exist_ok=True)
        self.eng = Engine(spark, self.base_dir)
        self.sql_eng = self.eng
        sql_dir = self.base_dir
        if workload == "warehouse_load":
            self.wh_dir = os.path.join(self.out_dir, "warehouse")
            _warehouse_copy(self.base_dir, self.wh_dir)
            self.wh_eng = Engine(spark, self.wh_dir)
            self.sql_eng = self.wh_eng
            self.sink = os.path.join(self.out_dir, "sink_events_by_day")
            self.state_path = os.path.join(self.out_dir, "watermark.json")
            self.derby_url = f"jdbc:derby:{os.path.join(self.out_dir, 'derby')};create=true"
            self.expected_sink: list = []
            sql_dir = self.wh_dir
        self.duck = check.duck_connect(sql_dir)

    def read_watermark(self) -> str:
        from etl_suite_spark.plans.incremental import read_watermark

        return read_watermark(self.state_path, "1970-01-01 00:00:00")

    def duck_digest(self, sql: str):
        return check.duck_digest(self.duck, sql)

    def duck_rows(self, sql: str) -> list:
        return self.duck.execute(sql).fetchall()

    @staticmethod
    def digest_rows(rows) -> tuple[int, str]:
        return len(rows), check.digest(["day", "event_type", "n_events", "sum_value"], rows)


def _warehouse_copy(base_dir: str, wh_dir: str) -> None:
    """The warehouse input: the base tables plus an ``events.parquet``
    directory that event batches are appended to."""
    os.makedirs(wh_dir, exist_ok=True)
    for f in os.listdir(base_dir):
        src = os.path.join(base_dir, f)
        if f == "events.parquet":
            os.makedirs(os.path.join(wh_dir, f), exist_ok=True)
            shutil.copy(src, os.path.join(wh_dir, f, "part-0000.parquet"))
        else:
            shutil.copy(src, os.path.join(wh_dir, f))


def _append_events(wh_dir: str, n: int, rng_seed: list[int]) -> None:
    """Append a batch of ``n`` events after the current last event (pyarrow,
    outside any timed op)."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    import gen

    d = os.path.join(wh_dir, "events.parquet")
    t = pq.read_table(d, columns=["event_id", "ts"])
    last_id = int(pc.max(t["event_id"]).as_py())
    last_us = int(pc.max(t["ts"]).cast("int64").as_py())
    rng = np.random.default_rng(rng_seed)
    path = os.path.join(d, f"part-{len(os.listdir(d)):04d}.parquet")
    pq.write_table(gen.event_batch(rng, last_id + 1, last_us, n), path)


def _tree_vmhwm_mb(root_pid: int) -> float:
    """Sum of VmHWM over ``root_pid`` and all its descendants, in MB."""
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(p))
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _dir_bytes_files(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
            n_files += 1
    return n_bytes, n_files


def setup(args):
    from etl_suite_spark.api import Engine
    from etl_suite_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.time()
    eng = Engine(spark, os.path.join(args.work, "data", workloads.DATASET))
    check.read_checksum(check.checksum_frame(eng.table("nation")))
    t2 = time.time()
    return spark, {"setup_s": t2 - T_SPAWN, "session.start_s": t1 - t0,
                   "session.warmup_s": t2 - t1}


SCHED_PROBE_TASKS = 20


def host_probes(spark) -> dict:
    """The bench.py calibration probes (outside timed ops): a pure-JVM
    xxhash64 sum over 150M ids, and empty-task dispatch scaled to 1000
    tasks from ``SCHED_PROBE_TASKS`` (1000 tasks alone can take over a
    minute on a slow host)."""
    from pyspark.sql import functions as F

    spark.sparkContext.setJobGroup("probe|probe", "probe")
    t0 = time.time()
    spark.range(150_000_000).select(F.sum(F.xxhash64("id"))).collect()
    t1 = time.time()
    n = SCHED_PROBE_TASKS
    spark.sparkContext.parallelize(range(n), n).count()
    t2 = time.time()
    return {"host.cpu_probe_s": t1 - t0, "host.sched_1k_tasks_s": (t2 - t1) * 1000 / n}


def run_ops(spark, args, refs, tracer: Tracer) -> dict:
    wd = Watchdog(spark.sparkContext)
    wd.start()
    ops_out: list[dict] = []
    sink_stats = {"write_bytes": 0, "write_files": 0, "batch_bytes": 0}
    steal0, total0 = _cpu_jiffies()
    ctx = Ctx(spark, args.workload, args, refs)
    p0 = time.time()
    for fn in workloads.plan(args.workload, args.seed):
        if getattr(fn, "batch_rows", 0):
            _append_events(ctx.wh_dir, fn.batch_rows, [args.seed, fn.tick])
        tracer.op_id = len(ops_out)
        t0 = time.time()
        tracer.op_span = tracer._span("op", t0, t0, None)
        rec = {"op": fn.op_name, "module": fn.module or _module(fn.op_name),
               "start": t0, "ok": True, "error": None, "known_defect": False}
        wd.arm()
        try:
            fn(ctx, tracer)
        except workloads.Mismatch as e:
            rec["ok"], rec["error"] = False, f"mismatch: {e}"
            rec["known_defect"] = isinstance(e, workloads.StalePartitions) and not wd.fired
        except Exception as e:  # noqa: BLE001 - every failure is counted
            first = (str(e).strip().splitlines() or [""])[0][:300]
            rec["ok"] = False
            rec["error"] = f"{'timeout: ' if wd.fired else ''}{type(e).__name__}: {first}"
            traceback.print_exc(file=sys.stderr)
        wd.disarm()
        t1 = time.time()
        tracer.spans[tracer.op_span]["end"] = t1
        kids = [s for s in tracer.spans if s["parent"] == tracer.op_span]
        done = [s["end"] for s in kids if s["name"] != "verify"]
        rec["latency_s"] = (max(done) if done else t1) - t0
        rec["end"] = t1
        ops_out.append(rec)
        print(f"perfbench-op {fn.op_name} {t1 - t0:.2f}s ok={rec['ok']}",
              file=sys.stderr, flush=True)
    wall_s = time.time() - p0
    if args.workload == "warehouse_load":
        sink_stats["batch_bytes"] = _dir_bytes_files(
            os.path.join(ctx.wh_dir, "events.parquet"))[0]
        for sub in os.listdir(ctx.out_dir):
            if sub.startswith(("sink_", "pipeline_", "scheduled")):
                b, f = _dir_bytes_files(os.path.join(ctx.out_dir, sub))
                sink_stats["write_bytes"] += b
                sink_stats["write_files"] += f
    ctx.duck.close()
    wd.stop.set()
    steal1, total1 = _cpu_jiffies()
    steal_frac = (steal1 - steal0) / max(1, total1 - total0)
    print(f"perfbench-steal {steal_frac:.3f}", file=sys.stderr, flush=True)
    return {"ops": ops_out, "wall_s": wall_s, "start": p0, "sinks": sink_stats,
            "steal_frac": steal_frac}


def _module(op_name: str) -> str:
    from etl_suite_spark.registry import QUERIES

    return QUERIES[op_name].__module__.removeprefix("etl_suite_spark.")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    import etl_suite_spark  # noqa: F401  (registers every operator)

    spark, res = setup(args)
    traced = bool(args.trace)
    if traced:
        res.update(host_probes(spark))
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "refs.json")) as f:
        refs = json.load(f)["refs"]
    tracer = Tracer(spark, traced)
    res.update(run_ops(spark, args, refs, tracer))
    res["peak_rss_mb"] = _tree_vmhwm_mb(os.getpid())
    if traced:
        res["spans"] = tracer.spans
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
