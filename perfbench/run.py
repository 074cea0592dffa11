"""Engine benchmark: run one workload for one seed and print its metrics.

    python3 perfbench/run.py --workload adhoc_sql --seed 1 --seconds 40 --trace 0

Run from the repository root. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``:

- ``--trace 0``: the end-to-end metrics (``setup_s``, ``wall_s``), measured
  with tracing off.
- ``--trace 1``: the per-layer metrics, from a traced client process (spans
  plus the Spark event log), and ``trace.overhead_frac``: traced ``wall_s``
  over the untraced ``wall_s`` of the same workload, seed and code, or else
  the median over this checkout's untraced runs of the same workload and
  code (one untraced client runs first if there are none).

Each client is a fresh process (``client.py``) that drives the engine
through its public surface on ``local[<cores>]``. Inputs are generated into
``.perfbench_work/`` under the current directory; nothing is read or written
outside it. ``correct`` is false when an op's output differs from its
reference, except for ``workloads.StalePartitions``, the one known defect,
which still counts in ``failed``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402

RUN_BUDGET_S = 170.0
# The phases in which an op runs engine code; ``verify`` is the benchmark's.
ENGINE_PHASES = ("build", "plan", "exec", "write")

# Modules that register the workloads' ops; ``api`` is raw ``Engine.sql``.
MODULES = [
    "operators.tpch", "operators.aggregates", "operators.joins",
    "operators.windows", "operators.filters", "operators.quality",
    "operators.scale", "operators.graph", "llm.dedup", "llm.similarity",
    "llm.textstats", "llm.traindata", "plans.incremental", "plans.pipeline",
    "plans.scheduler", "sources.scans", "streaming.ops", "api",
]


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def ensure_data(work: str) -> None:
    import gen

    d = os.path.join(work, "data", workloads.DATASET)
    if os.path.isfile(os.path.join(d, "_COMPLETE")):
        return
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    gen.write_tables(tmp, gen.tables(workloads.SCALE))
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)


def _kill_group(pgid: int) -> None:
    """Stop every process left in the client's process group and wait for
    them to end."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(50):
            alive = False
            for p in os.listdir("/proc"):
                if p.isdigit():
                    try:
                        with open(f"/proc/{p}/stat") as f:
                            fields = f.read().rsplit(")", 1)[1].split()
                        if int(fields[2]) == pgid and fields[0] != "Z":
                            alive = True
                            break
                    except OSError:
                        continue
            if not alive:
                return
            time.sleep(0.1)


def _client(args, work: str, run_tmp: str, trace: int, deadline: float,
            eventlog_dir: str | None = None) -> dict:
    """Run one client process in a directory of its own under ``run_tmp``."""
    tmp = os.path.join(run_tmp, f"client{len(os.listdir(run_tmp))}")
    out = os.path.join(tmp, "result.json")
    os.makedirs(os.path.join(tmp, "py"))
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={os.path.join(tmp, 'py')}",
    ]
    if eventlog_dir:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{eventlog_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", "spark.eventLog.includeTaskMetricsAccumulators=false",
        ]
    root = os.getcwd()
    env = dict(os.environ)
    env.update({
        # the repo must be importable by Spark's Python workers too
        "PYTHONPATH": os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": os.path.join(tmp, "py"),
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
        "PERFBENCH_T0": repr(time.time()),
    })
    env.pop("OMP_NUM_THREADS", None)
    cmd = [sys.executable, os.path.join(HERE, "client.py"),
           "--workload", args.workload, "--seed", str(args.seed), "--trace", str(trace),
           "--work", work, "--tmp", tmp, "--out", out]
    with open(os.path.join(work, "client.log"), "a") as log:
        proc = subprocess.Popen(cmd, env=env, cwd=tmp, stdout=log, stderr=log,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _kill_group(proc.pid)
            proc.wait()
    if rc != 0 or not os.path.isfile(out):
        _fail(f"client (trace={trace}) "
              f"{'timed out' if rc is None else f'exited {rc}'}; see {work}/client.log")
    with open(out) as f:
        return json.load(f)


def _code_digest(root: str) -> str:
    """Digest of the engine's and the benchmark's Python sources, so an
    untraced ``wall_s`` is only compared with a traced run of the same code."""
    h = hashlib.sha256()
    for top in ("etl_suite_spark", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(root, top)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(dirpath, f)
                    h.update(os.path.relpath(path, root).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _read_walls(path: str) -> dict:
    if not os.path.isfile(path):
        return {}
    with open(path) as f:
        return json.load(f)


def _untraced_wall(walls: dict, code: str, key: str) -> float | None:
    """The untraced ``wall_s`` of the same workload, code and seed; else the
    median over the other seeds of the same workload and code; else None."""
    if key in walls:
        return walls[key]
    same_code = [w for k, w in walls.items() if k.startswith(code + ":")]
    return statistics.median(same_code) if same_code else None


def _record_wall(path: str, key: str, wall: float) -> None:
    """Keep the untraced ``wall_s`` of a (workload, seed, code) for the
    traced run's ``trace.overhead_frac``."""
    walls = _read_walls(path)
    walls[key] = wall
    with open(path + ".tmp", "w") as f:
        json.dump(walls, f)
    os.replace(path + ".tmp", path)


def _tail(lat: list[float]) -> tuple[float, float]:
    """(latency, percentile) at the highest rank with at least 10 samples
    beyond it; the lower median when there are 20 samples or fewer."""
    s, n = sorted(lat), len(lat)
    rank = n - 10 if n > 20 else (n + 1) // 2
    return s[rank - 1], 100.0 * rank / n


def _outcome(res: dict) -> tuple[bool, int, int]:
    ops = res["ops"]
    failed = [o for o in ops if not o["ok"]]
    correct = all(o["known_defect"] for o in failed)
    return correct, len(ops), len(failed)


def end_to_end(res: dict) -> dict:
    return {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (res["wall_s"], "s"),
    }


def per_layer(res: dict, untraced_wall: float, eventlog_path: str) -> dict:
    import eventlog

    spans = res["spans"]
    ops = res["ops"]
    timed = {str(i) for i in range(len(ops))}
    # the ops' engine phases only: the benchmark's checks and probes are out
    counters = {k: c for k, c in eventlog.reduce(eventlog_path, spans).items()
                if k.split("|")[0] in timed and k.split("|")[1] in ENGINE_PHASES}
    wall = res["wall_s"]

    def phase_s(name, pred=lambda op: True):
        return sum(s["end"] - s["start"] for s in spans
                   if s["name"] == name and s["op"] is not None and pred(ops[s["op"]]))

    def total(counter, pred=lambda key: True):
        return sum(c[counter] for k, c in counters.items() if pred(k))

    def of_module(mod):
        return lambda key: ops[int(key.split("|")[0])]["module"] == mod

    exec_keys = lambda key: key.endswith(("|exec", "|write"))  # noqa: E731
    exec_wall = phase_s("exec") + phase_s("write")
    cores = os.cpu_count() or 1
    first_sql = [s["end"] - s["start"] for s in spans
                 if s["name"] == "build" and ops[s["op"]]["module"] == "api"][:1]
    lat = [o["latency_s"] for o in ops]
    tail, tail_pct = _tail(lat)
    written = res["sinks"]["write_bytes"]
    m = {
        "session.start_s": (res["session.start_s"], "s"),
        "session.warmup_s": (res["session.warmup_s"], "s"),
        "io.register_views_s": (sum(first_sql), "s"),
        "io.input_mb": (total("input_mb"), "MB"),
        "io.input_rows": (total("input_rows"), "count"),
        "op.build_s": (phase_s("build"), "s"),
        "spark.plan_s": (phase_s("plan"), "s"),
        "op.exec_s": (phase_s("exec"), "s"),
        "op.verify_s": (phase_s("verify"), "s"),
        "spark.jobs": (total("jobs"), "count"),
        "spark.stages": (total("stages"), "count"),
        "spark.tasks": (total("tasks"), "count"),
        "spark.slot_busy_frac": (total("task_run_s", exec_keys) / (exec_wall * cores), "frac"),
        "spark.task_run_s": (total("task_run_s"), "s"),
        "spark.task_cpu_s": (total("task_cpu_s"), "s"),
        "spark.gc_s": (total("gc_s"), "s"),
        "spark.shuffle_write_mb": (total("shuffle_write_mb"), "MB"),
        "spark.shuffle_read_mb": (total("shuffle_read_mb"), "MB"),
        "spark.spill_mb": (total("spill_mb"), "MB"),
        "spark.peak_exec_mem_mb": (max([c["peak_exec_mem_mb"] for c in counters.values()] or [0]), "MB"),
        "spark.failed_tasks": (total("failed_tasks"), "count"),
        "sources.sinks.write_frac": (phase_s("write") / wall, "frac"),
        "sources.sinks.bytes_mb": (written / 2**20, "MB"),
        "sources.sinks.files": (res["sinks"]["write_files"], "count"),
        "sources.sinks.write_amp": (
            written / res["sinks"]["batch_bytes"] if res["sinks"]["batch_bytes"] else 0.0, "ratio"),
        "plans.incremental.extract_rows": (total(
            "input_rows", lambda k: ops[int(k.split("|")[0])]["op"].startswith("tick_")), "count"),
        "host.cpu_probe_s": (res["host.cpu_probe_s"], "s"),
        "host.sched_1k_tasks_s": (res["host.sched_1k_tasks_s"], "s"),
        "host.steal_frac": (res["steal_frac"], "frac"),
        "trace.overhead_frac": (
            wall / untraced_wall - 1.0, "frac"),
        "client.peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "client.ops": (len(ops), "count"),
        "client.op_p50_s": (statistics.median(lat), "s"),
        "client.op_tail_s": (tail, "s"),
        "client.op_tail_pct": (tail_pct, "pct"),
        "client.op_fail_ratio": (sum(not o["ok"] for o in ops) / len(ops), "ratio"),
    }
    for mod in MODULES:
        pred = lambda op, mod=mod: op["module"] == mod  # noqa: E731
        m[f"{mod}.build_frac"] = (phase_s("build", pred) / wall, "frac")
        m[f"{mod}.exec_frac"] = ((phase_s("exec", pred) + phase_s("write", pred)) / wall, "frac")
        m[f"{mod}.jobs"] = (total("jobs", of_module(mod)), "count")
    return m


def main() -> None:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # A run always makes each op once, so the measured work is the same on
    # every commit; ``--seconds`` is accepted and does not change it.
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "etl_suite_spark", "api.py")):
        _fail("run from the repository root (etl_suite_spark/ not found)")
    deadline = time.time() + RUN_BUDGET_S
    work = os.path.join(root, ".perfbench_work")
    tmp = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    try:
        ensure_data(work)
        walls = os.path.join(work, "untraced-walls.json")
        code = f"{args.workload}:{_code_digest(root)}"
        key = f"{code}:{args.seed}"
        if args.trace == 0:
            res = _client(args, work, tmp, 0, deadline)
            metrics = end_to_end(res)
            _record_wall(walls, key, metrics["wall_s"][0])
            for o in res["ops"]:
                if not o["ok"]:
                    print(f"perfbench: FAILED {o['op']}: {o['error']}",
                          file=sys.stderr)
        else:
            untraced_wall = _untraced_wall(_read_walls(walls), code, key)
            if untraced_wall is None:
                untraced_wall = end_to_end(_client(args, work, tmp, 0, deadline))["wall_s"][0]
                _record_wall(walls, key, untraced_wall)
            logs = os.path.join(tmp, "eventlog")
            os.makedirs(logs)
            res = _client(args, work, tmp, 1, deadline, eventlog_dir=logs)
            (log,) = [os.path.join(logs, f) for f in os.listdir(logs)]
            metrics = per_layer(res, untraced_wall, log)
            with open(os.path.join(work, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"spans": res["spans"], "ops": res["ops"]}, f)
        correct, attempted, failed = _outcome(res)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
