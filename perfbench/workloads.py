"""The benchmark's workloads: which ops a run makes, in which order, on which
inputs, and how each op's output is checked.

Every op goes through the engine's public surface (``api.Engine``,
``plans.scheduler.Scheduler``). An op is a function ``fn(ctx, t)``: it calls
the engine inside the ``t.phase(...)`` spans ``build``, ``exec`` (the timed
checksum action) and ``write``, then checks its output inside ``verify`` and
raises ``Mismatch`` if the output is wrong.

The seed sets SQL literals, tick windows and warehouse_load's op order.
Table contents come from ``gen.py`` alone, so an op that only reads tables
has one stored reference (``refs.json``, accepted only after a DuckDB oracle
match), while seeded ops are checked against DuckDB on the same input during
the run.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import check

WORKLOADS = ("adhoc_sql", "warehouse_load")

# A run makes each of its workload's ops once, so no
# ``materialize_once`` artifact is reused with identical inputs.
SCALE = 0.5
DATASET = f"s{SCALE}"


ADHOC_OPS = [
    "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q9", "tpch_q18", "tpch_q21",
    "agg_group_basic", "join_multiway", "win_topk_per_group", "win_sessionize",
    "dedup_by_key_latest", "agg_approx_count_distinct", "dq_snapshot_diff",
    "join_range_bucketed", "scan_projected",
]
# warehouse_load's registry ops: table maintenance and a stream on the
# warehouse side; corpus preparation and a graph metric as transform stages.
WAREHOUSE_OPS = [
    "sink_overwrite_partition", "stream_foreachbatch_upsert", "scan_csv_roundtrip",
    "llm_dedup_minhash", "llm_text_stats", "llm_emb_pca", "llm_seq_packing",
    "graph_degree_histogram",
]
REGISTRY_OPS = {"adhoc_sql": ADHOC_OPS, "warehouse_load": WAREHOUSE_OPS}

MONEY = "CAST(CAST(SUM(CAST({} AS DECIMAL(18,{}))) AS STRING) AS DOUBLE)"


class Mismatch(Exception):
    """An op's output differs from its reference."""


class StalePartitions(Mismatch):
    """The known defect, and only it: after a full-refresh partitioned
    overwrite the sink holds exactly the new rows plus the earlier ticks'
    rows of every day outside the refreshed range. ``sink_overwrite_partition``
    leaves ``spark.sql.sources.partitionOverwriteMode=dynamic`` set for the
    session, so the overwrite replaces only the partitions it writes
    (ROADMAP direction 1). It counts as a failed op but does not clear
    ``correct``; any other failure of the refresh does."""


def _ts(d: dt.date) -> str:
    return f"TIMESTAMP '{d.isoformat()} 00:00:00'"


def _check(got, want, what: str) -> None:
    if got != want:
        raise Mismatch(f"{what}: got {got}, want {want}")


# --- op kinds -----------------------------------------------------------------

def registry_op(name: str):
    """``Engine.run(name)`` on the immutable generated dataset, checked against
    the stored reference (row count always; checksum unless rows-only)."""

    def fn(ctx, t):
        with t.phase("build"):
            df = ctx.eng.run(name)
        rows, checksum = t.checksum(df)
        with t.phase("verify"):
            ref = ctx.refs.get(f"{DATASET}/{name}")
            if ref is None:
                raise Mismatch(f"no reference for {DATASET}/{name}")
            _check(rows, ref["rows"], "rows")
            if not ref["rows_only"]:
                _check(checksum, ref["checksum"], "checksum")

    fn.op_name, fn.module = name, None
    return fn


def sql_op(name: str, sql: str):
    """``Engine.sql`` with seeded literals, checked against DuckDB running
    the same query on the same input."""

    def fn(ctx, t):
        with t.phase("build"):
            df = ctx.sql_eng.sql(sql)
        t.checksum(df)
        with t.phase("verify"):
            _check(check.spark_digest(df), ctx.duck_digest(sql), "digest")

    fn.op_name, fn.module = name, "api"
    return fn


def adhoc_sql_ops(rng: random.Random) -> list:
    d0 = dt.date(1995, 1, 1)
    ship = d0 + dt.timedelta(days=rng.randrange(600, 2400))
    disc = rng.randrange(0, 8) / 100
    return [
        sql_op("sql_pricing_summary", f"""
            SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines,
                   {MONEY.format('l_extendedprice', 2)} AS sum_price,
                   {MONEY.format('l_quantity', 2)} AS sum_qty
            FROM lineitem WHERE l_shipdate <= {_ts(ship)}
            GROUP BY l_returnflag, l_linestatus"""),
        sql_op("sql_nation_revenue", f"""
            SELECT n_name, COUNT(*) AS n_lines,
                   CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS STRING)
                        AS DOUBLE) AS revenue
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                 JOIN nation ON s_nationkey = n_nationkey
            WHERE l_discount >= {disc}
            GROUP BY n_name"""),
    ]


# --- warehouse_load ----------------------------------------------------------

ROLLUP_DUCK = """
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, COUNT(*) AS n_events,
           {money} AS sum_value
    FROM events WHERE {where}
    GROUP BY 1, 2"""


def _rollup(inc):
    from pyspark.sql import functions as F

    from etl_suite_spark.core import dsum

    return inc.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(F.count("*").alias("n_events"), dsum("value", 4).alias("sum_value"))


def _sink_rows(ctx, path: str, partitioned: bool = False):
    """DuckDB digest of what a parquet sink left on disk."""
    src = f"read_parquet('{path}/**/*.parquet', hive_partitioning=true)"
    cols = "CAST(day AS STRING) AS day, * EXCLUDE (day)" if partitioned else "*"
    return ctx.duck_digest(f"SELECT {cols} FROM {src}")


def tick_op(i: int, batch_rows: int):
    """One incremental tick: ``Engine.incremental_tick`` extracts the events
    past the watermark, ``Engine.load`` appends the rollup to the
    day-partitioned warehouse sink. The client first appends ``batch_rows``
    new events (none for the first tick, which extracts the base table)."""

    def fn(ctx, t):
        wm_before = ctx.read_watermark()
        with t.phase("build"):
            out = ctx.wh_eng.incremental_tick(ctx.state_path, _rollup)
        with t.phase("write"):
            ctx.wh_eng.load(out, {"format": "parquet", "path": ctx.sink,
                                  "partition_by": ["day"], "mode": "append"})
        with t.phase("verify"):
            wm_after = ctx.read_watermark()
            ctx.expected_sink.extend(ctx.duck_rows(ROLLUP_DUCK.format(
                money=MONEY.format("value", 4),
                where=f"ts > TIMESTAMP '{wm_before}' AND ts <= TIMESTAMP '{wm_after}'")))
            _check(_sink_rows(ctx, ctx.sink, partitioned=True), ctx.digest_rows(ctx.expected_sink), "sink")

    fn.op_name, fn.module = f"tick_{i}", "plans.incremental"
    fn.tick, fn.batch_rows = i, batch_rows
    return fn


def _pipeline_spec(types: list[str], sink: dict) -> dict:
    quoted = ", ".join(f"'{x}'" for x in types)
    return {
        "source": {"table": "events"},
        "transforms": [
            {"op": "filter", "predicate": f"event_type IN ({quoted})"},
            {"op": "groupby", "keys": ["user_id"], "aggs": {
                "n": "count(*)",
                "total": "cast(cast(sum(cast(value as decimal(18,4))) as string) as double)",
            }},
        ],
        "sink": sink,
    }


def _pipeline_expected(types: list[str]) -> str:
    quoted = ", ".join(f"'{x}'" for x in types)
    return (f"SELECT user_id, COUNT(*) AS n, {MONEY.format('value', 4)} AS total "
            f"FROM events WHERE event_type IN ({quoted}) GROUP BY user_id")


def pipeline_op(fmt: str, types: list[str]):
    """``Engine.run_pipeline`` of a filter→groupby spec into a parquet or JDBC
    (embedded Derby) sink, checked by reading the sink back."""

    def fn(ctx, t):
        if fmt == "jdbc":
            table = "PIPE"
            sink = {"format": "jdbc", "url": ctx.derby_url, "table": table}
        else:
            path = os.path.join(ctx.out_dir, f"pipeline_{fmt}")
            sink = {"format": fmt, "path": path}
        with t.phase("write"):
            ctx.wh_eng.run_pipeline(_pipeline_spec(types, sink))
        with t.phase("verify"):
            want = ctx.duck_digest(_pipeline_expected(types))
            if fmt == "jdbc":
                back = ctx.spark.read.jdbc(ctx.derby_url, table)
                got = check.spark_digest(back.toDF(*[c.lower() for c in back.columns]))
            else:
                got = _sink_rows(ctx, path)
            _check(got, want, f"{fmt} sink")

    fn.op_name, fn.module = f"pipeline_{fmt}", "plans.pipeline"
    return fn


def scheduler_op(types: list[str]):
    """``Scheduler.run_pending`` with one due job (a parquet pipeline)."""

    def fn(ctx, t):
        from etl_suite_spark.plans.scheduler import Job, Scheduler

        path = os.path.join(ctx.out_dir, "scheduled")
        sched = Scheduler(ctx.spark, ctx.wh_dir).add(
            Job("rollup", _pipeline_spec(types, {"format": "parquet", "path": path}), 0.0))
        with t.phase("write"):
            ran = sched.run_pending()
        with t.phase("verify"):
            _check(ran, ["rollup"], "jobs run")
            _check(_sink_rows(ctx, path), ctx.duck_digest(_pipeline_expected(types)), "sink")

    fn.op_name, fn.module = "scheduler_run_pending", "plans.scheduler"
    return fn


def refresh_op(lo: dt.date, hi: dt.date):
    """Full-refresh partitioned overwrite of the warehouse sink with a day
    range that differs from the ticks' partition set. Checked against
    fresh-session semantics: after an overwrite, only the new rows remain.
    Raises ``StalePartitions`` when the sink holds exactly those rows plus
    the ticks' rows of the days outside [lo, hi), ``Mismatch`` otherwise."""
    where = f"ts >= {_ts(lo)} AND ts < {_ts(hi)}"

    def fn(ctx, t):
        with t.phase("build"):
            df = ctx.wh_eng.sql(f"""
                SELECT date_format(ts, 'yyyy-MM-dd') AS day, event_type,
                       COUNT(*) AS n_events, {MONEY.format('value', 4)} AS sum_value
                FROM events WHERE {where} GROUP BY 1, 2""")
        with t.phase("write"):
            ctx.wh_eng.load(df, {"format": "parquet", "path": ctx.sink,
                                 "partition_by": ["day"], "mode": "overwrite"})
        with t.phase("verify"):
            want = ctx.duck_rows(ROLLUP_DUCK.format(money=MONEY.format("value", 4), where=where))
            got = _sink_rows(ctx, ctx.sink, partitioned=True)
            if got == ctx.digest_rows(want):
                return
            stale = [r for r in ctx.expected_sink
                     if not lo.isoformat() <= r[0] < hi.isoformat()]
            if stale and got == ctx.digest_rows(want + stale):
                raise StalePartitions(
                    f"full refresh: {len(stale)} stale rows of days outside "
                    f"[{lo}, {hi}) remain")
            _check(got, ctx.digest_rows(want), "full refresh")

    fn.op_name, fn.module = "full_refresh_overwrite", "api"
    return fn


N_TICKS = 2


def warehouse_plan(rng: random.Random) -> list:
    """Op order of a warehouse run; the seed sets it, the event-batch sizes
    (tick windows) and the full-refresh day range."""
    types = sorted(rng.sample(["click", "view", "purchase", "signup", "error"], 3))
    middle = [registry_op(n) for n in WAREHOUSE_OPS] + [
        pipeline_op("parquet", types), pipeline_op("jdbc", types), scheduler_op(types),
    ]
    rng.shuffle(middle)
    ops: list = []
    step = len(middle) // N_TICKS
    for i in range(N_TICKS):
        ops.append(tick_op(i + 1, rng.randrange(500, 2000) if i else 0))
        ops.extend(middle[i * step:(i + 1) * step] if i < N_TICKS - 1 else middle[i * step:])
    lo = dt.date(2024, 1, 1) + dt.timedelta(days=rng.randrange(0, 10))
    ops.append(refresh_op(lo, lo + dt.timedelta(days=rng.randrange(3, 8))))
    return ops


def plan(workload: str, seed: int) -> list:
    """The ops of a run, in order.

    adhoc_sql runs in list order for every seed, which sets only its SQL
    literals. On a cold JVM the first ops pay for most of the class loading
    and compilation, and which ops those are moved the wall time by about a
    fifth between seeds."""
    rng = random.Random(f"{workload}:{seed}")
    if workload == "warehouse_load":
        return warehouse_plan(rng)
    return [registry_op(n) for n in ADHOC_OPS] + adhoc_sql_ops(rng)
