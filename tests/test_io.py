"""Extract-layer contracts: ``load_table`` infers a table's parquet schema
once per table version and reuses it until the table or an inference conf
changes."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from etl_suite_spark.io import load_table, table_path


def _jobs_run(spark, fn):
    """(result of ``fn()``, number of Spark jobs it submitted)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # job starts reach the status tracker through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None))
    out = fn()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(set(tracker.getJobIdsForGroup(None)) - before)


def _write(spark, sf_dir, rows, ddl, mode="overwrite"):
    spark.createDataFrame(rows, ddl).write.mode(mode).parquet(table_path(sf_dir, "orders"))


def test_repeat_read_of_unchanged_table_runs_no_job(spark, tmp_path):
    sf = str(tmp_path)
    _write(spark, sf, [(1, "a"), (2, "b")], "k long, v string")
    first, first_jobs = _jobs_run(spark, lambda: load_table(spark, sf, "orders"))
    second, second_jobs = _jobs_run(spark, lambda: load_table(spark, sf, "orders"))
    assert first_jobs >= 1  # the first read infers (and the counter sees it)
    assert second_jobs == 0
    assert second.schema == first.schema
    assert sorted(map(tuple, second.collect())) == [(1, "a"), (2, "b")]


def test_appended_file_is_visible(spark, tmp_path):
    sf = str(tmp_path)
    _write(spark, sf, [(1, "a")], "k long, v string")
    assert load_table(spark, sf, "orders").count() == 1
    _write(spark, sf, [(2, "b"), (3, "c")], "k long, v string", mode="append")
    got = load_table(spark, sf, "orders")
    assert sorted(r.k for r in got.collect()) == [1, 2, 3]


def test_overwrite_with_new_columns_returns_new_schema(spark, tmp_path):
    sf = str(tmp_path)
    _write(spark, sf, [(1, "a")], "k long, v string")
    assert load_table(spark, sf, "orders").columns == ["k", "v"]
    _write(spark, sf, [(7, 2.5, True)], "id int, w double, flag boolean")
    got = load_table(spark, sf, "orders")
    assert got.columns == ["id", "w", "flag"]
    assert dict(got.dtypes) == {"id": "int", "w": "double", "flag": "boolean"}
    assert [tuple(r) for r in got.collect()] == [(7, 2.5, True)]


def test_inference_conf_flip_reinfers(spark, tmp_path):
    # written without Spark's schema footer, so binaryAsString applies
    sf = str(tmp_path)
    pq.write_table(pa.table({"k": [1], "b": [b"x"]}), table_path(sf, "orders"))
    assert dict(load_table(spark, sf, "orders").dtypes)["b"] == "binary"
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        assert dict(load_table(spark, sf, "orders").dtypes)["b"] == "string"
    finally:
        spark.conf.set(key, old)
    assert dict(load_table(spark, sf, "orders").dtypes)["b"] == "binary"
