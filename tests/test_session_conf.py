"""No operator leaves session conf changed: a query's result must not depend
on what ran earlier in the session."""

from __future__ import annotations

import pathlib
import re

from conftest import SF_DIR

from etl_suite_spark.api import Engine
from etl_suite_spark.registry import QUERIES

_MODE = "spark.sql.sources.partitionOverwriteMode"
_PKG = pathlib.Path(__file__).resolve().parents[1] / "etl_suite_spark"


def test_partitioned_overwrite_after_dynamic_operator_drops_stale_partitions(
    spark, tmp_path
):
    before = spark.conf.get(_MODE)
    QUERIES["sink_overwrite_partition"](spark, SF_DIR).collect()
    assert spark.conf.get(_MODE) == before

    sink = {"format": "parquet", "path": str(tmp_path / "t"), "partition_by": ["v"]}
    eng = Engine(spark, SF_DIR)
    eng.load(spark.createDataFrame([(2, "b")], "k long, v string"), sink)
    eng.load(
        spark.createDataFrame([(3, "a")], "k long, v string"),
        {**sink, "mode": "overwrite"},
    )
    got = spark.read.parquet(sink["path"]).select("k", "v").collect()
    assert [tuple(r) for r in got] == [(3, "a")]


def _modules_setting_on_the_session(key):
    pattern = re.compile(rf"conf\.set\(\s*[\"'][^\"']*{re.escape(key)}")
    return [
        str(p.relative_to(_PKG))
        for p in sorted(_PKG.rglob("*.py"))
        if pattern.search(p.read_text())
    ]


def test_no_module_sets_partition_overwrite_mode_on_the_session():
    assert _modules_setting_on_the_session("partitionOverwriteMode") == []


def test_no_module_sets_shuffle_partitions_on_the_session():
    assert _modules_setting_on_the_session("spark.sql.shuffle.partitions") == []
