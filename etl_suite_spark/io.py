"""Table loading: the extract side of the engine.

Canonical fixture tables (TESTDATA.md) are parquet; ``load_table`` is the
single scan entry point so every operator benefits from the same pushdown /
pruning behavior. At 100 TB these would be partitioned/ bucketed warehouse
tables — the API is path-based so the same code reads a 1000-file dataset.

Parquet schema inference is itself a Spark job (one task even for one file
with ``mergeSchema`` off), so ``load_table`` infers each table's schema once
per table version and reads with that schema afterwards. The memo holds one
entry per path, keyed by the path's modification time, its total bytes and
file count (one Hadoop FileSystem lookup, no Spark job) and the session confs
that change inference (``_SCHEMA_CONFS``). Any write, append or conf flip
changes the key and re-infers; the file listing itself is fresh on every read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .session import configure

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Session confs whose values change the schema parquet inference returns.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
)

# {path: (fingerprint, inferred schema)}; one entry per path read.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _fs_summary(spark: SparkSession, path: str) -> tuple[int, int, int]:
    """(modification time, total bytes, file count) of ``path`` through the
    Hadoop FileSystem API — no Spark job, and FS-agnostic (local, HDFS, S3A
    all implement getContentSummary)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    summary = fs.getContentSummary(jpath)
    mtime = fs.getFileStatus(jpath).getModificationTime()
    return int(mtime), int(summary.getLength()), int(summary.getFileCount())


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per table
    version. The fingerprint is taken BEFORE the read, so a write racing an
    inference can only store a schema under a stale key (re-inferred on the
    next call), never a stale schema under a fresh one."""
    key = (*_fs_summary(spark, path), *(spark.conf.get(k) for k in _SCHEMA_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one canonical table. Column pruning + predicate pushdown are
    Catalyst's job — callers just ``.select``/``.filter`` declaratively.

    The parquet schema is inferred on the first read of each table version
    and reused while the path's modification time, bytes, file count and
    the inference confs (``_SCHEMA_CONFS``) are unchanged, so repeat reads
    launch no Spark job. The file listing is taken fresh on every call."""
    configure(spark)
    df = _read_parquet(spark, table_path(sf_dir, name))
    if name == "events":
        # ts is parquet TIMESTAMP(NANOS). How Spark surfaces it varies by
        # version/conf: either TIMESTAMP_NTZ (Spark 4.1 default: ns
        # truncated to µs — byte-identical to DuckDB's read_parquet
        # truncation, verified) or raw int64 nanos (when
        # spark.sql.legacy.parquet.nanosAsLong is in effect). Dispatch on
        # the ACTUAL read schema — never assume a conf took effect — and
        # normalize to session-TZ (UTC) TimestampType so every downstream
        # operator sees one ts type.
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            # raw nanos → floor-divide to µs (matches DuckDB truncation)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type.startswith("timestamp"):
            # ntz → ltz is an identity rebase under the UTC session TZ
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        else:  # pragma: no cover - new Spark behavior would need a look
            raise TypeError(f"events.ts read as unexpected type {ts_type!r}")
        assert dict(df.dtypes)["ts"] == "timestamp", dict(df.dtypes)["ts"]
        df = df.select("event_id", "ts", "user_id", "event_type", "value", "props")
    return df


def table_bytes(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Total on-disk bytes of one canonical table, from the same Hadoop
    FileSystem lookup as the schema memo (:func:`_fs_summary`) — NO Spark
    job, so it is safe to call at plan-construction time. Used to gate
    broadcast hints on derived tables whose size tracks the source corpus
    (e.g. the bigram-type count tables of the LM scorers): a row-count gate
    there would itself cost a full aggregation job just to pick a join
    strategy, while source bytes are a sound upper-bound proxy — a
    distinct-key count table is never larger than a small multiple of the
    corpus it was counted from."""
    return _fs_summary(spark, table_path(sf_dir, name))[1]


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views for the SQL entry point."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def byte_gated_broadcast(spark: SparkSession, sf_dir: str, name: str, gate_bytes: int):
    """Shared core of every byte-gated broadcast hint (code-review r8:
    three near-identical copies had grown — the LM count tables, the
    embedding docvec table, the TPC-H dims). Under the gate: return
    ``F.broadcast`` (the hint is strictly best). At or over it: return
    identity — no hint is planted and AQE picks the join strategy from
    runtime sizes. The gate reads FILE bytes via :func:`table_bytes`
    (no Spark job at plan-construction time); callers keep their own
    per-family gate constants and monkeypatch points."""
    from pyspark.sql import functions as F

    if table_bytes(spark, sf_dir, name) < gate_bytes:
        return F.broadcast
    return lambda df: df
