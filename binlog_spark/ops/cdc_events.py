"""CDC semantics demonstrated on the driver's ``events`` table.

These mirror the engine's real pipeline stages (binlog_spark.cdc.pipeline)
on a table the DuckDB oracle can also see: the events stream is read as a
change log keyed by user_id, with ``event_type='error'`` acting as the
delete marker — so dedup, offset tracking, and last-writer-wins apply all
get an independently-checkable twin (the real pipeline is checked against
the sequential oracle instead; see tests/test_spark_replay.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-identity dedup: first event per (user_id, event_type) in
    (ts, event_id) order — the (gtid, seq) dedup shape."""
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
    return (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_type", "event_id",
                    F.round("value", 4).alias("value"))
            .orderBy("user_id", "event_type"))


def cdc_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-writer-wins per key via max_by over the commit-order struct —
    identical plan shape to pipeline.last_writer_wins."""
    ev = _ev(spark, sf_dir)
    payload = F.struct("event_type", "value", "event_id")
    order = F.struct("ts", "event_id")
    return (ev.groupBy("user_id")
            .agg(F.max_by(payload, order).alias("w"),
                 F.count("*").alias("n_events"))
            .select("user_id",
                    F.col("w.event_type").alias("last_type"),
                    F.round(F.col("w.value"), 4).alias("last_value"),
                    F.col("w.event_id").alias("last_event_id"),
                    "n_events")
            .orderBy("user_id"))


def cdc_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset discovery: max applied position per stream — the
    MasterStatus aggregation (/root/reference/local.go:96-146 role)."""
    ev = _ev(spark, sf_dir)
    return (ev.groupBy("event_type")
            .agg(F.max("event_id").alias("max_offset"),
                 F.count("*").alias("n_events"),
                 F.countDistinct("user_id").alias("n_users"))
            .orderBy("event_type"))


def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full apply: treat 'error' as a delete marker; a user's final row is
    their latest non-error event after their last error (commit-order
    last-writer-wins + tombstones)."""
    ev = _ev(spark, sf_dir)
    deletes = (ev.filter(F.col("event_type") == "error")
               .groupBy("user_id")
               .agg(F.max(F.struct("ts", "event_id")).alias("del_ord")))
    live = (ev.filter(F.col("event_type") != "error")
            .join(deletes, "user_id", "left")
            .filter(F.col("del_ord").isNull()
                    | (F.struct("ts", "event_id") > F.col("del_ord"))))
    payload = F.struct("event_type", "value", "event_id")
    return (live.groupBy("user_id")
            .agg(F.max_by(payload, F.struct("ts", "event_id")).alias("w"))
            .select("user_id",
                    F.col("w.event_type").alias("event_type"),
                    F.round(F.col("w.value"), 4).alias("value"),
                    F.col("w.event_id").alias("event_id"))
            .orderBy("user_id"))
