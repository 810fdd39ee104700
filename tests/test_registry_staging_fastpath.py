"""Pins for the round-6 fixed-cost fast paths: the driver-side registry
hop must agree with the distributed scan, and the partial-image table
set observed during the staging write must agree with the post-hoc
parquet probe it replaced."""

import os

import pytest

from binlog_spark.cdc.multi import (REGISTRY_DRIVER_MAX_BYTES,
                                    scan_table_registry,
                                    scan_table_registry_spans, stage_events)
from binlog_spark.decoder.chunks import chunks_df, spans_df
from binlog_spark.decoder.generic import decode_changes_vals
from binlog_spark.mysql.gen_multi import generate_multi


@pytest.fixture(scope="module")
def mixed_dump(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("regfast") / "dump")
    generate_multi(d, n_changes=2500, seed=21, minimal_images=True)
    return d


def test_driver_registry_matches_distributed(spark, mixed_dump):
    spans = [tuple(r) for r in chunks_df(spark, mixed_dump).collect()]
    assert sum(int(s[3]) for s in spans) <= REGISTRY_DRIVER_MAX_BYTES
    via_driver = scan_table_registry_spans(spark, spans)
    via_spark = scan_table_registry(spark, spans_df(spark, spans))
    assert via_driver == via_spark
    assert via_driver  # non-empty: the fixture declares tables


def test_threshold_routes_to_distributed(spark, mixed_dump, monkeypatch):
    """Force the byte gate to 0: the spans route through the distributed
    scan and the registry is identical."""
    import binlog_spark.cdc.multi as M
    spans = [tuple(r) for r in chunks_df(spark, mixed_dump).collect()]
    expected = scan_table_registry_spans(spark, spans)
    monkeypatch.setattr(M, "REGISTRY_DRIVER_MAX_BYTES", 0)
    assert M.scan_table_registry_spans(spark, spans) == expected


def test_stage_events_observes_partial_tables(spark, mixed_dump, tmp_path):
    """The set returned by stage_events equals a scan of the staged
    parquet's two presence strings."""
    from pyspark.sql import functions as F
    staging = str(tmp_path / "staging")
    events = decode_changes_vals(chunks_df(spark, mixed_dump))
    observed = stage_events(events, staging)
    probed = {
        (r.table_schema, r.table_name)
        for r in (spark.read.parquet(staging)
                  .where(F.col("after_present").isNotNull()
                         | F.col("before_present").isNotNull())
                  .select("table_schema", "table_name")
                  .distinct().collect())}
    assert observed == probed
    assert observed  # the MINIMAL fixture stages partial images
