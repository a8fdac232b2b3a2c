"""Kinesis adapter config surface (network path is environment-gated)."""

from __future__ import annotations

import pytest

from pipeline_kinesis_spark.sources.kinesis import (
    KinesisSource,
    iterator_type,
)


def test_iterator_type_mapping():
    assert iterator_type("trim_horizon") == ("TRIM_HORIZON", None)
    assert iterator_type("latest") == ("LATEST", None)
    assert iterator_type("after_sequence_number:495731") == (
        "AFTER_SEQUENCE_NUMBER",
        "495731",
    )
    with pytest.raises(ValueError):
        iterator_type("yesterday")


def test_config_validation():
    with pytest.raises(ValueError, match="stream_name"):
        KinesisSource(stream_name="", region="us-east-1")
    with pytest.raises(ValueError, match="region"):
        KinesisSource(stream_name="s", region="")
    with pytest.raises(ValueError, match="batch_size"):
        KinesisSource(stream_name="s", region="r", batch_size=100_000)
    with pytest.raises(ValueError, match="start_position"):
        KinesisSource(stream_name="s", region="r", start_position="nope")


def test_read_stream_builds_datasource_stream(spark, tmp_path):
    """read_stream (executor-parallel DataSource path) needs no network
    to PLAN: it registers the format and returns a streaming DataFrame
    in RECORD_SCHEMA; polling happens only once a query starts."""
    from pipeline_kinesis_spark.sources.records import RECORD_SCHEMA

    src = KinesisSource(stream_name="s", region="us-east-1")
    with pytest.raises(TypeError):
        src.read_stream(spark)  # state_dir is required
    df = src.read_stream(spark, state_dir=str(tmp_path / "state"))
    assert df.isStreaming
    assert df.schema == RECORD_SCHEMA
