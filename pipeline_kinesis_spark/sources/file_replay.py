"""File-backed replayable stream source — the engine's default Source.

Plays the role of the reference's Kinesis consumer (kinesis_consumer.cpp):
a stream is a directory; each record file is a batch of JSON-line records
in RECORD_SCHEMA; shard parallelism maps to Spark input partitions. On a
real deployment the same Engine wiring points at a Kinesis/Kafka connector
instead — everything downstream (parse, views, checkpoints) is identical.

Replayability + Structured Streaming's file-source offset log upgrade the
reference's at-least-once delivery (pipeline_kinesis.c:738-758) to
exactly-once.

Flow-control mapping (reference → here):
- bounded queue of 100 batches (conc_queue.hpp) → ``maxFilesPerTrigger``
  admission control in the micro-batch planner. On a file feed (the
  caller's own directory) the cap is ``parallelism`` and is the only
  flow control. On an engine-owned Kinesis spool (landed by the pump
  or the datasource ingest query) it is only a backstop, ``engine.spool_admission_cap`` — the
  poller already bounds what lands (``batchsize`` records per shard per
  fetch, ``rate_limit_rps`` fetches per second), so each micro-batch
  admits everything spooled since the last one;
- 4 req/s pacing + backoff (kinesis_consumer.cpp:410-430) → trigger
  interval for file feeds; the Kinesis poller paces GetRecords itself.
"""

from __future__ import annotations

import json
import os
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from pipeline_kinesis_spark.sources.records import RECORD_SCHEMA


def write_record_file(
    stream_dir: str,
    records: list,
    file_name: str | None = None,
) -> str:
    """Append one batch file of records to a stream directory (test/demo
    producer — the analog of `aws kinesis put-record`, README.md:39-45 —
    and the Kinesis pump's spool writer).

    Each record is a dict or a RECORD_SCHEMA namedtuple row (the pump's
    RecordRow) and may carry data / sequence_number / partition_key /
    approximate_arrival_timestamp / shard_id; missing fields are
    defaulted, and a missing or null arrival is stamped with the write
    time. A datetime arrival (boto3's shape) is written as ISO-8601,
    keeping its UTC offset. Files are written atomically (tmp + rename)
    so a concurrent reader never sees a partial batch.
    """
    os.makedirs(stream_dir, exist_ok=True)
    n_existing = len(
        [f for f in os.listdir(stream_dir) if f.endswith(".jsonl")]
    )
    file_name = file_name or f"batch-{n_existing:08d}.jsonl"
    path = os.path.join(stream_dir, file_name)
    tmp = path + ".tmp"
    now = datetime.utcnow().isoformat()
    with open(tmp, "w") as f:
        for i, rec in enumerate(records):
            if isinstance(rec, tuple):
                rec = rec._asdict()
            arrival = rec.get("approximate_arrival_timestamp") or now
            row = {
                "data": rec.get("data"),
                "sequence_number": rec.get(
                    "sequence_number", f"{n_existing:08d}-{i:08d}"
                ),
                "partition_key": rec.get("partition_key"),
                "approximate_arrival_timestamp": (
                    arrival.isoformat()
                    if isinstance(arrival, datetime)
                    else arrival
                ),
                "shard_id": rec.get("shard_id", "shardId-000000000000"),
            }
            f.write(json.dumps(row) + "\n")
    os.replace(tmp, path)
    return path


class FileReplaySource:
    """Readable both as an unbounded stream and as a batch (for replay
    verification)."""

    def __init__(self, stream_dir: str, max_files_per_trigger: int | None = None):
        self.stream_dir = stream_dir
        self.max_files_per_trigger = max_files_per_trigger

    def read_stream(self, spark: SparkSession) -> DataFrame:
        # a consumer may start before the first producer write (a Kinesis
        # stream exists independently of records) — materialize the
        # stream directory so the file source can begin polling it
        os.makedirs(self.stream_dir, exist_ok=True)
        reader = (
            spark.readStream.schema(RECORD_SCHEMA)
            .format("json")
            .option("pathGlobFilter", "*.jsonl")
        )
        if self.max_files_per_trigger:
            reader = reader.option(
                "maxFilesPerTrigger", self.max_files_per_trigger
            )
        return reader.load(self.stream_dir)

    def read_batch(self, spark: SparkSession) -> DataFrame:
        return (
            spark.read.schema(RECORD_SCHEMA)
            .format("json")
            .option("pathGlobFilter", "*.jsonl")
            .load(self.stream_dir)
        )
