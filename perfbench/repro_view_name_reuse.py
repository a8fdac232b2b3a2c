"""Reproducer: a view name reused by a second Engine in one SparkSession.

    python3 perfbench/repro_view_name_reuse.py

Engine A ingests records into view ``v``. Engine B, with its own empty
metadata directory, declares a view of the same name on a stream that
has received nothing, and reads it before ingesting anything. Memory
views are served from a session-wide memory-sink table named after the
view, so B's ``view_table("v")`` returns A's rows. Prints both reads and
exits 1 while the leak is present, 0 once it is fixed.

This is why every benchmark rep uses fresh names: a reused name made a
rep "converge" on the previous rep's rows at once.
"""

from __future__ import annotations

import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    sys.path.insert(0, ROOT)
    from pipeline_kinesis_spark import Engine, get_spark
    from pipeline_kinesis_spark.sources.fake_kinesis import FakeKinesisClient

    spark = get_spark(app_name="repro_view_name_reuse")
    sql = "SELECT k, count(*) AS n FROM s GROUP BY k"
    with tempfile.TemporaryDirectory() as d:
        a = Engine(spark, metadata_dir=os.path.join(d, "a"))
        a.add_endpoint("ep")
        a.register_kinesis_client(
            "ep", FakeKinesisClient({"shardId-000": [b"x,1", b"y,2"]})
        )
        a.create_stream("s", "k STRING, v BIGINT")
        a.create_continuous_view("v", sql, stream="s")
        a.consume_begin("ep", "events", "s", fmt="csv", delimiter=",",
                        source="pump")
        while sum(r["n"] for r in a.view_table("v").collect()) < 2:
            pass
        rows_a = sorted(map(tuple, a.view_table("v").collect()))
        a.consume_end_all()

        b = Engine(spark, metadata_dir=os.path.join(d, "b"))
        b.create_stream("s", "k STRING, v BIGINT")
        b.create_continuous_view("v", sql, stream="s")
        rows_b = sorted(map(tuple, b.view_table("v").collect()))
    spark.stop()
    print(f"engine A view v: {rows_a}")
    print(f"engine B view v before any ingest: {rows_b}")
    return 1 if rows_b else 0


if __name__ == "__main__":
    sys.exit(main())
