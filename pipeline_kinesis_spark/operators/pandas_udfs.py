"""Pandas-UDF operator surface (SURVEY.md §2B B27).

The reference's extensibility story is C UDFs registered in the catalog
(pipeline_kinesis--0.9.0.sql:33-83); ours is Spark's Python UDF tiers.
This module demonstrates the two that matter at scale — Arrow-batched
scalar pandas UDFs and grouped applyInPandas — on real queries that are
still oracle-checkable against DuckDB SQL. Row-at-a-time @udf is
deliberately not used: it serializes row by row through Python, ~10-100x
slower than these Arrow-batched tiers.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from pipeline_kinesis_spark.io import load
from pipeline_kinesis_spark.operators import QuerySpec


def zscore_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score of purchase values via applyInPandas (grouped-map).

    Arrow moves each user's rows to Python once; pandas does the vector
    math. Groups are independent → scales with user cardinality. Oracle:
    the equivalent window SQL.
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )

    def z(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            zs = pd.Series([None] * n, dtype="float64")
        else:
            zs = ((pdf["value"] - pdf["value"].mean())
                  / pdf["value"].std(ddof=1)).round(6)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "zscore": zs,
            }
        )

    return e.select("event_id", "user_id", "value").groupBy(
        "user_id"
    ).applyInPandas(z, "event_id BIGINT, user_id BIGINT, zscore DOUBLE")


ZSCORE_SQL = """
SELECT
  event_id,
  user_id,
  CASE WHEN count(*) OVER w >= 2
       THEN round((value - avg(value) OVER w) / stddev_samp(value) OVER w, 6)
  END AS zscore
FROM events
WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id)
"""


def scaled_value_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF (Arrow-vectorized, ~10-100× row-at-a-time @udf):
    min-max scale event values against fixed bounds."""

    @pandas_udf("double")
    def minmax(v: pd.Series) -> pd.Series:
        return ((v - 0.0) / 1000.0).clip(0.0, 1.0).round(6)

    e = load(spark, sf_dir, "events")
    return (
        e.withColumn("scaled", minmax("value"))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("scaled"), 6).alias("avg_scaled"),
            F.round(F.min("scaled"), 6).alias("min_scaled"),
            F.round(F.max("scaled"), 6).alias("max_scaled"),
        )
    )


SCALED_VALUE_SQL = """
SELECT
  event_type,
  round(avg(s), 6) AS avg_scaled,
  round(min(s), 6) AS min_scaled,
  round(max(s), 6) AS max_scaled
FROM (
  SELECT event_type,
         round(least(greatest(value / 1000.0, 0.0), 1.0), 6) AS s
  FROM events
)
GROUP BY event_type
"""


QUERIES: dict[str, QuerySpec] = {
    "zscore_per_user": QuerySpec(zscore_per_user, ZSCORE_SQL),
    "scaled_value_pandas": QuerySpec(scaled_value_pandas, SCALED_VALUE_SQL),
}
