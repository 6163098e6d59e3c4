"""Fixture table loaders (Parquet scans, SURVEY §2.1 S1-S4).

The reference scans CSV two ways — serde row-typed
(``meos/examples/04_to_file.rs:69-84``) and Polars lazy multi-file
(``meos-polars/examples/ais_to_db.rs:118-120``). Our sources are the driver's
parquet fixtures; `spark.read.parquet` gives the same capability surface
(explicit schema, globbing, column pruning + predicate pushdown for free).

``events.ts`` normalization is schema-adaptive because the driver has shipped
two fixture generations: TIMESTAMP(NANOS,false) (readable only via
``spark.sql.legacy.parquet.nanosAsLong=true``, surfacing int64 nanos) and
plain ``timestamp[us]`` (read as TIMESTAMP_NTZ). Either way the loader emits:

  * ``ts``     TIMESTAMP_NTZ at microsecond precision (the nanos generation is
               truncated, matching DuckDB's nanos→micros parquet truncation) —
               built TZ-independently so a non-UTC driver session cannot skew it
  * ``ts_ns``  int64 epoch nanos (strict-ordering column for the monotonic
               dedup filter, reference 04_to_file.rs:92-96; derived micros*1000
               under the micros generation)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meos_rs_spark.session import prepare_session

TABLE_NAMES = (
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

MICROS_PER_DAY = 86_400_000_000


def _normalize_events(df: DataFrame) -> DataFrame:
    from pyspark.sql.types import LongType

    if isinstance(df.schema["ts"].dataType, LongType):
        # nanos fixture generation: int64 nanos -> TIMESTAMP_NTZ(micros),
        # without going through a double (1.7e18 exceeds 2^53) and without
        # session-TZ-dependent casts. `div 1000` truncates toward zero;
        # DuckDB's parquet reader truncates nanos to micros the same way for
        # the post-epoch timestamps in the fixtures (all 2024), so the oracle
        # side (`events` registered directly on the parquet) sees identical ts.
        ntz = F.expr(
            f"timestampadd(MICROSECOND, (ts div 1000) % {MICROS_PER_DAY}, "
            f"CAST(date_add(DATE '1970-01-01', CAST((ts div 1000) div {MICROS_PER_DAY} AS INT)) "
            f"AS TIMESTAMP_NTZ))"
        )
        ts_ns = F.col("ts")
    else:
        # micros fixture generation: parquet timestamp[us] (isAdjustedToUTC =
        # false) arrives as TIMESTAMP_NTZ (inferTimestampNTZ default) or, if a
        # driver session disables that, TIMESTAMP — the latter's cast to
        # TIMESTAMP_NTZ goes through the session TZ, which the UTC session pin
        # (prepare_session) makes lossless. ts_ns derives from the SAME ntz
        # expression (not the raw ts column), so ts and ts_ns can never skew
        # apart regardless of which physical type the fixture surfaced as.
        ntz = F.col("ts").cast("timestamp_ntz")
        ntz_sql = "CAST(ts AS TIMESTAMP_NTZ)"
        ts_ns = (
            F.datediff(F.to_date(ntz), F.lit("1970-01-01")).cast("long")
            * F.lit(MICROS_PER_DAY)
            + F.expr(
                f"timestampdiff(MICROSECOND, CAST(CAST({ntz_sql} AS DATE) AS TIMESTAMP_NTZ), {ntz_sql})"
            )
        ) * F.lit(1000)
    return df.select(
        "event_id",
        ntz.alias("ts"),
        ts_ns.alias("ts_ns"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with normalized column types."""
    prepare_session(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if name == "events":
        df = _normalize_events(df)
    return df
