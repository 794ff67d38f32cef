"""Explicit schemas for the sources read without a footer to trust: the
raw Kickstarter CSV and the events stream.

The reference infers all types from CSV (reference ``src/etl_pipeline.py:53``
— pandas ``read_csv`` with no dtype). At 100 TB, inference is slow and
nondeterministic, so the engine declares the CSV's StructType and keeps
inference as an opt-in parity mode (sources.readers.read_csv). The
warehouse tables take their schema from the transforms that build them.

Types follow SURVEY.md §1.2: money stays DoubleType (the reference and its
SQLite warehouse use float64/REAL, and the DuckDB oracle hashes doubles);
0/1 flags stay IntegerType, not BooleanType, to match reference semantics.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- Raw Kickstarter CSV (reference logs/etl_pipeline.log:10-24; 15 cols) ---
# Note the literal column name "usd pledged" (embedded space) — preserved
# here, dropped by the final projection exactly like the reference.
KICKSTARTER_RAW = T.StructType(
    [
        T.StructField("ID", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("main_category", T.StringType()),
        T.StructField("currency", T.StringType()),
        T.StructField("deadline", T.StringType()),
        T.StructField("goal", T.DoubleType()),
        T.StructField("launched", T.StringType()),
        T.StructField("pledged", T.DoubleType()),
        T.StructField("state", T.StringType()),
        T.StructField("backers", T.LongType()),
        T.StructField("country", T.StringType()),
        T.StructField("usd pledged", T.DoubleType()),
        T.StructField("usd_pledged_real", T.DoubleType()),
        T.StructField("usd_goal_real", T.DoubleType()),
    ]
)

# --- Driver fixture tables (/root/testdata/sf*/; FIXTURES.md §B) ---
# The physical layout of events.ts has varied across fixture generations
# (int64 nanoseconds in early rounds; parquet TIMESTAMP(µs) currently), so
# the schema is a builder parameterized on the ts type. Readers probe the
# parquet footer and pick the matching variant — declaring a schema that
# disagrees with the footer silently reinterprets the bytes (the r4
# streaming ts-unit bug).

_EVENTS_TS_TYPES: dict[str, T.DataType] = {
    "bigint": T.LongType(),
    "timestamp": T.TimestampType(),
    "timestamp_ntz": T.TimestampNTZType(),
}


def events_schema(ts_dtype: str = "timestamp_ntz") -> T.StructType:
    """EVENTS StructType with ``ts`` as the given Spark simple-dtype
    string (one of ``bigint`` / ``timestamp`` / ``timestamp_ntz``)."""
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", _EVENTS_TS_TYPES[ts_dtype]),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )

