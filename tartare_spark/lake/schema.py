"""Schemas for the lake table and the change-event log."""

from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# binlog-style change event (FIXTURES.md §2, BASELINE.json:6)
CHANGE_EVENT_SCHEMA = StructType(
    [
        StructField("lsn", LongType(), False),
        StructField("op", StringType(), False),
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("content", StringType(), True),
        StructField("ts", TimestampType(), True),
    ]
)

# physical lake row (BASELINE.json:15 shape + engine system columns)
RAW_LAKE_SCHEMA = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("content", StringType(), True),
        StructField("_lsn", LongType(), False),
        StructField("_deleted", BooleanType(), False),
        StructField("_content_sha", StringType(), True),
        StructField("_ts", TimestampType(), True),
        StructField("_bucket", IntegerType(), True),
    ]
)

# what every lake data file holds: ``_bucket`` is the directory partition
# of the write and is dropped from the files. ``_deleted`` tombstones keep
# last-writer-wins correct under arbitrarily-late cross-batch events (a
# delete must not "forget" its LSN, or a stale lower-LSN update would
# resurrect the row). Writers cast every column to this schema and
# readers pass it to every file read: the lake's physical schema never
# changes (evolution is read-time, see ``SchemaRegistry``), and a read
# without it launches a schema-inference job per call.
PHYS_LAKE_SCHEMA = StructType(
    [f for f in RAW_LAKE_SCHEMA.fields if f.name != "_bucket"]
)
