"""Robust corpus ingestion: a distributed NDJSON reader that QUARANTINES
malformed records instead of failing the job or silently dropping them.

At 100 TB a single corrupt line must not kill a ten-hour ingest
(FAILFAST), and silently nulling it (PERMISSIVE + drop) loses the
evidence operators need to fix the producer.  The reader splits every
input line into exactly one of two DataFrames:

- **good**: parsed columns per the caller's schema;
- **quarantine**: the raw line + source file, untouched, for triage
  and replay.

Built on ``spark.read.text`` + ``from_json`` rather than
the DataFrameReader's ``columnNameOfCorruptRecord`` machinery: the
corrupt-column route needs caching workarounds to filter on (Spark
disallows plans referencing only the internal corrupt column), while
``from_json`` returning NULL for unparsable input composes like any
other Column.  Both outputs are narrow projections of ONE distributed
text scan — no driver-side parsing, no extra pass.

Note on partial corruption: ``from_json`` is all-or-nothing per line —
a syntactically valid JSON object with a wrong-typed field yields a row
with that field NULL (Spark's permissive cast), not a quarantine row.
Schema-level triage of such rows belongs to a validation step over the
good side (e.g. ``F.col(x).isNull()`` guards), not the reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _lines(spark: SparkSession, path: str) -> DataFrame:
    return (spark.read.text(path)
            .select(F.col("value").alias("__raw__"),
                    F.input_file_name().alias("__file__"))
            .filter(F.length(F.trim(F.col("__raw__"))) > 0))


def _quarantine_cols():
    # built lazily: Column construction needs an active SparkContext,
    # and this module must stay importable before a session exists
    return (F.col("__raw__").alias("raw"),
            F.col("__file__").alias("source_file"))


def read_ndjson_quarantine(
        spark: SparkSession, path: str,
        schema: T.StructType | str) -> tuple[DataFrame, DataFrame]:
    """Read NDJSON into ``(good, quarantine)``.

    ``good`` has exactly the caller's schema columns (missing fields
    NULL, extra fields ignored — the standard schema-on-read drift
    semantics); ``quarantine`` is (raw, source_file) for every
    non-empty line that failed to parse as a JSON object.

    Corruption is detected via an explicit corrupt-record field in the
    parse schema (``from_json`` alone is unreliable: PERMISSIVE mode
    renders some malformed inputs as an all-NULL struct,
    indistinguishable from a valid ``{}`` record).
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    corrupt = "__corrupt__"
    parse_schema = T.StructType(
        list(schema.fields) + [T.StructField(corrupt, T.StringType())])
    lines = _lines(spark, path)
    parsed = lines.withColumn(
        "__rec__",
        F.from_json(F.col("__raw__"), parse_schema,
                    {"columnNameOfCorruptRecord": corrupt,
                     "mode": "PERMISSIVE"}))
    bad = (F.col("__rec__").isNull() |
           F.col(f"__rec__.{corrupt}").isNotNull())
    good = parsed.filter(~bad).select(
        *[F.col(f"__rec__.{f.name}") for f in schema.fields])
    quarantine = parsed.filter(bad).select(*_quarantine_cols())
    return good, quarantine
