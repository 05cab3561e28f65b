"""Source/sink layer: one entry point for every table format the engine
reads or writes.

The north-star input is an Iceberg table of source files (BASELINE.json
input_hint). This container ships no iceberg-spark-runtime jar, so
``read_table(fmt="iceberg")`` is a documented seam: when the session has an
Iceberg catalog configured it resolves ``spark.table(name)``; otherwise it
raises with the exact config needed. Everything else — parquet (the test
corpus), csv, json, orc — is fully wired and oracle-gated by round-trip
queries in __spark_entry__ (write -> read back -> aggregate must hash-match
the direct-parquet oracle).

Scale notes: csv/json are row formats with no predicate pushdown or column
pruning — fine as ingest/egress edges, never as the working format; the
engine's working storage stays columnar (parquet segments). Schemas are
always passed explicitly on read (inference is a full extra scan at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

SUPPORTED = ("parquet", "csv", "json", "orc")

# lossless timestamp format for the row formats (micros preserved)
_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: str | None = None,
) -> DataFrame:
    if fmt == "iceberg":
        # Iceberg seam: `path` is a catalog table name. Needs
        # spark.sql.catalog.<cat>=org.apache.iceberg.spark.SparkCatalog and
        # the iceberg-spark-runtime jar on the classpath.
        try:
            return spark.table(path)
        except Exception as e:  # pragma: no cover - container has no jar
            raise RuntimeError(
                "Iceberg source needs iceberg-spark-runtime on the classpath "
                "and a spark.sql.catalog.* configured; this environment has "
                f"neither ({e})"
            ) from e
    if fmt not in SUPPORTED:
        raise ValueError(f"unsupported format {fmt!r}; use one of {SUPPORTED}")
    reader = spark.read.format(fmt)
    if fmt in ("csv", "json"):
        if schema is None:
            raise ValueError(
                f"{fmt} read requires an explicit schema (inference is a "
                "full extra pass over the data)"
            )
        reader = reader.schema(schema).option("timestampNTZFormat", _TS_FMT)
        if fmt == "csv":
            reader = reader.option("header", "true")
    elif schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_table(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite") -> None:
    if fmt not in SUPPORTED:
        raise ValueError(f"unsupported format {fmt!r}; use one of {SUPPORTED}")
    writer = df.write.format(fmt).mode(mode)
    if fmt in ("csv", "json"):
        writer = writer.option("timestampNTZFormat", _TS_FMT)
        if fmt == "csv":
            writer = writer.option("header", "true")
    writer.save(path)


def roundtrip(
    spark: SparkSession, df: DataFrame, path: str, fmt: str, schema: str
) -> DataFrame:
    """write df as fmt, read it back with the explicit schema — the
    correctness harness for each source/sink pair."""
    write_table(df, path, fmt)
    return read_table(spark, path, fmt, schema=schema)
