"""Iceberg seam: feature-checked round-trip when a runtime jar is present,
stable error contract when it is not (this container ships no jar — the
round-trip test self-skips; on a cluster with iceberg-spark-runtime it
gates the same write->read->values equality as the csv/json/orc gates)."""

import pytest

from distributed_search_engine_spark.sources import read_table

ROWS = [(1, "alpha", 1.5), (2, "beta", -2.0), (3, "gamma", 0.25)]
SCHEMA = "id int, name string, val double"


def iceberg_available(spark) -> bool:
    """True iff an iceberg-spark-runtime jar is on the session classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def test_iceberg_seam_error_without_jar(spark):
    if iceberg_available(spark):
        pytest.skip("iceberg jar present; the round-trip test covers this")
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        read_table(spark, "nocat.db.t", fmt="iceberg")


def test_iceberg_roundtrip_when_jar_present(spark, tmp_path):
    if not iceberg_available(spark):
        pytest.skip("no iceberg-spark-runtime jar in this container")
    # a Hadoop-backed catalog registered at runtime (Iceberg catalogs
    # resolve lazily, so no session restart), written by the writer API
    spark.conf.set("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.local.type", "hadoop")
    spark.conf.set("spark.sql.catalog.local.warehouse", str(tmp_path / "wh"))
    df = spark.createDataFrame(ROWS, SCHEMA)
    df.writeTo("local.db.t_roundtrip").using("iceberg").createOrReplace()
    back = read_table(spark, "local.db.t_roundtrip", fmt="iceberg")
    assert sorted(tuple(r) for r in back.collect()) == sorted(ROWS)
