"""Catalog validation tests (O12/O14)."""

import pytest
from pyspark.sql import types as T

from substreams_sink_clickhouse_spark.catalog import Catalog, TableInfo
from substreams_sink_clickhouse_spark.errors import UnknownTableError


def test_catalog_unknown_table():
    cat = Catalog()
    with pytest.raises(UnknownTableError):
        cat.get("missing")


def test_table_info_pk_must_exist():
    with pytest.raises(ValueError):
        TableInfo("t", T.StructType([T.StructField("x", T.StringType())]), "id")


def test_from_spark_catalog_introspection(spark):
    """O12 parity: discover registered tables + schemas + pk convention
    (pk = 'id' when present, else first column, else override)."""
    spark.createDataFrame([(1, "a")], "id: long, v: string").createOrReplaceTempView("with_id")
    spark.createDataFrame([(1, "a")], "k: long, v: string").createOrReplaceTempView("no_id")
    try:
        cat = Catalog.from_spark_catalog(spark, pk_overrides={"no_id": "v"})
        assert cat.get("with_id").primary_key == "id"
        assert cat.get("no_id").primary_key == "v"
        assert [f.name for f in cat.get("with_id").schema.fields] == ["id", "v"]
    finally:
        spark.catalog.dropTempView("with_id")
        spark.catalog.dropTempView("no_id")
