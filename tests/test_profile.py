"""In-process stage metrics (profile.stage_totals): shuffle volume is
readable from the status store with the Spark UI off."""

from pyspark.sql import functions as F

from substreams_sink_clickhouse_spark.profile import stage_totals


def test_stage_totals_bracket_a_shuffle_with_ui_off(spark):
    assert spark.sparkContext.getConf().get("spark.ui.enabled") == "false"
    before = stage_totals(spark)
    spark.range(2000).repartition(3).groupBy(F.col("id") % 7).count().collect()
    after = stage_totals(spark)
    assert after["shuffle_read_bytes"] > before["shuffle_read_bytes"]
    assert after["shuffle_write_bytes"] > before["shuffle_write_bytes"]
