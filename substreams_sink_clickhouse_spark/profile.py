"""In-process Spark stage metrics.

Reads the application's status store through py4j (the store that
backs the Spark UI, populated with the UI off), so tools can bracket
an action with two reads and attribute its shuffle volume without an
HTTP server.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession


def stage_totals(spark: SparkSession) -> dict[str, int]:
    """Shuffle read and write bytes summed over every completed stage
    the application retains; the difference of two calls around an
    action is that action's shuffle volume."""
    sc = spark.sparkContext
    jvm = sc._jvm
    scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
        scala.__getattr__("MODULE$")
    )
    stages = json.loads(mapper.writeValueAsString(
        sc._jsc.sc().statusStore().stageList(
            None, False, False, sc._gateway.new_array(jvm.double, 0), None
        )
    ))
    done = [s for s in stages if s.get("status") == "COMPLETE"]
    return {
        "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in done),
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in done),
    }
