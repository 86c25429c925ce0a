"""Pins for the dead-cache check in scripts/check_oracle.py: a frame
a query cached and left registered fails the sweep exactly when no
execution loaded its column buffers."""

from __future__ import annotations

import importlib.util
import os

from pyspark.sql import functions as F

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "check_oracle", os.path.join(_HERE, "scripts", "check_oracle.py"))
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)


def test_dead_cache_detector_flags_only_the_unscanned_frame(spark):
    with check_oracle.recording_caches() as cached:
        scanned = spark.range(100).select((F.col("id") * 2).alias("x")).cache()
        idle = spark.range(100).select((F.col("id") * 3).alias("y")).cache()
        released = (spark.range(100).select((F.col("id") * 5).alias("z"))
                    .persist())
        released.unpersist()
    outside = spark.range(100).select((F.col("id") * 7).alias("w")).cache()
    try:
        assert scanned.count() == 100
        assert [id(df) for df in cached] == [
            id(scanned), id(idle), id(released)]
        assert [id(df) for df in check_oracle.dead_caches(cached)] == [
            id(idle)]
    finally:
        for df in (scanned, idle, outside):
            df.unpersist()
