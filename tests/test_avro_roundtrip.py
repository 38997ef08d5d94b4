"""Avro roundtrip — gated on the spark-avro datasource being deployed.

spark-avro is an EXTERNAL package (the pyspark distribution ships only the
avro core jars), and this container has no network to fetch
``org.apache.spark:spark-avro`` — so here the test SKIPS with the probe
error. On a cluster with the package it runs the same write → schema-explicit
read → aggregate pattern as the CSV/JSON/ORC/text roundtrips in
``plans/relational.py`` (``source_*``) and completes the file-format matrix.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _avro_available(spark) -> str | None:
    try:
        spark.range(1).write.mode("overwrite").format("avro").save(
            "/tmp/pgcdc_avro_probe"
        )
        return None
    except Exception as e:  # noqa: BLE001
        return str(e).split("\n")[0][:160]


def test_avro_roundtrip_when_datasource_deployed(spark, sf_dir, tmp_path):
    err = _avro_available(spark)
    if err is not None:
        pytest.skip(f"spark-avro datasource not deployed: {err}")

    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    path = str(tmp_path / "nation_avro")
    n.write.mode("overwrite").format("avro").save(path)
    back = spark.read.format("avro").load(path)
    got = {
        (r.n_regionkey, r.n_nations, r.first_nation)
        for r in back.groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n_nations"),
             F.min("n_name").alias("first_nation"))
        .collect()
    }
    want = {
        (r.n_regionkey, r.n_nations, r.first_nation)
        for r in n.groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n_nations"),
             F.min("n_name").alias("first_nation"))
        .collect()
    }
    assert got == want
