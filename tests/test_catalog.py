"""sources/catalog.py footer contract: loading a table runs no Spark
job, and the footer-resolved schema equals the one
``spark.read.parquet`` infers."""

from __future__ import annotations

import os
import uuid

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from mapreduce_implementation_grpc_spark.sources import TABLES, corpus_from_documents, load_table


def _jobs_fired(spark, build) -> list[int]:
    """Ids of the Spark jobs `build()` runs, counted by job group."""
    sc = spark.sparkContext
    group = f"catalog-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _inferred_schema(spark, sf_dir: str, name: str):
    """The schema of the inferring read path: spark.read.parquet with
    no schema, plus load_table's events.ts nanos -> micros step."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.schema


def test_load_table_fires_no_jobs(spark, sf_smoke):
    for name in TABLES:
        assert _jobs_fired(spark, lambda: load_table(spark, sf_smoke, name)) == [], name
    assert _jobs_fired(spark, lambda: corpus_from_documents(spark, sf_smoke)) == []


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_matches_inference(spark, sf_check, sf):
    sf_dir = os.path.join(os.path.dirname(sf_check), sf)
    for name in TABLES:
        got = load_table(spark, sf_dir, name).schema
        assert got == _inferred_schema(spark, sf_dir, name), (sf_dir, name)


def test_footer_schema_matches_inference_on_written_fixtures(spark, sf_smoke, tmp_path):
    # a multi-file directory, with Spark's _SUCCESS and .crc side files
    multi = str(tmp_path / "multi")
    spark.read.parquet(os.path.join(sf_smoke, "lineitem.parquet")).repartition(3).write.parquet(
        os.path.join(multi, "lineitem.parquet")
    )
    files = os.listdir(os.path.join(multi, "lineitem.parquet"))
    assert sum(f.endswith(".parquet") for f in files) == 3 and "_SUCCESS" in files

    # Spark-written events: ts is a session-zone (LTZ) timestamp
    ltz = str(tmp_path / "ltz")
    load_table(spark, sf_smoke, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).write.parquet(os.path.join(ltz, "events.parquet"))

    # pandas-written events: TIMESTAMP(NANOS), props missing, columns reordered
    nanos = tmp_path / "nanos"
    nanos.mkdir()
    pdf = pq.read_table(os.path.join(sf_smoke, "events.parquet")).to_pandas()
    pdf = pdf.drop(columns=["props"])[["user_id", "ts", "event_type", "value", "event_id"]]
    pdf["ts"] = pdf["ts"].astype("datetime64[ns]")
    pdf.to_parquet(nanos / "events.parquet", index=False)
    ts_type = pq.read_schema(nanos / "events.parquet").field("ts").type
    assert str(ts_type) == "timestamp[ns]"

    # part files whose schemas differ: inference reads the first data
    # file in sorted order and skips hidden ones
    mixed = tmp_path / "mixed"
    (mixed / "region.parquet").mkdir(parents=True)
    region = pq.read_table(os.path.join(sf_smoke, "region.parquet"))
    pq.write_table(region.select([0]), mixed / "region.parquet" / "part-0.parquet")
    pq.write_table(region, mixed / "region.parquet" / "part-1.parquet")
    pq.write_table(region.select([1]), mixed / "region.parquet" / ".part-00.parquet")
    assert load_table(spark, str(mixed), "region").columns == [region.column_names[0]]

    fixtures = [(multi, "lineitem"), (str(mixed), "region"), (ltz, "events"), (str(nanos), "events")]
    for sf_dir, name in fixtures:
        got = load_table(spark, sf_dir, name)
        assert got.schema == _inferred_schema(spark, sf_dir, name), (sf_dir, name)
    ts_fields = {
        sf_dir: load_table(spark, sf_dir, "events").schema["ts"].dataType.typeName()
        for sf_dir in (ltz, str(nanos))
    }
    assert ts_fields == {ltz: "timestamp", str(nanos): "timestamp"}
    assert "props" not in load_table(spark, str(nanos), "events").columns
    # the converted nanos read the same instants as the source file
    want = pd.to_datetime(pdf["ts"]).sort_values().reset_index(drop=True)
    got_ts = (
        load_table(spark, str(nanos), "events")
        .select(F.col("ts").cast("timestamp_ntz").alias("ts"))
        .toPandas()["ts"].sort_values().reset_index(drop=True)
    )
    assert (got_ts.astype("datetime64[us]") == want.astype("datetime64[us]")).all()


def test_missing_table_raises_named_error(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="not found"):
        load_table(spark, str(tmp_path), "orders")
    (tmp_path / "orders.parquet").mkdir()
    (tmp_path / "orders.parquet" / "_SUCCESS").write_text("")
    with pytest.raises(FileNotFoundError, match="no parquet data files"):
        load_table(spark, str(tmp_path), "orders")
