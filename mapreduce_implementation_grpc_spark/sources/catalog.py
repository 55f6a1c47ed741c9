"""Parquet table catalog over a scale-factor directory.

Replaces the reference's single hard-coded HDFS file scan
(greeter_client.cc:298-314 reads /Assignment5/input.txt through a
1 KB buffer into one master-side string -- an anti-pattern at scale:
the whole corpus is materialized on one node). Spark's parquet
reader streams per-executor splits, prunes columns, and pushes
predicates down to the scan; nothing is ever materialized on the
driver.

Footer contract: building a table's DataFrame runs no Spark job.
``spark.read.parquet(path)`` with no schema fires one
schema-inference job per call; ``load_table`` instead reads the
schema from one parquet footer on the driver and passes it to
``spark.read.schema(...)``. The footer is the one Spark's own
inference reads (``mergeSchema`` off, which this catalog never
turns on): the path itself when it is a file, else the first data
file of the directory in sorted name order, skipping names that
start with ``_`` or ``.`` (``_SUCCESS``, ``.crc`` files, summary
files). The footer is converted by Spark's own
``ParquetToSparkSchemaConverter`` under the session's conf, so the
schema equals the inferred one (tests/test_catalog.py compares
them). The schema comes from the file, never from a declaration:
the inputs this engine reads disagree on physical types (``events.ts``
is stored as TIMESTAMP(MICROS) in some, TIMESTAMP(NANOS) in others),
and a declared column absent from a file would read as NULL.
"""

from __future__ import annotations

import json
import os
import weakref
from types import SimpleNamespace

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale
# factor (region=5 rows, nation=25 rows at every TPC-H SF).
BROADCAST_TABLES = frozenset({"region", "nation"})

# py4j class handles per SparkContext: each class lookup is a JVM
# round trip (~10 ms), paid once per context instead of per load
_JVM_PARQUET: weakref.WeakKeyDictionary[SparkContext, SimpleNamespace] = (
    weakref.WeakKeyDictionary()
)


def _jvm_parquet(sc: SparkContext) -> SimpleNamespace:
    api = _JVM_PARQUET.get(sc)
    if api is None:
        jvm = sc._jvm
        spark_pq = jvm.org.apache.spark.sql.execution.datasources.parquet
        api = _JVM_PARQUET[sc] = SimpleNamespace(
            Path=jvm.org.apache.hadoop.fs.Path,
            HadoopInputFile=jvm.org.apache.parquet.hadoop.util.HadoopInputFile,
            Footer=jvm.org.apache.parquet.hadoop.Footer,
            SKIP_ROW_GROUPS=jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
            ParquetFooterReader=spark_pq.ParquetFooterReader,
            ParquetFileFormat=spark_pq.ParquetFileFormat,
            ParquetToSparkSchemaConverter=spark_pq.ParquetToSparkSchemaConverter,
        )
    return api


def _footer_file(path: str) -> str:
    """The file whose footer Spark's schema inference reads: `path`
    itself, or the first data file of the directory in sorted order.
    Raises FileNotFoundError when there is none. Listed with the local
    file system: every caller passes a local (or mounted) directory."""
    if os.path.isfile(path):
        return path
    if not os.path.isdir(path):
        raise FileNotFoundError(f"parquet table not found: {path}")
    names = sorted(
        n for n in os.listdir(path)
        if not n.startswith(("_", ".")) and os.path.isfile(os.path.join(path, n))
    )
    if not names:
        raise FileNotFoundError(f"no parquet data files in {path}")
    return os.path.join(path, names[0])


def _parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` would infer, read from
    one footer on the driver (see the module docstring)."""
    api = _jvm_parquet(spark.sparkContext)
    state = spark._jsparkSession.sessionState()
    jpath = api.Path(_footer_file(path))
    meta = api.ParquetFooterReader.readFooter(
        api.HadoopInputFile.fromPath(jpath, state.newHadoopConf()), api.SKIP_ROW_GROUPS
    )
    jschema = api.ParquetFileFormat.readSchemaFromFooter(
        api.Footer(jpath, meta), api.ParquetToSparkSchemaConverter(state.conf())
    )
    return StructType.fromJson(json.loads(jschema.json()))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table without running a Spark job; filters/projections
    placed on the result are pushed into the parquet scan by Catalyst."""
    if name == "events":
        # events.parquet carries TIMESTAMP(NANOS), which Spark 4
        # rejects outright; set the legacy int64 fallback at runtime so
        # the engine also works under SparkSessions it did not build
        # (e.g. the external verify driver's)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = _parquet_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    # TIMESTAMP(NANOS) columns arrive as int64 nanos under
    # spark.sql.legacy.parquet.nanosAsLong; convert with exact integer
    # division (ns -> us) so engines agree to the microsecond.
    if name == "events" and isinstance(schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register temp views so plans can also be expressed via spark.sql."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
