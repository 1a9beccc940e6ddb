"""Where every plan's leaves come from: the parquet testdata tables,
stored-index artifacts and literal rows.

The testdata (see TESTDATA.md) stores timestamps as parquet
``INT64 TIMESTAMP(NANOS,false)``, which Spark cannot map to a native
type.  With ``spark.sql.legacy.parquet.nanosAsLong=true`` (set by
:func:`~data_engineer_project_weather_analytics_spark.session.configure`) those columns scan as raw
nanosecond longs; :func:`load_table` converts them to
``timestamp_ntz`` using integer division (``div 1000`` → microseconds)
so values match DuckDB's microsecond truncation bit-for-bit.

The conversion is a narrow projection — predicate pushdown and column
pruning still reach the parquet scan for every *other* column, and the
timestamp columns themselves prune away when unused (Catalyst drops the
projection).

Building a plan from unchanged inputs runs no Spark job:

- :func:`read_parquet` (behind :func:`load_table` and
  ``index_store.read_index``) infers a parquet input's schema once — a
  schema-less ``spark.read.parquet`` runs a footer-reading job while the
  plan is built — and passes the remembered schema on every later read.
  The memo is keyed on :func:`input_stamp` (every data file's path,
  size and mtime) plus the session confs that change inference, so a
  rewritten file, an appended part file or a flipped conf infers afresh.
- :func:`local_frame` turns literal rows into an Arrow-backed
  ``LocalRelation`` instead of a ``LogicalRDD`` over a Python RDD, whose
  every scan would start Python workers.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, LongType, StructType

from data_engineer_project_weather_analytics_spark.session import configure

#: Known event-time columns per testdata table (TESTDATA.md).
TIMESTAMP_COLUMNS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}

TABLES: tuple[str, ...] = (
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


#: session confs whose values change what parquet schema inference
#: returns — part of every :func:`read_parquet` memo key
INFERENCE_CONFS: tuple[str, ...] = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
#: the memo is process-wide because an entry depends on its key alone,
#: whichever session or caller asked.  It is bounded: every append to a
#: stored index is a new stamp, so a long-lived process would otherwise
#: keep one schema per append
_MAX_SCHEMAS = 256
_schemas: dict[tuple, StructType] = {}
_schemas_lock = threading.Lock()


def _hidden(name: str) -> bool:
    # Spark's file listing skips these too (_SUCCESS, .crc, staging dirs)
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def input_stamp(path: str) -> list[tuple[str, int, int]]:
    """``(path, size, mtime_ns)`` of every data file of a parquet input:
    the file itself, or every non-hidden file under a directory, walked
    in sorted order.  An in-place rewrite of any part file changes the
    stamp, as does an added or removed one."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return [(path, st.st_size, st.st_mtime_ns)]
    stamp = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        for f in sorted(files):
            if not _hidden(f):
                st = os.stat(full := os.path.join(root, f))
                stamp.append((full, st.st_size, st.st_mtime_ns))
    return stamp


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema only on the
    first read of an input: later reads of the same stamp under the
    same inference confs pass the remembered schema, so building the
    plan starts no footer-reading job."""
    key = (
        os.path.abspath(path),
        tuple(input_stamp(path)),
        tuple(spark.conf.get(k) for k in INFERENCE_CONFS),
    )
    schema = _schemas.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _schemas_lock:
        _schemas[key] = df.schema
        while len(_schemas) > _MAX_SCHEMAS:
            del _schemas[next(iter(_schemas))]
    return df


def local_frame(spark: SparkSession, rows: Iterable[Sequence], ddl: str) -> DataFrame:
    """Literal rows as a ``LocalRelation``: a ``pyarrow.Table`` typed from
    the DDL schema, so scanning it starts no Python worker (a list
    passed to ``createDataFrame`` becomes a ``LogicalRDD`` over a Python
    RDD).  Column types and nullability are the DDL's; ``None`` stays
    null."""
    schema = DataType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def _nanos_to_ts_ntz(col: str) -> F.Column:
    # integer div (not float /) so 1704067798778549829 ns -> 1704067798778549 us
    # exactly, matching DuckDB's truncation when it reads the same file.
    return F.timestamp_micros(F.expr(f"`{col}` div 1000")).cast("timestamp_ntz")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with canonical column types.

    Timestamp columns arrive as ``timestamp_ntz`` regardless of how the
    parquet encoded them (native read or nanos-as-long fallback).
    """
    configure(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    for col in TIMESTAMP_COLUMNS.get(name, ()):
        if col not in df.columns:
            continue
        field = df.schema[col]
        if isinstance(field.dataType, LongType):
            df = df.withColumn(col, _nanos_to_ts_ntz(col))
        else:
            df = df.withColumn(col, F.col(col).cast("timestamp_ntz"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every testdata table (lazy — nothing is scanned yet)."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
