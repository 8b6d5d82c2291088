"""Catalog: explicit schemas + loaders for the fixture tables.

Mirrors the reference's construct-time fixed schema discipline
(reference ``fawac.py:22-30``: the ReplayBuffer's columnar schema is
fixed at construction; dims inferred only once at source registration,
``train_fawac_iql.py:86-88``). Here every fixture table gets an explicit
``StructType``, and ``load_table`` reads with it, so inference is never
used and no read launches a schema-inference job. The explicit schemas
also make ``readStream`` possible (streaming sources require a schema
up front).

Tables (driver-generated, see TESTDATA.md / FIXTURES.md):
    region nation customer supplier part orders lineitem events
    documents embeddings
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLE_NAMES = [
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
]

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


_READ_SCHEMA_CACHE: dict[str, T.StructType] = {}


def _decoded_type(t) -> str:
    """The Spark type a parquet column of pyarrow type ``t`` decodes to.

    TIMESTAMP(NANOS) has no Spark timestamp type: Spark reads it only as
    raw int64, under ``legacy.parquet.nanosAsLong``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_type

    if pa.types.is_timestamp(t) and t.unit == "ns":
        return "bigint"
    return from_arrow_type(t, prefer_timestamp_ntz=True).simpleString()


def _read_schema(name: str, path: str) -> T.StructType:
    """The schema to hand ``spark.read.schema`` for table ``name`` at
    ``path``, checked against the file footer.

    Driver-side and footer-only (pyarrow): no Spark job, no session conf
    touched. Under a declared schema Spark reads a column missing from
    the file as all-null without complaint, and a type mismatch fails
    only once a task runs, so both are refused here, at load, naming the
    table and column. Cached per path: fixtures are immutable, and
    load_table is on the construction path of every query.

    ``events.ts`` is the one column whose physical layout varies across
    fixture generations, so its read type follows the footer: int64 for
    TIMESTAMP(NANOS), ``TimestampType`` for a UTC-adjusted timestamp,
    else the declared ``TimestampNTZType``. A plain int64 ``ts`` (no
    logical type) is ambiguous (nanos? micros?) and is rejected rather
    than silently misscaled.
    """
    if path in _READ_SCHEMA_CACHE:
        return _READ_SCHEMA_CACHE[path]
    import pyarrow as pa
    import pyarrow.parquet as pq

    footer = pq.ParquetDataset(path).schema
    fields = []
    for f in SCHEMAS[name].fields:
        if f.name not in footer.names:
            raise ValueError(f"{name}.{f.name} is missing from {path}")
        t = footer.field(f.name).type
        if name == "events" and f.name == "ts":
            if not pa.types.is_timestamp(t):
                raise ValueError(
                    f"events.ts has unsupported physical type {t}; expected a "
                    "parquet TIMESTAMP (NANOS or MICROS). Plain integers are "
                    "ambiguous — refusing to guess a unit."
                )
            if t.unit == "ns":
                f = T.StructField("ts", T.LongType())
            elif t.tz is not None:
                f = T.StructField("ts", T.TimestampType())
        elif _decoded_type(t) != f.dataType.simpleString():
            raise ValueError(
                f"{name}.{f.name} is {t} in {path}; SCHEMAS declares "
                f"{f.dataType.simpleString()}"
            )
        fields.append(f)
    schema = T.StructType(fields)
    _READ_SCHEMA_CACHE[path] = schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan for one fixture table, read with its ``SCHEMAS`` entry.

    Declaring the schema spares Spark the job it would otherwise launch
    to infer it from the footers; the scan stays vectorized, with filter
    and column pushdown. ``_read_schema`` checks the declared schema
    against the footer first.

    ``events.ts`` has shipped in several physical layouts across fixture
    generations. TIMESTAMP(NANOS), which Spark cannot read as a
    timestamp, is read as raw int64 nanos via ``legacy.parquet.nanosAsLong``
    (set only when the footer says NANOS; it is read-path-only) and
    truncated to µs with integer division — the same truncation DuckDB
    applies. A UTC-adjusted MICROS file is read as LTZ ``TimestampType``
    and cast to TIMESTAMP_NTZ; with the session timezone pinned to UTC
    this preserves the wall clock DuckDB reads. All paths yield the
    ``TimestampNTZType`` declared in ``SCHEMAS``.
    """
    path = table_path(sf_dir, name)
    schema = _read_schema(name, path)
    if name != "events":
        return spark.read.schema(schema).parquet(path)
    from pyspark.sql import functions as F

    ts_type = schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # NTZ via pure integer arithmetic — independent of session
        # timezone, matching the naive wall-clock values DuckDB reads.
        return spark.read.schema(schema).parquet(path).withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    df = spark.read.schema(schema).parquet(path)
    if isinstance(ts_type, T.TimestampType):
        df = df.withColumn("ts", F.col("ts").cast(T.TimestampNTZType()))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view (for the SQL API)."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def run_sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """The engine's ad-hoc SQL entry point: register every fixture table
    as a view, then hand the query string to Spark SQL (full ANSI surface,
    Catalyst-optimized). This is how a reference user runs arbitrary
    queries that aren't in the curated registry."""
    register_views(spark, sf_dir)
    return spark.sql(query)
