"""Schema-checked loaders for the driver-generated testdata.

Tables (TESTDATA.md / FIXTURES.md): region nation customer supplier part
orders lineitem events documents embeddings — one parquet file per table
under /root/testdata/sf{0.001,0.01,0.1}/.

Three deliberate design points:

1. **Explicit schemas.** Fixed StructTypes declared from FIXTURES.md;
   the reference reads schemas from the SQL Server catalog, never infers
   (SURVEY.md §1.1) — we match that discipline. Passing an explicit schema
   to ``spark.read`` also skips the footer-sampling schema-inference job.

2. **The events ts type branch** (SURVEY.md §1.2, TESTDATA.md): the
   generator has shipped ``events.ts`` under two physical encodings
   across rounds — parquet TIMESTAMP(NANOS) (reads as int64 under
   ``nanosAsLong=true``) and plain ``timestamp[us]``. The loader reads
   the parquet footer (pyarrow, cached per path) and branches:

   - int64 → rebuild a microsecond timestamp with integer division
     (``ts div 1000`` — exact floor, no double rounding), matching
     DuckDB 1.0's own floor-truncating ns→µs read of the same file
     (verified: raw ...275999 ns → ...275 µs on both sides).
   - timestamp → read natively as ``timestamp_ntz``; no conversion.

   Either way every timestamp in the engine has uniform NTZ semantics
   and agrees with DuckDB reading the same file.

3. **Artifacts the engine wrote** (persisted indexes, copy targets) are
   read back with the schema they were written with, after comparing
   it with the Spark schema in the parquet footer (``footer_schema``,
   ``read_written``): no inference job, and a stale file fails.

Scale note (100 TB): loaders return plain lazy DataFrames — no caching,
no collect. Partitioning of a scan is governed by
``spark.sql.files.maxPartitionBytes`` (default 128 MB) which is the right
knob at cluster scale; filters and column pruning push into the parquet
scan because every downstream operator is declarative.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from copy_databasetables_spark.session import configure_session

SMOKE_SF_DIR = "/root/testdata/sf0.001"

#: FK-respecting load/copy order (FIXTURES.md): parents before children.
TABLES = [
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

_NTZ = T.TimestampNTZType()

#: Declared schemas, as Spark 4.1.2 loads the parquet files (FIXTURES.md).
#: events.ts is declared long here (the NANOS-generation encoding);
#: events_read_schema() swaps it for timestamp_ntz when the file footer
#: says the column is physically a parquet TIMESTAMP. Either way
#: load_table yields ts: timestamp_ntz before anyone sees it.
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
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
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
            T.StructField("o_orderdate", _NTZ),
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
            T.StructField("l_shipdate", _NTZ),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),  # raw nanos; converted on load
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
    return os.path.join(sf_dir, f"{name}.parquet")


_TS_KIND_CACHE: dict[str, str] = {}


def events_ts_kind(path: str) -> str:
    """Physical encoding of ``events.ts`` in the parquet footer:
    ``"long"`` for the TIMESTAMP(NANOS) generation — pyarrow reports
    that footer as ``timestamp[ns]`` (NOT int64: the int64 is how SPARK
    surfaces it under nanosAsLong, which Spark needs because it has no
    nanosecond timestamp type) — or for a raw int64 nanos column;
    ``"timestamp"`` for µs/ms TIMESTAMP columns Spark reads natively.
    Footer-only read, cached per (path, mtime). The path may be either
    a single parquet FILE (the driver testdata layout) or a
    Spark-written parquet DIRECTORY (the production layout — e.g. the
    stress harness's blown-up events); for a directory the footer of
    any one part file is authoritative, since one write produced all
    parts with one schema."""
    key = f"{path}:{os.path.getmtime(path)}"
    kind = _TS_KIND_CACHE.get(key)
    if kind is None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        footer_path = path
        if os.path.isdir(path):
            parts = sorted(
                f for f in os.listdir(path)
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
            if not parts:
                raise FileNotFoundError(f"no parquet part files under {path}")
            footer_path = os.path.join(path, parts[0])
        t = pq.read_schema(footer_path).field("ts").type
        is_nanos = pa.types.is_timestamp(t) and t.unit == "ns"
        kind = "long" if (pa.types.is_integer(t) or is_nanos) else "timestamp"
        _TS_KIND_CACHE[key] = kind
    return kind


def events_read_schema(path: str) -> T.StructType:
    """The explicit read schema matching the file's actual ts encoding."""
    if events_ts_kind(path) == "long":
        return SCHEMAS["events"]
    return T.StructType(
        [
            f if f.name != "ts" else T.StructField("ts", _NTZ)
            for f in SCHEMAS["events"].fields
        ]
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with its declared schema.

    For ``events``, yields ``ts`` as microsecond ``timestamp_ntz``
    regardless of the file's physical encoding (type branch — see module
    docstring). No operator in the engine ever sees a raw long.
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    configure_session(spark)
    if name == "events":
        path = table_path(sf_dir, name)
        df = spark.read.schema(events_read_schema(path)).parquet(path)
        if events_ts_kind(path) == "long":
            df = df.withColumn(
                "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
            )
    else:
        df = spark.read.schema(SCHEMAS[name]).parquet(table_path(sf_dir, name))
    # Local-bench parallelism knob: the testdata files are single-row-group
    # parquet, so a scan is ONE task no matter how many cores exist (a row
    # group is the parquet split atom). When the bench protocol sets
    # SPARK_GRAFT_SCAN_PARALLELISM (to its core count) it also caches the
    # repartitioned plans (bench.py), so queries hit a partitioned
    # InMemoryRelation. Partitions scale with file size (~1 MB each,
    # capped) — blanket max-parallelism taxes sub-MB tables with task
    # scheduling for no gain. Unset (the default, and the 100 TB posture —
    # real tables have many row groups) this is a no-op.
    cap = int(os.environ.get("SPARK_GRAFT_SCAN_PARALLELISM", "0"))
    if cap > 0:
        size_mb = os.path.getsize(table_path(sf_dir, name)) // (1 << 20)
        n = max(1, min(cap, int(size_mb)))
        if n > 1:
            df = df.repartition(n)
    return df


def footer_schema(path: str) -> T.StructType | None:
    """The schema Spark recorded in the footer of the first parquet file
    under ``path`` (partition directories included): what its schema
    inference would read, without inference's Spark job. ``None`` when
    there is no file, or its writer (another engine) recorded no Spark
    schema."""
    import pyarrow.parquet as pq

    files = sorted(glob.glob(glob.escape(path) + "/**/*.parquet", recursive=True))
    meta = (pq.read_schema(files[0]).metadata if files else None) or {}
    rec = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
    return T.StructType.fromJson(json.loads(rec)) if rec else None


def read_written(
    spark: SparkSession, path: str, schema: T.StructType | str, by: str | None = None
) -> DataFrame:
    """Read back a parquet artifact the engine wrote with the schema
    (StructType or DDL string; partition column ``by`` last) it was
    written with, so no schema-inference job runs. The footer must hold
    that schema, less ``by``: a stale or retyped artifact raises
    ``ValueError`` instead of reading a missing column as NULLs or
    widening a narrower type."""
    df = spark.read.schema(schema).parquet(path)
    want = T.StructType([f for f in df.schema if f.name != by]).simpleString()
    landed = footer_schema(path)
    if (got := landed.simpleString() if landed else "no Spark schema") != want:
        raise ValueError(f"{path}: written as {got}, read as {want}")
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so §2 operators are reachable
    from ``spark.sql`` exactly as from the DataFrame API (SURVEY.md §3.2)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
