"""Schema catalog for the driver's synthetic tables.

The reference has no declared schemas anywhere — every intermediate's schema
is emergent from the pandas transformation chain (reference
``pipeline.py:46-70``, SURVEY §1.2). The engine inverts that: every dataset
has a fixed ``StructType`` here, asserted at load time, so Parquet scans
never fall back to inference and plan-level column pruning is exact.

Table shapes follow ``FIXTURES.md §2`` (TPC-H-ish star schema + ``events``
stream table + ``documents``/``embeddings`` extension tables).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

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
            T.StructField("o_orderdate", T.TimestampType()),
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
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    # events.parquet has shipped with two physical types for ts across
    # driver generations: Parquet TIMESTAMP(NANOS) (read as epoch-nanos
    # LongType under spark.sql.legacy.parquet.nanosAsLong) and
    # TIMESTAMP(MICROS) NTZ. load_table sniffs the footer and normalizes
    # both to this logical schema: ts as a UTC timestamp plus ts_nanos as
    # epoch-nanos long — the exact series order key (micros truncation
    # could reorder sub-microsecond ties in the nanos generation).
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("ts_nanos", T.LongType()),
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

TABLES = tuple(SCHEMAS)

# Dimension tables small enough to broadcast at ANY scale factor — at 100 TB
# the facts grow but these stay bounded (region=5 rows, nation=25 rows).
BROADCAST_TABLES = frozenset({"region", "nation"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one catalog table with its declared schema.

    Passing the explicit schema (rather than inferring from the footer)
    keeps the scan contract fixed; Catalyst still prunes columns and pushes
    filters into the Parquet reader.
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {sorted(SCHEMAS)}")
    # Engine contract: timestamps are UTC instants (DuckDB oracle is
    # UTC-naive). Date-part functions are session-TZ-sensitive, so pin it —
    # a runtime conf, safe to set on a caller-provided session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Defensive runtime set (the driver brings its own bare session):
    # InferFiltersFromGenerate copies computed-array generator inputs into
    # pre-exchange Filters — single-threaded triple evaluation of the
    # tokenize/shingle expressions (see session.py).
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    )
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def normalize_events(df: DataFrame) -> DataFrame:
    """Normalize an events frame to (ts: UTC timestamp, ts_nanos: long).

    The driver's generator has emitted ts as Parquet TIMESTAMP(NANOS)
    (surfacing as epoch-nanos LongType under nanosAsLong) in one
    generation and TIMESTAMP(MICROS) NTZ in another; branch on the bound
    ts type so both yield the same logical schema and identical ts_nanos
    values (micros generation: us * 1000, matching DuckDB's epoch_ns on
    the same file). Works on batch and streaming frames alike — pure
    column expressions, no action.
    """
    from pyspark.sql import functions as F

    if dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumns(
            {
                "ts_nanos": F.col("ts"),
                # integer div — double division would lose precision at 1e18
                "ts": F.timestamp_micros(F.expr("ts div 1000")),
            }
        )
    else:
        # NTZ wall-clock == UTC instant under the pinned session TZ.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        if "ts_nanos" not in df.columns:
            # Only derive when absent: files re-staged from load_table's
            # normalized output already carry exact epoch-nanos, and
            # re-deriving from ts would truncate them to micros.
            df = df.withColumn(
                "ts_nanos", F.unix_micros(F.col("ts")) * F.lit(1000)
            )
    head = [f.name for f in SCHEMAS["events"].fields]
    extra = [c for c in df.columns if c not in head]
    return df.select(*head, *extra)


# Fallback raw schema for a file-source dir that has no files yet: the
# micros/NTZ generation's physical layout (ts as NTZ timestamp, no
# ts_nanos). Lets a stream start before the first file lands — the
# standard file-source pattern. If the files that later arrive are the
# NANOS generation, pass the sniffed schema explicitly instead.
EVENTS_RAW_DEFAULT = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_raw_schema(
    spark: SparkSession,
    source: str,
    default: T.StructType | None = EVENTS_RAW_DEFAULT,
) -> T.StructType:
    """Footer-sniffed physical schema of an events parquet file or dir
    (driver-side metadata read, no job) — the schema a readStream of the
    same files needs.

    Timestamp semantics downstream (normalize_events' micros/NTZ branch
    casts NTZ wall-clock → instant) assume a UTC session, so pin it here:
    streaming entry points can be handed a bare driver session in a
    non-UTC TZ, which would shift every ts instant and ts_nanos value.

    An empty source directory can't be sniffed; return ``default`` (the
    micros/NTZ generation layout) so streams can start pre-data, or raise
    if ``default`` is None. ONLY the no-footer case falls back — corrupt
    footers, permission errors, and typo'd paths re-raise, otherwise a
    NANOS-generation stream would silently run with the wrong schema.
    """
    from pyspark.errors import AnalysisException

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        return spark.read.parquet(source).schema
    except AnalysisException as e:
        # Schema-inference failure on an empty dir / missing path is the
        # pre-data stream case; anything else is a real error.
        get_cls = getattr(
            e, "getCondition", getattr(e, "getErrorClass", lambda: None)
        )
        cls = get_cls() or ""
        inferable = (
            "UNABLE_TO_INFER_SCHEMA" in cls
            or "PATH_NOT_FOUND" in cls
            or "UNABLE_TO_INFER_SCHEMA" in str(e)
            or "PATH_NOT_FOUND" in str(e)
        )
        if inferable and default is not None:
            return default
        raise


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = f"{sf_dir}/events.parquet"
    raw = events_raw_schema(spark, path)
    out = normalize_events(spark.read.schema(raw).parquet(path))
    want = [(f.name, f.dataType) for f in SCHEMAS["events"].fields]
    got = [(f.name, f.dataType) for f in out.schema.fields]
    if got != want:
        raise ValueError(f"events schema mismatch: {out.schema}")
    return out


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every catalog table as a temp view (for the SQL API)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
