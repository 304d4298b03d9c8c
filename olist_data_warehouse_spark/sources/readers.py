"""Readers: the engine's scan surface (S1, S2, S11 in SURVEY.md §2.1).

Everything is a declarative ``spark.read`` so Catalyst keeps predicate
pushdown / column pruning / partition pruning. At 100 TB the only scan
knob that matters is *not defeating* those: never ``.cache()`` a raw
scan, never materialize wider than the query needs.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from olist_data_warehouse_spark.schemas import TESTDATA

TESTDATA_TABLES = tuple(TESTDATA)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Base-table scan (S1). Parquet: columnar, min/max stats, pushdown."""
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType, header: bool = True
) -> DataFrame:
    """CSV ingestion (S11) — the reference's flat-file import analog
    (`Olist DW.sql:7-17`). Explicit schema only; inference is banned in
    the engine proper (one pass saved, and types never drift).
    """
    return spark.read.csv(path, header=header, schema=schema)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """JSON-lines ingestion — the interchange format of document/event
    pipelines. Explicit schema only (same rule as CSV): schema
    inference costs a full extra pass at 100 TB and lets types drift
    between days of a feed. Corrupt lines land in a `_corrupt_record`
    column instead of failing the batch (dead-letter route).
    """
    # fresh StructType: .add() would mutate the caller's schema object
    full = T.StructType(
        [f for f in schema.fields if f.name != "_corrupt_record"]
        + [T.StructField("_corrupt_record", T.StringType())]
    )
    return spark.read.json(path, schema=full, mode="PERMISSIVE",
                           columnNameOfCorruptRecord="_corrupt_record")


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSON-lines sink, one object per line — newline-delimited so
    downstream consumers can split files on line boundaries."""
    df.write.mode("overwrite").json(path)


def read_orc(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """ORC ingestion — the other columnar lake format (Hive-lineage
    warehouses feed it). Column pruning and predicate pushdown work
    exactly as for parquet (ORC carries stripe-level min/max stats), so
    every plan property the engine pins on parquet scans holds here.
    Schema optional because ORC files are self-describing like parquet;
    pass one to pin reader types against producer drift.
    """
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink — atomic overwrite, one commit per save (same
    durability contract as the parquet sink)."""
    df.write.mode("overwrite").orc(path)


def read_evolving_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """Schema-evolution read: one DataFrame over parquet generations
    whose schemas drifted by ADDED columns (the only evolution a lake
    table should ever make in place — renames/retypes are new tables).

    ``mergeSchema`` unions the footer schemas at plan time; rows from
    generations that predate a column read it as NULL. This is a
    footer-metadata operation — no data pass — so it costs the same
    as a plain scan at any table size, and column pruning/pushdown
    still reach every file that HAS the pruned column. Writer-side
    discipline that makes this safe: only additive, nullable columns
    (enforced by check_additive_evolution).
    """
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def check_additive_evolution(
    old: T.StructType, new: T.StructType
) -> list[str]:
    """Validate that ``new`` evolves ``old`` additively: every old
    column survives with an identical type, and every added column is
    nullable (rows from old files must be representable). Returns the
    violation list (empty = safe to write alongside old generations);
    the writer gate for what read_evolving_parquet assumes.
    """
    problems: list[str] = []
    old_by_name = {f.name: f for f in old.fields}
    new_by_name = {f.name: f for f in new.fields}
    for name, f in old_by_name.items():
        if name not in new_by_name:
            problems.append(f"dropped column: {name}")
        elif new_by_name[name].dataType != f.dataType:
            problems.append(
                f"retyped column: {name} "
                f"{f.dataType.simpleString()} -> "
                f"{new_by_name[name].dataType.simpleString()}"
            )
    for name, f in new_by_name.items():
        if name not in old_by_name and not f.nullable:
            problems.append(f"added column not nullable: {name}")
    return problems


# Where Spark keeps the schema of a file it wrote; it wins over the
# parquet types when present (ParquetFileFormat.readSchemaFromFooter).
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

# Leaf annotations footer_schema maps itself: (physical, logical) pairs
# whose Spark type is the one pyarrow's Arrow type converts to. INT
# annotations are checked for sign separately; TIMESTAMP and INT96 are
# typed from the footer below. Anything else is left to Spark.
_PLAIN_LEAVES = frozenset({
    ("BOOLEAN", "NONE"), ("INT32", "NONE"), ("INT64", "NONE"),
    ("FLOAT", "NONE"), ("DOUBLE", "NONE"), ("INT32", "INT"),
    ("INT64", "INT"), ("INT32", "DATE"), ("BYTE_ARRAY", "STRING"),
    ("INT32", "DECIMAL"), ("INT64", "DECIMAL"),
    ("FIXED_LEN_BYTE_ARRAY", "DECIMAL"), ("BYTE_ARRAY", "DECIMAL"),
})


def _first_data_file(path: str) -> str | None:
    """The file Spark infers a parquet path's schema from: the path
    itself, or a directory's first data file in path order (hidden
    ``_``/``.`` names skipped). ``None`` for what Spark would treat
    differently: glob patterns, summary files, partition directories,
    and empty or missing paths."""
    if any(c in path for c in "*?[{\\") or not os.path.exists(path):
        return None
    if not os.path.isdir(path):
        return path
    first = None
    for name in sorted(os.listdir(path)):
        if name in ("_metadata", "_common_metadata"):
            return None
        if name.startswith(("_", ".")) or name.endswith("._COPYING_"):
            continue
        full = os.path.join(path, name)
        if os.path.isdir(full):
            return None
        first = first or full
    return first


def footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema ``spark.read.parquet(path)`` would infer, built from
    the parquet footer in this Python process: no Spark job.

    Reproduces Spark's inference under the session's confs: the Spark
    row-metadata schema wins when the file carries one; otherwise naive
    TIMESTAMP(MILLIS/MICROS) is ``timestamp_ntz`` (under
    ``inferTimestampNTZ``) and UTC-adjusted ones ``timestamp``,
    TIMESTAMP(NANOS) is ``bigint`` (under ``nanosAsLong``) and INT96 is
    ``timestamp``, checked on the physical type because pyarrow reports
    INT96 as ``timestamp[ns]`` too. Returns ``None`` for any footer type
    outside that set (unsigned ints, TIME, JSON, nested timestamps...)
    so the caller lets Spark infer.
    """
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    f = _first_data_file(path)
    if f is None:
        return None
    md = pq.read_metadata(f)
    spark_json = (md.metadata or {}).get(_SPARK_ROW_METADATA)
    if spark_json is not None:
        try:
            return T.StructType.fromJson(json.loads(spark_json))
        except (ValueError, KeyError, TypeError):
            pass  # unparseable: Spark falls back to the parquet types too

    def conf(key: str) -> bool:
        return spark.conf.get(f"spark.sql.{key}").lower() == "true"

    arrow = md.schema.to_arrow_schema()
    top = {fld.name for fld in arrow}
    stamped: dict[str, T.DataType] = {}
    for i in range(md.num_columns):
        col = md.schema.column(i)
        logical = col.logical_type.type
        if col.physical_type == "INT96" or logical == "TIMESTAMP":
            if col.path not in top:
                return None  # a timestamp nested in a struct/list/map
            if col.physical_type == "INT96":
                if not conf("parquet.int96AsTimestamp"):
                    return None
                stamped[col.path] = T.TimestampType()
                continue
            ts = json.loads(col.logical_type.to_json())
            if ts["timeUnit"] == "nanoseconds":
                if not conf("legacy.parquet.nanosAsLong"):
                    return None
                stamped[col.path] = T.LongType()
            elif ts["isAdjustedToUTC"] or not conf(
                "parquet.inferTimestampNTZ.enabled"
            ):
                stamped[col.path] = T.TimestampType()
            else:
                stamped[col.path] = T.TimestampNTZType()
        elif (col.physical_type, logical) not in _PLAIN_LEAVES or (
            logical == "INT"
            and not json.loads(col.logical_type.to_json())["isSigned"]
        ):
            return None
    try:
        schema = from_arrow_schema(arrow)
    except TypeError:  # an Arrow type pyspark does not map
        return None
    # every timestamp is top-level, and typed from the footer above
    return T.StructType([
        T.StructField(fld.name, stamped.get(fld.name, fld.dataType))
        for fld in schema.fields
    ])


def scan_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema from
    :func:`footer_schema` when it maps the footer, so planning the scan
    runs no schema-inference job; Spark infers it otherwise."""
    schema = footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def load_testdata(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] | None = None,
    heal=None,
) -> dict[str, DataFrame]:
    """Load the driver's parquet tables for ``sf_dir`` as DataFrames.

    Each scan takes its schema from the file's parquet footer, read in
    this Python process (:func:`scan_parquet`), so loading runs no
    Spark job; a footer type outside the mapped set falls back to
    Spark's own inference for that table.

    Session confs are (re)applied here, at the read boundary, because
    callers may hand us *any* SparkSession — not necessarily one built
    by our ``session.py`` (the correctness driver builds its own).
    ``nanosAsLong`` covers TIMESTAMP(NANOS) producers (older testdata
    generations); the UTC timezone pin makes the NTZ→LTZ timestamp
    normalization below value-preserving and DST-free, so timestamp
    arithmetic matches the DuckDB oracle's naive semantics exactly.
    Both confs are runtime-settable.

    ``heal`` picks which tables get the single-file repartition fix
    (see ``_heal_partitioning``): ``None`` applies the default policy
    (only ``documents``/``embeddings`` — their consumers do expensive
    per-row text/vector work, where parallelism beats the one-off
    shuffle); ``True`` heals every table over the size threshold
    (right for per-row-heavy relational work, e.g. exact percentiles);
    ``False`` heals nothing (right for map-side-combinable aggs, where
    the extra shuffle is pure cost); an iterable heals exactly those
    table names. Measured at sf0.1: blanket healing costs +0.3..0.7 s
    on each simple events/lineitem agg and saves 1..5 s on each
    text/vector op — hence per-table policy, not a global switch.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if heal is None:
        heal_set = _PERROW_HEAVY_TABLES
    elif heal is True or heal == "all":
        heal_set = None  # every table (size threshold still applies)
    elif heal is False:
        heal_set = frozenset()
    else:
        heal_set = frozenset(heal)
    out = {}
    for name in tables or TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(p):
            df = _normalize_timestamps(scan_parquet(spark, p))
            if heal_set is None or name in heal_set:
                df = _heal_partitioning(spark, df, p)
            out[name] = df
    return out


# Consumers of these tables run expensive per-row expressions (shingle
# explosion, minhash, vector math) — parallelism always beats the one
# repartition shuffle for them.
_PERROW_HEAVY_TABLES = frozenset({"documents", "embeddings"})


# Files below this size stay unsplit — repartitioning a dim table costs
# more than it buys.
_MIN_HEAL_BYTES = 256 * 1024


def _heal_partitioning(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Repartition a scan whose file layout starves the executors.

    A single-row-group parquet file scans as ONE task no matter how
    many cores exist, and everything up to the first shuffle (broadcast
    joins, partial aggregates, expensive projections) then runs
    single-threaded. On a real cluster inputs arrive as thousands of
    files and this never triggers; locally it is the difference between
    1 and 32 cores doing the work. Catalyst still pushes filters and
    pruning through the repartition, so scan pushdown is preserved.
    """
    if os.environ.get("SPARK_GRAFT_NO_HEAL"):
        return df
    target = spark.sparkContext.defaultParallelism
    try:
        size = os.path.getsize(path)
        if size >= _MIN_HEAL_BYTES and df.rdd.getNumPartitions() < target:
            return df.repartition(target)
    except Exception:
        pass
    return df


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Normalize every timestamp flavor the testdata generator has
    produced to plain ``TimestampType`` (LTZ), the engine's working
    type:

    - TIMESTAMP(NANOS) arrives as LongType nanos under
      ``spark.sql.legacy.parquet.nanosAsLong`` (older generations of
      ``events.parquet``). Integer ``DIV`` (not ``/``) keeps the
      nanos→micros conversion exact — float division loses precision
      above 2^53 ns. DuckDB truncates nanos→micros the same way.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as
      TIMESTAMP_NTZ under Spark 4's ``inferTimestampNTZ`` (current
      generation). Cast to LTZ under the UTC session pin is
      value-preserving (identity on the stored micros), so downstream
      epoch arithmetic (``cast("long")``, ``unix_timestamp``, windowed
      binning) equals DuckDB's naive arithmetic.

    Only top-level fields are inspected — the testdata schemas are flat.
    A timestamp_ntz nested inside a struct/array in some future
    generation would pass through un-normalized; extend to a recursive
    rewrite if that ever appears.
    """
    from pyspark.sql import functions as F

    for f in df.schema.fields:
        simple = f.dataType.simpleString()
        if f.name == "ts" and simple == "bigint":
            df = df.withColumn(
                f.name, F.timestamp_micros(F.expr(f"`{f.name}` DIV 1000"))
            )
        elif simple == "timestamp_ntz":
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each testdata table as a temp view (SQL entry point E1)."""
    for name, df in load_testdata(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
