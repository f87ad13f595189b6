"""Data sources: parquet/json/csv/text file readers and the HTTP-JSON source.

``load_table`` is the single entry point the query layer uses for the
fixture tables. Their schema is the parquet file's own, inferred from the
footer once per file version and memoized (``read_parquet``); it is not
``schemas.TABLES``, whose timestamp columns are declared ``timestamp``
where the files hold ``timestamp_ntz``. JSON and CSV reads always pass an
explicit schema, since those formats have nothing to infer from but a
scan of the data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Session confs that change the schema Spark infers from a parquet footer.
_PARQUET_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

# path -> (fingerprint, values of _PARQUET_INFER_CONFS, inferred schema).
# One entry per path: a rewritten file replaces its old entry.
_PARQUET_SCHEMAS: dict[str, tuple[str, tuple, T.StructType]] = {}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _table_fingerprint(path: str, spark: SparkSession | None = None) -> str:
    """Cheap content fingerprint of a parquet table path: relative file
    names + sizes + mtimes, hashed. O(files) driver-side listing, no
    Spark job, so memoization keyed on it cannot serve stale state after
    the table is rewritten or regenerated within one Spark application.
    'missing' for a path with no parquet files.

    Local paths use an os.walk listing (the fingerprints name persisted
    artifact directories, so their bytes must not change); non-local
    paths fall back to the Hadoop FileSystem walk when `spark` is given,
    so distinct object-store tables never collide on 'missing'."""
    import hashlib

    entries: list[tuple[str, int, object]] = []
    if os.path.isdir(path):
        files = sorted(
            os.path.join(root, f)
            for root, _dirs, names in os.walk(path)
            for f in names
            if f.endswith(".parquet")
        )
        for f in files:
            st = os.stat(f)
            entries.append(
                (os.path.relpath(f, path), st.st_size, st.st_mtime_ns)
            )
    elif os.path.isfile(path) and path.endswith(".parquet"):
        st = os.stat(path)
        # relpath(path, path) == "." — kept verbatim so single-file
        # fingerprints stay byte-identical (persisted artifacts keyed on
        # them remain valid)
        entries.append(
            (os.path.relpath(path, path), st.st_size, st.st_mtime_ns)
        )
    elif spark is not None:
        from ..fsio import Fs

        fs = Fs(spark, path)
        if fs.exists(path):
            entries = [
                (rel, sz, mt)
                for rel, sz, mt in fs.walk_files(path)
                if rel.endswith(".parquet")
            ]
    if not entries:
        return "missing"
    h = hashlib.sha256()
    for rel, size, mtime in entries:
        h.update(f"{rel}:{size}:{mtime}\n".encode())
    return h.hexdigest()[:16]


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan whose footer schema is inferred once per file version.

    A plain ``spark.read.parquet`` runs a one-task Spark job to read the
    footer on every call. The inferred schema is memoized on the path's
    content fingerprint plus the session confs that change inference, and
    a hit passes it to the reader, which then runs no job. The DataFrame
    itself is always new: a self-join needs fresh attribute ids.
    """
    fp = _table_fingerprint(path, spark)
    if fp == "missing":
        # nothing to key a memo on; Spark raises if the path is absent
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k) for k in _PARQUET_INFER_CONFS)
    hit = _PARQUET_SCHEMAS.get(path)
    if hit is not None and hit[0] == fp and hit[1] == confs:
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    _PARQUET_SCHEMAS[path] = (fp, confs, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table as a DataFrame.

    Parquet scans get predicate pushdown, column pruning and the vectorized
    reader from Catalyst for free; the query layer must still SELECT only the
    columns it needs so pruning has something to do.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLES)}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return read_parquet(spark, table_path(sf_dir, name))


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet's `ts` physical type varies by fixture generation:
    TIMESTAMP(NANOS) (which Spark's vectorized parquet reader rejects
    outright — read the raw int64 nanos via the legacy conf instead) or
    plain TIMESTAMP(MICROS)/NTZ. Normalize BOTH to the session
    TimestampType so every downstream query sees one `ts` type:

    - int64 nanos: truncate to micros with *integer* division
      (`div 1000`) — bit-exact with DuckDB's CAST(ts_ns AS TIMESTAMP)
      truncation, whereas float division would round and drift 1 µs on
      sub-µs values;
    - TIMESTAMP_NTZ (micros, isAdjustedToUTC=false): cast to
      TimestampType — with the session timezone pinned to UTC the wall
      time is preserved exactly, matching DuckDB's naive read.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, table_path(sf_dir, "events"))
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampType):
        return df
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)


def read_json(spark: SparkSession, path: str, schema, multiline: bool = False) -> DataFrame:
    """JSON file/directory scan with an explicit schema (no inference).

    ``multiline=True`` reads whole-file JSON arrays -- the reference's
    extract-run format (one JSON array per object-store file, reference
    src/extract/main.py:46-47). Default (JSON-lines) is what the engine's
    own landing zone writes, since line-delimited JSON is splittable and
    therefore scan-parallel at scale; a 10 GB array-file is one task.
    """
    return (
        spark.read.schema(schema)
        .option("multiLine", "true" if multiline else "false")
        .option("mode", "PERMISSIVE")
        .json(path)
    )


def read_csv(spark: SparkSession, path: str, schema, header: bool = True) -> DataFrame:
    return spark.read.schema(schema).option("header", str(header).lower()).csv(path)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.text(path)


def read_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC scan (columnar sibling of parquet; same pushdown/pruning and
    vectorized read via Catalyst). Schema optional: ORC files carry their
    own, and unlike JSON/CSV there is no inference cost to avoid."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_parquet_evolving(spark: SparkSession, path: str, target_schema) -> DataFrame:
    """Parquet scan across schema GENERATIONS (add-only evolution — the
    common lakehouse case: new pipeline versions append files with new
    columns into the same table directory).

    mergeSchema unions the per-file footers (per-file cost at planning
    time, which is why it is not Spark's default — pay it only on
    evolved tables), then the projection normalizes to `target_schema`:
    columns a generation never wrote come back as typed NULLs, casts pin
    declared types, and column ORDER follows the target, so downstream
    code sees one stable schema regardless of which files survive
    retention. Incompatible type rewrites (int -> string) are NOT
    papered over: mergeSchema fails fast on irreconcilable footers,
    which is the correct behavior — that case needs a rewrite migration,
    not a reader workaround."""
    df = spark.read.option("mergeSchema", "true").parquet(path)
    present = set(df.columns)
    return df.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in present
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in target_schema.fields
        ]
    )
