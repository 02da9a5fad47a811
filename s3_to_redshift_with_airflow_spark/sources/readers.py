"""Source readers: CSV / Parquet scans with explicit schemas, freshness
filtering, and per-file lineage.

Reference behaviors re-expressed Spark-first:
  - S1 CSV scan (reference: dags/etl/extract_stream_data.py:62-77): boto3 GET +
    pandas parse per file → one declarative `spark.read.csv` over a path/glob;
    Spark's FileSourceScanExec parallelizes listing + reading and pushes column
    pruning into the parser.
  - S4 listing + glob (reference: extract_stream_data.py:26-60): the reference
    lists ≤100 objects, keeps `*.csv` with size>0, sorts lexicographically.
    Spark's file index does the listing natively (`pathGlobFilter`); zero-byte
    files contribute no rows; listing order is irrelevant under a lazy scan.
    The V12 header check (`missing_required_columns`) lists the same files on
    the driver and reads each one's first line there, without a Spark job.
  - S5 freshness filter by mtime (reference: extract_stream_data.py:124-150):
    `modifiedAfter` option — evaluated at the file index, so stale files are
    never opened (partition pruning at file granularity).
  - S6 multi-file union + P1 lineage (reference: extract_stream_data.py:174-197):
    one multi-path scan + `input_file_name()`; no driver-side loop.

Scale notes: at 100 TB the scan cost is dominated by listing + task planning;
a single glob scan lets Spark parallelize listing, prune by mtime without
opening files, and split large files by `spark.sql.files.maxPartitionBytes`.
The reference's MaxKeys=100 cap disappears — backpressure is handled by the
streaming variant (`streaming/pipeline.py`) via `maxFilesPerTrigger`.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan — the engine's native columnar format.

    Pushdown/pruning are free: filters and required columns reach the
    vectorized parquet reader (verify via .explain → PushedFilters/ReadSchema).
    """
    return spark.read.parquet(path)


def with_ts_from_nanos(df: DataFrame, *cols: str) -> DataFrame:
    """Normalize event-time columns to plain TIMESTAMP, whatever parquet
    physical type they arrived as.

    - TIMESTAMP(NANOS): Spark rejects it unless
      `spark.sql.legacy.parquet.nanosAsLong=true`, under which the column
      arrives as LongType nanos-since-epoch. Floor-division to micros matches
      DuckDB's NANOS→TIMESTAMP truncation, so both engines see identical
      values.
    - tz-naive micros (isAdjustedToUTC=false): Spark infers TIMESTAMP_NTZ,
      which `withWatermark`/`unix_micros` reject. Cast to TIMESTAMP — under
      the UTC session (ensure_utc) this is value-preserving.
    """
    for c in cols:
        if c not in df.columns:
            continue
        if isinstance(df.schema[c].dataType, T.LongType):
            # integer `div`, NOT `/`: epoch-nanos (~1.8e18) exceed double's
            # 2^53 integer range, so floor(col / 1000.0) is off by ±1 µs.
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif isinstance(df.schema[c].dataType, T.TimestampNTZType):
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    """Load driver testdata tables by name from a scale-factor directory.

    Normalizes the `events.ts` nanosecond column (see with_ts_from_nanos).
    """
    out = []
    for n in names:
        df = read_parquet(spark, table_path(sf_dir, n))
        if n == "events":
            df = with_ts_from_nanos(df, "ts")
        out.append(df)
    return tuple(out)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    with_lineage: bool = False,
    **options: str,
) -> DataFrame:
    """CSV scan with explicit schema (no inference pass) and optional lineage.

    `with_lineage=True` adds `source_file` via `input_file_name()` — the
    declarative equivalent of the reference's per-file tag loop
    (extract_stream_data.py:188), computed at scan time with no extra pass.
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    df = reader.csv(path)
    if with_lineage:
        df = df.withColumn("source_file", F.input_file_name())
    return df


def read_csv_lenient(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    corrupt_col: str = "_corrupt_record",
    **options: str,
) -> DataFrame:
    """Lenient CSV scan (SURVEY §1.4): PERMISSIVE mode with the raw text of
    each malformed row captured in `corrupt_col` instead of failing the job —
    the batch twin of the reference's infer-then-warn reads
    (extract_stream_data.py:67) and `pd.to_numeric(errors='coerce')`
    (schema_check.py:204).

    The returned frame carries `corrupt_col` (null for clean rows); feed it
    to `corrupt_record_count` / the validation report so malformed-row counts
    surface as a quality metric rather than a silent drop. At scale this is
    the only sane contract: one bad row in 100 TB must cost one counter
    increment, not a job abort (FAILFAST) or a silent null (DROPMALFORMED).
    """
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    reader = (
        spark.read.option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .schema(full)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def corrupt_record_count(df: DataFrame, corrupt_col: str = "_corrupt_record") -> DataFrame:
    """One-row (clean_rows, corrupt_rows) summary of a lenient scan.

    Two PERMISSIVE-mode subtleties force the probe below: (1) Spark rejects
    queries over raw CSV whose required schema is ONLY the corrupt column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN); (2) corruption
    is judged against the PRUNED schema — a row malformed only in an unread
    column is not counted corrupt in that query. So the clean-row count is
    expressed as count(when(corrupt IS NULL, xxhash64(all data cols))) —
    the hash (always non-null, so it never changes the count) pins every
    data column inside an aggregate Catalyst can't prune (a separate probe
    aggregate gets column-pruned away; count(struct(...)) gets rewritten to
    count(1)). Single scan, full-schema corruption semantics."""
    data_cols = [c for c in df.columns if c != corrupt_col]
    pin = F.xxhash64(*data_cols) if data_cols else F.lit(1)
    agg = df.agg(
        F.count(F.lit(1)).cast("bigint").alias("__total"),
        F.count(F.when(F.col(corrupt_col).isNull(), pin))
        .cast("bigint")
        .alias("clean_rows"),
    )
    return agg.select(
        "clean_rows",
        (F.col("__total") - F.col("clean_rows")).alias("corrupt_rows"),
    )


def read_recent_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    hours_back: float = 2.0,
    now: datetime | None = None,
    **options: str,
) -> DataFrame:
    """Freshness-filtered CSV scan: only files modified in the last N hours.

    Mirrors the reference's 2-hour mtime lookback (extract_stream_data.py:
    124-150, hours_back=2 at :168) — its at-least-once late-data allowance —
    as a file-index predicate (`modifiedAfter`), so old files are pruned
    before any byte is read. The reference's "fall back to newest single
    file when nothing is recent" (:170-172) is an orchestration policy, not a
    data operator; callers that need it can catch the empty result.
    """
    now = now or datetime.now(timezone.utc)
    cutoff = now - timedelta(hours=hours_back)
    return read_csv(
        spark,
        path,
        schema=schema,
        modifiedAfter=cutoff.strftime("%Y-%m-%dT%H:%M:%S"),
        pathGlobFilter="*.csv",
        **options,
    )


def _data_files(spark: SparkSession, path: str) -> list[str]:
    """The data files a path names, sorted. A glob expands through
    `globStatus` and a directory is listed recursively; `_`/`.`-prefixed
    files and subdirectories (`_SUCCESS`, `.crc`, staging dirs) and
    zero-length files are skipped, as the reference's listing does (S4).
    Uses the Hadoop FileSystem of the path, so file:// and s3a:// list
    alike. Raises FileNotFoundError when nothing matches, as a Spark read
    of the path would fail."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    pending = list(fs.globStatus(hpath) or [])
    if not pending:
        raise FileNotFoundError(f"no file matches {path}")
    hidden = lambda st: st.getPath().getName().startswith(("_", "."))  # noqa: E731
    files = []
    while pending:
        st = pending.pop()
        if st.isDirectory():
            pending += [c for c in fs.listStatus(st.getPath()) if not hidden(c)]
        elif st.getLen() > 0 and not hidden(st):
            files.append(st.getPath().toString())
    return sorted(files)


def csv_header(spark: SparkSession, path: str) -> list[str]:
    """Column names from a CSV file's header line.

    With explicit schemas, Spark maps CSV columns positionally — a
    structurally missing column silently becomes all-null. The reference
    detects missing columns because pandas infers from the header
    (schema_check.py:95-98); this helper restores that check.

    The first line is read on the driver through the path's Hadoop
    FileSystem (file://, s3a://), decompressed by the codec its extension
    names (`.gz`, `.bz2`, ...), so the check submits no Spark job. An empty
    file gives []."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    codec = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(conf).getCodec(hpath)
    stream = hpath.getFileSystem(conf).open(hpath)
    try:
        if codec is not None:
            stream = codec.createInputStream(stream)
        line = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, "UTF-8")
        ).readLine()
    finally:
        stream.close()
    if line is None:
        return []
    return [c.strip().strip('"') for c in line.split(",")]


def missing_required_columns(
    spark: SparkSession, paths: list[str] | str, required: list[str]
) -> dict[str, list[str]]:
    """Per-file required-columns-absent map (empty when all present). Each
    path may be a file, a directory or a glob; every data file it names
    (see _data_files) is checked, keyed by its qualified path. Driver-side
    listing and header reads only: no Spark job."""
    if isinstance(paths, str):
        paths = [paths]
    out: dict[str, list[str]] = {}
    for f in (f for p in paths for f in _data_files(spark, p)):
        have = set(csv_header(spark, f))
        missing = [c for c in required if c not in have]
        if missing:
            out[f] = missing
    return out


def read_streams_multi(
    spark: SparkSession,
    paths: list[str] | str,
    schema: T.StructType,
) -> DataFrame:
    """Multi-file stream scan with lineage: the reference's per-file
    read→validate→tag→append loop (extract_stream_data.py:174-200) as a single
    scan; union is implicit in the multi-path file index (O3)."""
    if isinstance(paths, str):
        paths = [paths]
    return (
        spark.read.option("header", "true")
        .schema(schema)
        .csv(paths)
        .withColumn("source_file", F.input_file_name())
    )


def read_jsonl(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """JSON-lines source. Pass an explicit DDL schema in production —
    schema inference is a full extra pass over the data; PERMISSIVE mode
    plus `_corrupt_record` (see read_csv_lenient) applies here too."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (column pruning + predicate pushdown, like parquet)."""
    return spark.read.orc(path)


def evolved_union_scan(
    spark: SparkSession,
    versions: list[tuple[str, str]],
    renames: dict[str, dict[str, str]] | None = None,
    version_col: str = "src_version",
) -> DataFrame:
    """Read TABLE VERSIONS whose schemas evolved — columns ADDED (older
    files lack them → null-filled) or RENAMED (mapped per version) — into
    one frame, the schema-evolution half of the multi-file union scan
    (read_streams_multi handles many files of ONE schema; real lakes
    accumulate schema generations as producers upgrade).

    `versions` is [(version_label, path), ...] in any order; `renames`
    maps version_label -> {old_name: new_name} applied to that version's
    columns before the union, so a producer-side rename does not fork the
    column. The union is unionByName(allowMissingColumns=True) — strictly
    name-based (positional unions silently mis-align evolved schemas), a
    version's missing columns arrive as NULLs, and `version_col` carries
    lineage like read_streams_multi's source_file.

    Scale shape: each version is its own pruned/pushed-down parquet scan;
    the union is plan-level (no shuffle, no materialization) — Spark
    plans one scan per generation exactly like its own mergeSchema, but
    with renames expressible, which mergeSchema cannot do (it would
    union-type the old and new names as two columns)."""
    if not versions:
        raise ValueError("versions must be non-empty")
    frames = []
    for label, path in versions:
        df = spark.read.parquet(path)
        for old, new in ((renames or {}).get(label) or {}).items():
            df = df.withColumnRenamed(old, new)
        frames.append(df.withColumn(version_col, F.lit(label)))
    out = frames[0]
    for df in frames[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out
