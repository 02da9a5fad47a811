"""The reference's full ETL pipeline, one batch per `run_pipeline` call.

Reference topology (dags/etl_streaming_pipeline.py:152):
    extract_metadata >> extract_streaming >> validate_data >>
    transform_kpis >> load_redshift
with S3 CSV files as the inter-task dataflow (each task a separate worker
process re-reading staged files).

Here each stage is a DataFrame→DataFrame function, and a batch reads and
cleans each input once: the three cleaned inputs (users, songs, deduplicated
streams) are persisted right after extraction, the validation actions fill
that cache, and the star join and both KPI sinks read from it — so no file
is re-scanned and no dedup is recomputed per action. Actions that do not
depend on each other run concurrently (session.run_concurrently): the three
tables' validation aggregates, then the two KPI writes. Validation still
finishes, and raises, before any KPI file is written. The CSV header checks
(V12) run on the driver without a Spark job. Catalyst prunes the unused
dimension columns the reference drags through its joins
(kpi_processor.py:59).

Stage parity map:
  extract_metadata   → reference dags/etl/extract_metadata.py:86-151
                       (read users/songs CSVs, full-row dedup, drop null keys)
  extract_streams    → reference dags/etl/extract_stream_data.py:152-232
                       (multi-file scan, freshness filter, lineage column,
                        subset-key dedup, sort at the sink)
  validate           → reference dags/etl/schema_check.py:258-329
                       (errors abort, warnings logged — operators/validation)
  compute KPIs       → reference dags/etl/kpi_processor.py:40-101
                       (operators/kpi: star join + twin aggregates)
  load               → reference dags/etl/load_to_redshift.py:390-453
                       (sinks/jdbc_upsert day-scoped upsert, or CSV/parquet
                        outputs for file parity)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.kpi import enrich_streams, genre_kpis, hourly_kpis
from ..operators.relational import (
    dedup_full,
    dedup_subset_deterministic,
    drop_null_keys,
)
from ..operators.validation import RangeCheck, TableRules, validate_datasets
from ..schemas import SONGS_SCHEMA, STREAMS_SCHEMA, USERS_SCHEMA, VALID_GENRES
from ..session import run_concurrently
from ..sources.readers import (
    missing_required_columns,
    read_csv,
    read_recent_csv,
    read_streams_multi,
)
from ..sources.writers import write_csv_single, write_json_report


def extract_metadata(
    spark: SparkSession, users_path: str, songs_path: str
) -> tuple[DataFrame, DataFrame]:
    """Users/songs extraction: explicit schemas, full-row dedup (D1), null-key
    drop (D3) — reference extract_metadata.py:120-121."""
    users = drop_null_keys(
        dedup_full(read_csv(spark, users_path, schema=USERS_SCHEMA)), ["user_id"]
    )
    songs = drop_null_keys(
        dedup_full(read_csv(spark, songs_path, schema=SONGS_SCHEMA)), ["track_id"]
    )
    return users, songs


def extract_streams(
    spark: SparkSession,
    paths: list[str] | str,
    hours_back: float | None = None,
) -> DataFrame:
    """Stream-event extraction: one multi-path scan with lineage (S6+P1),
    optional mtime freshness filter (S5), deterministic subset-key dedup (D2 —
    key includes listen_time: same user+track at different seconds are
    distinct events). The reference's final sort (O1) is deferred to sinks —
    a global sort is wasted work mid-plan."""
    if hours_back is not None and isinstance(paths, str):
        streams = read_recent_csv(
            spark, paths, schema=STREAMS_SCHEMA, hours_back=hours_back
        ).withColumn("source_file", F.input_file_name())
    else:
        streams = read_streams_multi(spark, paths, STREAMS_SCHEMA)
    return dedup_subset_deterministic(
        streams, ["user_id", "track_id", "listen_time"]
    )


STREAM_RULES = TableRules(
    required_columns=["user_id", "track_id", "listen_time"],
    key_columns=[],
    range_checks=[],
)
USER_RULES = TableRules(
    required_columns=["user_id", "user_name"],
    key_columns=["user_id"],
)
SONG_RULES = TableRules(
    required_columns=["track_id", "track_name", "artists"],
    key_columns=["track_id"],
    whitelist={"track_genre": VALID_GENRES},
    range_checks=[RangeCheck("duration_ms", min_value=0, max_value=1_800_000)],
)


def run_pipeline(
    spark: SparkSession,
    users_path: str,
    songs_path: str,
    stream_paths: list[str] | str,
    output_dir: str,
    validate: bool = True,
) -> dict[str, DataFrame]:
    """End-to-end: extract → validate → KPIs → file sinks.

    Returns the result DataFrames; writes genre_kpis.csv / hourly_kpis.csv
    (single-object parity with the reference's staging contract) and
    validation_report.json under output_dir. Nothing stays persisted after
    the call, whether it returns or raises; the returned frames recompute
    from the sources when used.
    """
    users, songs = extract_metadata(spark, users_path, songs_path)
    streams = extract_streams(spark, stream_paths)
    cleaned = (users, songs, streams)
    for df in cleaned:
        df.persist()
    try:
        if validate:
            # Source-level header checks (V12): explicit schemas map CSV
            # columns positionally, so structural absence must be caught at
            # the header.
            header_errors = {
                name: [
                    f"{path}: missing required column(s) {cols}"
                    for path, cols in missing_required_columns(
                        spark, paths, rules.required_columns
                    ).items()
                ]
                for name, paths, rules in [
                    ("users", users_path, USER_RULES),
                    ("songs", songs_path, SONG_RULES),
                    ("streams", stream_paths, STREAM_RULES),
                ]
            }
            report = validate_datasets(
                {
                    "users": (users, USER_RULES),
                    "songs": (songs, SONG_RULES),
                    "streams": (streams, STREAM_RULES),
                },
                raise_on_error=True,
                extra_errors=header_errors,
            )
            write_json_report(report, f"{output_dir}/validation_report.json")

        enriched = enrich_streams(streams, songs, users)
        genre = genre_kpis(enriched)
        hourly = hourly_kpis(enriched)
        run_concurrently([
            lambda: write_csv_single(genre, f"{output_dir}/genre_kpis.csv"),
            lambda: write_csv_single(hourly, f"{output_dir}/hourly_kpis.csv"),
        ])
    finally:
        for df in cleaned:
            df.unpersist()
    return {"genre_kpis": genre, "hourly_kpis": hourly, "enriched": enriched}
