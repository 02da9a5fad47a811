"""Validation engine semantics vs the reference's errors/warnings split
(schema_check.py:77-127, 258-329)."""

from __future__ import annotations

import gzip
import time

import pytest

from s3_to_redshift_with_airflow_spark.operators import validation
from s3_to_redshift_with_airflow_spark.operators.validation import (
    RangeCheck,
    TableRules,
    evaluate,
    validate_datasets,
)
from s3_to_redshift_with_airflow_spark.sources.readers import (
    csv_header,
    missing_required_columns,
)

RULES = TableRules(
    required_columns=["user_id", "track_id"],
    data_types={"user_id": ["bigint"], "track_id": ["string"]},
    key_columns=["user_id"],
    whitelist={"genre": ["rock", "pop"]},
    numeric_coercible=["listen_time"],
    range_checks=[RangeCheck("duration", min_value=0, max_value=1_800_000)],
)


@pytest.fixture(scope="module")
def dirty(spark):
    return spark.createDataFrame(
        [
            (1, "t1", "Rock", "123", 100.0),
            (1, "t1", "Rock", "123", 100.0),     # duplicate row + duplicate key
            (2, "t2", "metal", "oops", -5.0),    # whitelist viol, non-numeric, range viol
            (None, "t3", "pop", "4", 2_000_000.0),  # null key, range viol
        ],
        "user_id long, track_id string, genre string, listen_time string, duration double",
    )


def test_errors_and_warnings_split(dirty):
    report = evaluate(dirty, RULES, "streams")
    assert not report["passed"]
    assert any("null values in key column user_id" in e for e in report["errors"])
    warns = "\n".join(report["warnings"])
    assert "1 duplicate rows" in warns
    assert "duplicate keys" in warns
    assert "outside whitelist" in warns and "metal" in warns
    assert "1 non-numeric values in listen_time" in warns
    assert "2 range violations in duration" in warns


def test_missing_required_column_is_error(spark):
    df = spark.createDataFrame([(1,)], "user_id long")
    report = evaluate(df, TableRules(required_columns=["user_id", "track_id"]))
    assert not report["passed"]
    assert any("missing required column: track_id" in e for e in report["errors"])


def test_empty_relation_is_error(spark):
    df = spark.createDataFrame([], "user_id long")
    report = evaluate(df, TableRules(required_columns=["user_id"]))
    assert any("empty" in e for e in report["errors"])


def test_dtype_mismatch_is_warning_only(spark):
    df = spark.createDataFrame([("x",)], "user_id string")
    report = evaluate(df, TableRules(required_columns=["user_id"],
                                     data_types={"user_id": ["bigint"]}))
    assert report["passed"]  # warning, not error (schema_check.py:101-107)
    assert any("dtype" in w for w in report["warnings"])


def test_validate_datasets_raises_on_error(spark, dirty):
    clean = spark.createDataFrame([(1, "t1")], "user_id long, track_id string")
    ok = validate_datasets(
        {"clean": (clean, TableRules(required_columns=["user_id"]))}
    )
    assert ok["passed"]
    with pytest.raises(ValueError, match="streams"):
        validate_datasets({"streams": (dirty, RULES)})


def test_lenient_csv_corrupt_records_in_report(spark, tmp_path):
    """SURVEY §1.4: PERMISSIVE ingest counts malformed rows instead of
    failing (the reference's infer-then-warn read, extract_stream_data.py:67)
    and the count flows into the validation report as a warning."""
    from s3_to_redshift_with_airflow_spark.sources.readers import (
        corrupt_record_count,
        read_csv_lenient,
    )
    from pyspark.sql import types as T

    p = tmp_path / "streams.csv"
    p.write_text(
        "user_id,value\n"
        "1,10\n"
        "2,not_a_number\n"   # value fails the long cast -> corrupt
        "3,30\n"
        "4\n"                # structurally short row -> corrupt
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.LongType()),
        ]
    )
    df = read_csv_lenient(spark, str(p), schema)

    counts = corrupt_record_count(df).collect()[0]
    assert counts["clean_rows"] == 2
    assert counts["corrupt_rows"] == 2

    report = evaluate(df, TableRules(required_columns=["user_id"]))
    assert any("2 malformed rows" in w for w in report["warnings"])
    # corrupt raw text is preserved for quarantine/debugging
    bad = {r["_corrupt_record"] for r in df.collect() if r["_corrupt_record"]}
    assert bad == {"2,not_a_number", "4"}


def test_validate_datasets_keeps_input_order_and_names_failures_in_order(spark, dirty):
    clean = spark.createDataFrame([(1, "t1")], "user_id long, track_id string")
    ok_rules = TableRules(required_columns=["user_id"])
    ok = validate_datasets(
        {"zeta": (clean, ok_rules), "alpha": (clean, ok_rules), "mid": (clean, ok_rules)}
    )
    assert list(ok["datasets"]) == ["zeta", "alpha", "mid"]

    with pytest.raises(ValueError) as exc:
        validate_datasets(
            {"zz_bad": (dirty, RULES), "clean": (clean, ok_rules), "aa_bad": (dirty, RULES)}
        )
    msg = str(exc.value)
    assert msg.startswith("validation failed for ['zz_bad', 'aa_bad']")
    assert msg.index("zz_bad") < msg.index("aa_bad")


def test_validate_datasets_raises_only_after_every_table_is_done(monkeypatch):
    """An error in one table's evaluation reaches the caller only once the
    other tables' evaluations have returned (no job left running)."""
    finished = []

    def fake_evaluate(df, rules, dataset, extra_errors=None):
        if dataset == "broken":
            raise RuntimeError("evaluation blew up")
        time.sleep(0.3)
        finished.append(dataset)
        return {"passed": True, "errors": []}

    monkeypatch.setattr(validation, "evaluate", fake_evaluate)
    rules = TableRules()
    with pytest.raises(RuntimeError, match="blew up"):
        validate_datasets({"a": (None, rules), "broken": (None, rules), "b": (None, rules)})
    assert sorted(finished) == ["a", "b"]


STREAM_COLS = ["user_id", "track_id", "listen_time"]


def _stream_dir(d):
    """A 2,000-row good stream file, a 1-row file without listen_time, and
    what a listing must skip (a marker, a hidden file, an empty file, a
    staging directory)."""
    (d / "_temporary").mkdir(parents=True)
    (d / "_temporary" / "part-0.csv").write_text("user_id\n1\n")
    rows = "".join(f"{i},t{i % 7},2024-06-25 00:00:{i % 60:02d}\n" for i in range(2000))
    (d / "good.csv").write_text("user_id,track_id,listen_time\n" + rows)
    (d / "bad.csv").write_text("user_id,track_id\n1,t1\n")
    (d / "_SUCCESS").write_text("")
    (d / ".good.csv.crc").write_text("junk")
    (d / "empty.csv").write_text("")
    return d


@pytest.mark.parametrize(
    "case",
    ["directory", "glob", "file_list", "gzip", "quoted", "crlf"],
)
def test_header_check_reads_every_file_on_the_driver(spark, run_in_job_group, tmp_path, case):
    """V12 checks each data file a path names, through the driver's
    FileSystem: a directory or glob with one bad file reports that file,
    compressed and quoted/CRLF headers parse, and no Spark job runs."""
    good_hdr = "user_id,track_id,listen_time"
    if case in ("directory", "glob", "file_list"):
        d = _stream_dir(tmp_path / "streams")
        paths = {
            "directory": str(d),
            "glob": f"{d}/*.csv",
            "file_list": [str(d / "good.csv"), str(d / "bad.csv")],
        }[case]
        want = {"bad.csv": ["listen_time"]}
    elif case == "gzip":
        with gzip.open(tmp_path / "good.csv.gz", "wt") as f:
            f.write(good_hdr + "\n1,t1,2024-06-25 00:00:00\n")
        with gzip.open(tmp_path / "bad.csv.gz", "wt") as f:
            f.write("user_id,listen_time\n1,2024-06-25 00:00:00\n")
        paths, want = f"{tmp_path}/*.csv.gz", {"bad.csv.gz": ["track_id"]}
    elif case == "quoted":
        (tmp_path / "q.csv").write_text('"user_id","track_id","listen_time"\n1,t1,x\n')
        paths, want = str(tmp_path / "q.csv"), {}
    else:
        (tmp_path / "w.csv").write_bytes(b"user_id,track_id,listen_time\r\n1,t1,x\r\n")
        paths, want = str(tmp_path / "w.csv"), {}

    got, jobs, _ = run_in_job_group(
        lambda: missing_required_columns(spark, paths, STREAM_COLS)
    )
    assert {k.rsplit("/", 1)[-1]: v for k, v in got.items()} == want
    assert jobs == []


def test_csv_header_of_an_empty_file_is_empty(spark, tmp_path):
    (tmp_path / "empty.csv").write_text("")
    assert csv_header(spark, str(tmp_path / "empty.csv")) == []


def test_header_check_of_a_missing_path_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        missing_required_columns(spark, str(tmp_path / "nope" / "*.csv"), STREAM_COLS)
