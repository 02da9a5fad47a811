"""Serve-during-install, pinned reader-side (VERDICT r10 next #4): the
crash enumerations in test_crash_recovery.py prove the stores RECOVER
from every fs-op prefix; these tests put a READER at every one of those
prefixes — before any recovery runs — and assert each interleaved read
equals the complete pre-state or the complete post-state, never a mix,
never an error. Single-writer deployments mean an interleaved reader
sees exactly a crash-prefix state, so the enumeration IS the
concurrency claim.

Covered surfaces, each one `_epoch_commit`:
  - segmented store MAINTAIN (foreach_batch_bm25_maintain_segmented):
    the segment and the manifest listing it commit under the ledger —
    the serve resolves the manifest and its segments through the commit
    journal;
  - segmented store COMPACTION (tiered, _compact_segment_store): merged
    segment born, manifest replaced, constituents removed — content is
    preserved, so serve must equal the same index at every prefix;
  - the park-until-ledger BUCKETED store (weighted-agg):
    read_bucketed_store_snapshot resolves mid-epoch windows to the
    complete pre-image via the commit journal + parks.

The segment serves and the bucketed snapshot read share one resolution
rule (`_snapshot_resolver`).

(The plain `_install` two-rename window already carries a reader
assertion at every step: test_crash_recovery.py's
test_install_crash_at_every_step_is_recoverable resolves `_store_path`
and asserts a complete artifact at each prefix.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
    bucket_expr,
    compact_bm25_segments,
    foreach_batch_bm25_maintain_segmented,
    foreach_batch_weighted_agg_maintain,
    foreach_batch_weighted_agg_maintain_bucketed,
    read_bm25_index_segmented,
    read_bucketed_store_snapshot,
    seed_bm25_index_segmented,
    write_bucketed_store,
)
from tests.crashfs import CrashNow, patch_crashing


# ------------------------------------------------- segmented maintain --


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _serve_bm25(spark, idx):
    p, l, s = read_bm25_index_segmented(spark, idx)
    return (
        sorted(tuple(r) for r in p.collect()),
        sorted(tuple(r) for r in l.collect()),
    )


@pytest.mark.slow
def test_reader_at_every_fs_op_of_segment_publish(spark, tmp_path, monkeypatch):
    """An epoch's segment commit (staged segment + manifest, one
    `_epoch_commit`): at every fs-op prefix the journal-resolved serve
    answers the complete PRE index or the complete POST index — an
    installed-but-uncommitted segment dir never leaks into a read."""
    ref = str(tmp_path / "ref")
    seed_bm25_index_segmented(_docs(spark, [(1, "base doc words")]), ref)
    want_pre = _serve_bm25(spark, ref)
    foreach_batch_bm25_maintain_segmented(ref)(
        _docs(spark, [(2, "epoch doc words")]), 0
    )
    want_post = _serve_bm25(spark, ref)

    crash_after = 0
    while True:
        idx = str(tmp_path / f"pub{crash_after}")
        seed_bm25_index_segmented(_docs(spark, [(1, "base doc words")]), idx)
        sink = foreach_batch_bm25_maintain_segmented(idx)
        with patch_crashing(monkeypatch, [crash_after]):
            try:
                sink(_docs(spark, [(2, "epoch doc words")]), 0)
                completed = True
            except CrashNow:
                completed = False
        # READER, before any recovery/replay runs:
        got = _serve_bm25(spark, idx)
        assert got in (want_pre, want_post), f"torn read at prefix {crash_after}"
        # the epoch's at-least-once replay then lands it exactly once
        sink(_docs(spark, [(2, "epoch doc words")]), 0)
        assert _serve_bm25(spark, idx) == want_post, f"prefix {crash_after}"
        if completed:
            break
        crash_after += 1
    assert crash_after >= 8  # staged sidecars, journal, units, ledger, cleanup


@pytest.mark.slow
def test_reader_at_every_fs_op_of_tiered_compaction(spark, tmp_path, monkeypatch):
    """Tiered compaction preserves content (merged segment born,
    manifest replaced, constituents removed, in one commit): the
    journal-resolved serve must answer the SAME index at every fs-op
    prefix — compaction is invisible to readers except as layout."""

    def seeded(name):
        idx = str(tmp_path / name)
        seed_bm25_index_segmented(
            _docs(spark, [(1, "base data doc"), (2, "more data")]), idx
        )
        sink = foreach_batch_bm25_maintain_segmented(idx)
        sink(_docs(spark, [(3, "streamed data epoch zero")]), 0)
        sink(_docs(spark, [(4, "streamed data epoch one")]), 1)
        return idx, sink

    ref, _ = seeded("ref")
    want = _serve_bm25(spark, ref)

    crash_after = 0
    while True:
        idx, sink = seeded(f"comp{crash_after}")
        with patch_crashing(monkeypatch, [crash_after]):
            try:
                compact_bm25_segments(spark, idx, tiered=True)
                completed = True
            except CrashNow:
                completed = False
        # READER, before any recovery runs: same content at every prefix
        assert _serve_bm25(spark, idx) == want, f"torn read at prefix {crash_after}"
        # a replayed epoch stays skipped, a fresh epoch lands, and a
        # re-run compaction converges — the crash-side invariants
        sink(_docs(spark, [(3, "streamed data epoch zero")]), 0)
        assert _serve_bm25(spark, idx) == want
        compact_bm25_segments(spark, idx, tiered=True)
        assert _serve_bm25(spark, idx) == want
        if completed:
            break
        crash_after += 1
    assert crash_after >= 10  # journal, four units, ledger, cleanup


# ------------------------------------------- park-until-ledger bucketed --


@pytest.mark.slow
def test_snapshot_reader_at_every_fs_op_of_bucketed_wagg_epoch(
    spark, tmp_path, monkeypatch
):
    """The additive bucketed store's epoch rewrites touched buckets under
    the park-until-ledger protocol; a plain root read mid-window would
    see parked (absent) buckets. read_bucketed_store_snapshot resolves
    the commit journal + parks to the complete PRE-image while the
    ledger trails, and the live POST-image once it commits — enumerate
    every fs-op prefix and assert exactly that, never a mix."""
    n_buckets = 8
    state = spark.range(64).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        F.lit(1).cast("bigint").alias("cnt"),
        F.col("id").cast("decimal(38,6)").alias("sm"),
    )

    def snap(df):
        return sorted((r["k"], r["cnt"], float(r["sm"])) for r in df.collect())

    # the delta exercises all three bucket fates: zero-empty one whole
    # bucket, insert a new key (bucket possibly born), update another
    target_b = (
        spark.createDataFrame([("k3",)], "k string")
        .select(bucket_expr(["k"], n_buckets).alias("b"))
        .collect()[0]["b"]
    )
    seed_rows = state.withColumn("b", bucket_expr(["k"], n_buckets)).collect()
    doomed = [r["k"] for r in seed_rows if r["b"] == int(target_b)]
    survivor = next(r["k"] for r in seed_rows if r["b"] != int(target_b))
    delta = spark.createDataFrame(
        [(k, float(k[1:]), -1) for k in doomed]
        + [("brandnew", 99.0, 1), (survivor, 5.0, 1)],
        "k string, value double, w int",
    )

    plain_t = str(tmp_path / "plain")
    state.write.parquet(plain_t)
    foreach_batch_weighted_agg_maintain(plain_t, ["k"], "value")(delta, 0)
    want_post = snap(spark.read.parquet(plain_t))
    want_pre = snap(state)

    crash_after = 0
    while True:
        target = str(tmp_path / f"snap{crash_after}")
        write_bucketed_store(state, target, ["k"], n_buckets)
        sink = foreach_batch_weighted_agg_maintain_bucketed(
            target, ["k"], "value", n_buckets=n_buckets
        )
        with patch_crashing(monkeypatch, [crash_after]):
            try:
                sink(delta, 0)
                completed = True
            except CrashNow:
                completed = False
        # READER, before any recovery: complete pre- or post-image
        got = snap(read_bucketed_store_snapshot(spark, target))
        assert got in (want_pre, want_post), f"torn read at prefix {crash_after}"
        # replay completes the epoch exactly once; the snapshot reader
        # then agrees with the plain committed read
        sink(delta, 0)
        assert snap(read_bucketed_store_snapshot(spark, target)) == want_post
        assert (
            snap(spark.read.parquet(target).drop("bucket")) == want_post
        ), f"prefix {crash_after}"
        if completed:
            break
        crash_after += 1
    assert crash_after >= 8  # the bucket loop got enumerated


def test_snapshot_reader_equals_plain_read_when_idle(spark, tmp_path):
    """Outside any mutation window the snapshot reader and the plain
    bucketed read are the same relation."""
    state = spark.range(32).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        F.lit(1).cast("bigint").alias("cnt"),
        F.col("id").cast("decimal(38,6)").alias("sm"),
    )
    target = str(tmp_path / "idle")
    write_bucketed_store(state, target, ["k"], 8)
    a = sorted(tuple(r) for r in read_bucketed_store_snapshot(spark, target).collect())
    b = sorted(
        tuple(r) for r in spark.read.parquet(target).drop("bucket").collect()
    )
    assert a == b
