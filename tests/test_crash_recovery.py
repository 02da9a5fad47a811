"""Crash-window recovery for the stored-artifact swap protocol, and the
read-error discipline of foreach_batch_upsert (VERDICT r7 #1 and #2).

The two failure classes closed here:
  1. `foreach_batch_upsert` must NOT treat an arbitrary read failure on a
     target that EXISTS (corrupt footer, transient storage fault) as
     "first epoch" — that would swap the whole store for just the current
     batch. Only PATH_NOT_FOUND maps to first-epoch.
  2. The install is a two-rename protocol (target -> target__prev,
     tmp -> target, delete __prev): a crash inside the window parks the
     complete store at __prev, and both the read path (`_store_path`,
     `_last_applied_epoch`) and the next install recover it. The old
     delete+rename protocol had a window where the store existed only at
     the scratch path — a restart found no artifact and no ledger.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
    _install,
    _last_applied_epoch,
    _store_path,
    _write_ledger,
    foreach_batch_histogram_maintain,
    foreach_batch_upsert,
)
from tests.crashfs import CrashNow, patch_crashing


def _snap(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def test_upsert_sink_seeds_on_missing_target(spark, tmp_path):
    target = str(tmp_path / "upsert")
    sink = foreach_batch_upsert(target, keys=["k"])
    sink(_batch(spark, 0, 5), 0)
    assert _snap(spark, target) == [(i, i * 10) for i in range(5)]


def test_upsert_sink_raises_on_corrupt_target_instead_of_truncating(
    spark, tmp_path
):
    """A read failure on an EXISTING target must raise (the streaming
    runtime then retries the epoch) — never silently replace the store
    with the current batch."""
    target = tmp_path / "upsert"
    target.mkdir()
    garbage = target / "part-00000.parquet"
    garbage.write_bytes(b"this is not a parquet file")
    sink = foreach_batch_upsert(str(target), keys=["k"])
    with pytest.raises(Exception):
        sink(_batch(spark, 0, 5), 0)
    # the store was not swapped out from under the fault:
    assert garbage.read_bytes() == b"this is not a parquet file"
    assert not os.path.exists(str(target) + "__epoch0")


def test_upsert_sink_normal_merge_still_green(spark, tmp_path):
    target = str(tmp_path / "upsert")
    sink = foreach_batch_upsert(target, keys=["k"])
    sink(_batch(spark, 0, 5), 0)
    sink(
        spark.range(3, 8).select(
            F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("v")
        ),
        1,
    )
    got = dict(_snap(spark, target))
    assert got == {0: 0, 1: 10, 2: 20, 3: -1, 4: -1, 5: -1, 6: -1, 7: -1}


def _park(target: str) -> None:
    """Simulate a crash inside the swap window: target renamed to __prev,
    replacement not yet installed."""
    shutil.move(target, target + "__prev")


def test_store_path_resolves_parked_store(spark, tmp_path):
    target = str(tmp_path / "store")
    spark.range(3).write.parquet(target)
    assert _store_path(spark, target) == target
    _park(target)
    assert _store_path(spark, target) == target + "__prev"
    # nothing anywhere: resolution falls through to the target path
    missing = str(tmp_path / "nope")
    assert _store_path(spark, missing) == missing


def test_ledger_read_falls_back_to_parked_store(spark, tmp_path):
    """After a crash in the window, the ledger must still report the true
    epoch — otherwise a restart treats the re-delivered epoch as fresh and
    double-applies it against the recovered store."""
    target = str(tmp_path / "hist")
    spark.createDataFrame([], "day date, bucket bigint, n bigint").write.parquet(
        target
    )
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.lit("2024-01-01").cast("timestamp").alias("ts"),
        (F.col("id") % 64).cast("double").alias("value"),
    )
    sink = foreach_batch_histogram_maintain(target, width=8.0)
    sink(mk(0, 1000), 0)
    parked_snap = _snap(spark, target)
    _park(target)
    assert _last_applied_epoch(spark, target) == 0
    # replay of the already-applied epoch is still gated while parked
    sink(mk(0, 1000), 0)
    assert _snap(spark, target + "__prev") == parked_snap
    assert not os.path.exists(target)


def test_next_epoch_recovers_parked_store_and_stays_batch_equal(
    spark, tmp_path
):
    """The full recovery story: crash in the window after epoch 0, then
    epoch 1 arrives — the sink reads the parked store, applies the delta,
    and the installed result equals a batch build over both epochs. The
    park is cleaned up."""
    from s3_to_redshift_with_airflow_spark.operators.sketches import (
        value_histogram,
    )

    target = str(tmp_path / "hist")
    spark.createDataFrame([], "day date, bucket bigint, n bigint").write.parquet(
        target
    )
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.lit("2024-01-01").cast("timestamp").alias("ts"),
        (F.col("id") % 64).cast("double").alias("value"),
    )
    b0, b1 = mk(0, 1000), mk(1000, 1500)
    sink = foreach_batch_histogram_maintain(target, width=8.0)
    sink(b0, 0)
    _park(target)
    sink(b1, 1)
    want = sorted(
        tuple(r)
        for r in value_histogram(b0.unionByName(b1), "value", None, "ts", 8.0).collect()
    )
    assert _snap(spark, target) == want
    assert not os.path.exists(target + "__prev")
    assert _last_applied_epoch(spark, target) == 1


def test_install_cleans_leftover_prev_from_completed_install(spark, tmp_path):
    """A crash AFTER the tmp->target rename but before the final delete
    leaves both target and __prev; the next install must prefer target
    (the newer state) and clear the leftover."""
    target = str(tmp_path / "store")
    spark.range(5).write.parquet(target)  # current state
    spark.range(3).write.parquet(target + "__prev")  # stale leftover
    tmp = target + "__next"
    spark.range(7).write.parquet(tmp)
    _install(spark, tmp, target)
    assert {r[0] for r in spark.read.parquet(target).collect()} == set(range(7))
    assert not os.path.exists(target + "__prev")
    assert not os.path.exists(tmp)


def test_compact_parquet_recovers_parked_table(spark, tmp_path):
    from s3_to_redshift_with_airflow_spark.sources.writers import (
        compact_parquet,
    )

    path = str(tmp_path / "table")
    spark.range(100).repartition(8).write.parquet(path)
    _park(path)
    n = compact_parquet(spark, path, target_file_mb=256)
    assert n == 1
    assert {r[0] for r in spark.read.parquet(path).collect()} == set(range(100))
    assert not os.path.exists(path + "__prev")
    assert not os.path.exists(path + "__compacting")


def test_ledger_parked_mid_install_still_reports_epoch(spark, tmp_path):
    """Bucketed stores install the ledger as its own artifact; a crash
    inside THAT install window parks it at _ledger__prev — the reader
    must resolve it rather than reporting 'no ledger' and waving a
    replayed epoch through."""
    target = str(tmp_path / "store")
    os.makedirs(target)
    _write_ledger(spark, target, 4)
    shutil.move(target + "/_ledger", target + "/_ledger__prev")
    assert _last_applied_epoch(spark, target) == 4


def test_install_crash_at_every_step_is_recoverable(spark, tmp_path):
    """Exhaustive crash-point enumeration for the two-rename protocol:
    simulate the install halting after EVERY prefix of its filesystem
    operations and assert the invariant — a COMPLETE copy of either the
    old or the new artifact is resolvable via _store_path, and a
    subsequent _install completes cleanly to the new state. This is the
    claim the old delete+rename protocol could not make (its window had
    the store only at the scratch path)."""

    def fresh(step_dir):
        target = str(step_dir / "store")
        prev = target + "__prev"
        tmp = target + "__next"
        spark.range(5).write.parquet(target)  # old state: ids 0..4
        spark.range(7).write.parquet(tmp)  # new state: ids 0..6
        return target, prev, tmp

    # the protocol's op sequence on the normal path (no pre-existing park):
    # 1. rename(target, prev)   2. rename(tmp, target)   3. delete(prev)
    def ops(target, prev, tmp):
        return [
            lambda: shutil.move(target, prev),
            lambda: shutil.move(tmp, target),
            lambda: shutil.rmtree(prev),
        ]

    for crash_after in range(0, 4):  # 0 = before anything, 3 = completed
        d = tmp_path / f"crash{crash_after}"
        d.mkdir()
        target, prev, tmp = fresh(d)
        for op in ops(target, prev, tmp)[:crash_after]:
            op()
        # invariant: a complete artifact is resolvable RIGHT NOW
        live = _store_path(spark, target)
        vals = {r[0] for r in spark.read.parquet(live).collect()}
        assert vals in ({0, 1, 2, 3, 4}, {0, 1, 2, 3, 4, 5, 6}), (
            f"crash point {crash_after}: resolved store is not a complete "
            f"artifact: {sorted(vals)}"
        )
        # and the next install (retry with a rebuilt scratch) completes
        if not os.path.exists(tmp):
            spark.range(7).write.parquet(tmp)
        _install(spark, tmp, target)
        got = {r[0] for r in spark.read.parquet(target).collect()}
        assert got == {0, 1, 2, 3, 4, 5, 6}
        assert not os.path.exists(prev)


# ------------------------------- r9: segment-compaction crash windows --


def _seed_segmented_bm25(spark, tmp_path):
    from pyspark.sql import functions as F

    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_bm25_maintain_segmented,
        seed_bm25_index_segmented,
    )

    idx = str(tmp_path / "segidx")
    docs = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")  # noqa: E731
    seed_bm25_index_segmented(docs([(1, "base data doc"), (2, "more data")]), idx)
    sink = foreach_batch_bm25_maintain_segmented(idx)
    sink(docs([(3, "streamed data epoch zero")]), 0)
    sink(docs([(4, "streamed data epoch one")]), 1)
    return idx, docs, sink


def _serve_bm25(spark, idx):
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        read_bm25_index_segmented,
    )

    p, l, s = read_bm25_index_segmented(spark, idx)
    return (
        sorted(tuple(r) for r in p.collect()),
        sorted(tuple(r) for r in l.collect()),
        [tuple(r) for r in s.collect()],
    )


@pytest.mark.slow
def test_full_compaction_crash_at_every_fs_op_is_recoverable(
    spark, tmp_path, monkeypatch
):
    """A full merge is one `_epoch_commit` that replaces seg_base in
    place and removes the segments it absorbed. Killed after every fs op
    of the compaction (and of its summary refresh), the invariants hold:
    (a) serve (read_bm25_index_segmented) answers the complete index at
    that instant — it resolves the commit journal, so the new seg_base is
    never counted beside its constituents; (b) a replayed epoch is
    skipped, not fatal; (c) a fresh maintain epoch applies; and (d) a
    subsequent compact converges to one segment and leaves no park or
    staged dir behind."""
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        compact_bm25_segments,
        foreach_batch_bm25_maintain_segmented,
    )

    # the pre-compaction store, built once and copied per crash point;
    # compaction preserves content, so every state must serve `want`
    template, docs, _ = _seed_segmented_bm25(spark, tmp_path / "ref")
    want = _serve_bm25(spark, template)

    crash_after = 0
    while True:
        idx = str(tmp_path / f"crash{crash_after}")
        shutil.copytree(template, idx)
        sink = foreach_batch_bm25_maintain_segmented(idx)
        with patch_crashing(monkeypatch, [crash_after]):
            try:
                compact_bm25_segments(spark, idx)
                completed = True
            except CrashNow:
                completed = False
        # (a) serve answers the complete index RIGHT NOW, before recovery
        assert _serve_bm25(spark, idx) == want, f"crash point {crash_after}"
        # (b) replay of an applied epoch is skipped, not fatal
        sink(docs([(3, "streamed data epoch zero")]), 0)
        assert _serve_bm25(spark, idx) == want, f"crash point {crash_after}"
        # (c) a fresh epoch applies cleanly
        sink(docs([(5, "post crash epoch")]), 5)
        after = _serve_bm25(spark, idx)
        assert len(after[1]) == len(want[1]) + 1
        # (d) compaction completes from this state
        compact_bm25_segments(spark, idx)
        assert _serve_bm25(spark, idx) == after
        assert not os.path.exists(f"{idx}__park")
        assert not os.path.exists(f"{idx}__staged")
        segs = sorted(d for d in os.listdir(f"{idx}/segs") if not d.startswith("_"))
        assert segs == ["seg_base"]
        if completed:
            break
        crash_after += 1
    # staged manifest, journal, begin, seg_base, manifest, two
    # constituents, summary, ledger, cleanup, summary refresh
    assert crash_after >= 12


# -------------------- r10: additive bucketed store crash windows (ADVICE r9) --


@pytest.mark.slow
def test_wagg_bucketed_crash_at_every_fs_op_is_recoverable(
    spark, tmp_path, monkeypatch
):
    """ADVICE r9 (high): the bucketed weighted-aggregate maintainer's merge
    is ADDITIVE, so the CDC twins' catch-up recovery (re-apply the epoch,
    already-updated buckets converge) double-adds here, and a bucket the
    z-set zero rule deleted re-merges into negative counts. The fixed
    protocol parks every pre-epoch bucket until the ledger commits and
    rolls back on replay. This test kills the process (simulated) after
    EVERY mutating fs op of the epoch — including mid-bucket-loop, after
    the zero-emptied bucket's park, and between the ledger install and
    cleanup — then replays, and asserts the store equals the plain
    (unbucketed, separately-oracled) sink's result exactly: no double-add,
    no negative counts, no resurrected zero-emptied bucket."""
    import s3_to_redshift_with_airflow_spark.streaming.pipeline as pl
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        bucket_expr,
        foreach_batch_weighted_agg_maintain,
        foreach_batch_weighted_agg_maintain_bucketed,
        write_bucketed_store,
    )

    n_buckets = 8
    base = spark.range(64).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        (F.col("id") * 1.0).alias("value"),
    )
    state = base.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.col("value").cast("decimal(27,6)"))
        .cast("decimal(38,6)")
        .alias("sm"),
    )

    def snap(path):
        df = spark.read.parquet(path)
        if "bucket" in df.columns:
            df = df.drop("bucket")
        return sorted((r["k"], r["cnt"], float(r["sm"])) for r in df.collect())

    # epoch-0 delta: zero-empty one whole bucket, insert a new key, update
    # an existing key in a DIFFERENT bucket — exercises all three bucket
    # fates (deleted / born / rewritten) under every crash point
    target_b = (
        spark.createDataFrame([("k3",)], "k string")
        .select(bucket_expr(["k"], n_buckets).alias("b"))
        .collect()[0]["b"]
    )
    seed_rows = state.withColumn("b", bucket_expr(["k"], n_buckets)).collect()
    doomed = [r["k"] for r in seed_rows if r["b"] == int(target_b)]
    survivor = next(r["k"] for r in seed_rows if r["b"] != int(target_b))
    delta0 = spark.createDataFrame(
        [(k, float(k[1:]), -1) for k in doomed]
        + [("new1", 99.0, 1), (survivor, 5.0, 1)],
        "k string, value double, w int",
    )
    delta1 = spark.createDataFrame(
        [("new1", 99.0, -1), ("new2", 7.0, 1)], "k string, value double, w int"
    )

    # oracle twin: the plain sink (its maintain==recompute is oracled by
    # streaming_agg_retract_maintain and hypothesis-tested)
    plain_t = str(tmp_path / "plain")
    state.write.parquet(plain_t)
    plain = foreach_batch_weighted_agg_maintain(plain_t, ["k"], "value")
    plain(delta0, 0)
    want0 = snap(plain_t)
    plain(delta1, 1)
    want1 = snap(plain_t)

    crash_after = 0
    while True:
        target = str(tmp_path / f"crash{crash_after}")
        write_bucketed_store(state, target, ["k"], n_buckets)
        sink = foreach_batch_weighted_agg_maintain_bucketed(
            target, ["k"], "value", n_buckets=n_buckets
        )
        with patch_crashing(monkeypatch, [crash_after]):
            try:
                sink(delta0, 0)
                completed = True
            except CrashNow:
                completed = False

        # at-least-once replay of the same epoch after the crash: recovery
        # must rewind (or finalize) so the replay lands on the exact state
        sink(delta0, 0)
        assert snap(target) == want0, f"crash point {crash_after}"
        assert pl._last_applied_epoch(spark, target) == 0
        # zero-emptied bucket stays gone (not resurrected by rollback)
        assert not os.path.exists(f"{target}/bucket={int(target_b)}")
        # no crash debris
        assert not os.path.exists(target + "__park")
        assert not os.path.exists(target + "__staged")
        # and the next epoch applies cleanly on top
        sink(delta1, 1)
        assert snap(target) == want1, f"crash point {crash_after}"
        if completed:
            break  # every crash point before completion has been enumerated
        crash_after += 1
    assert crash_after >= 8  # the enumeration actually covered the loop


@pytest.mark.slow
def test_wagg_bucketed_rollback_itself_is_reentrant(spark, tmp_path, monkeypatch):
    """A crash DURING recovery's rewind must leave a state the next
    recovery completes from: crash the epoch mid-bucket-loop, then crash
    the rollback at every one of ITS fs ops, then replay cleanly."""
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_weighted_agg_maintain,
        foreach_batch_weighted_agg_maintain_bucketed,
        write_bucketed_store,
    )

    state = spark.range(64).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        F.lit(1).cast("bigint").alias("cnt"),
        F.col("id").cast("decimal(38,6)").alias("sm"),
    )
    delta = spark.createDataFrame(
        [(f"k{i}", float(i), -1) for i in range(0, 64, 2)] + [("nw", 3.0, 1)],
        "k string, value double, w int",
    )
    plain_t = str(tmp_path / "plain")
    state.write.parquet(plain_t)
    foreach_batch_weighted_agg_maintain(plain_t, ["k"], "value")(delta, 0)
    want = sorted(
        (r["k"], r["cnt"], float(r["sm"]))
        for r in spark.read.parquet(plain_t).collect()
    )

    for rollback_crash in range(0, 12):
        target = str(tmp_path / f"rb{rollback_crash}")
        write_bucketed_store(state, target, ["k"], 8)
        sink = foreach_batch_weighted_agg_maintain_bucketed(
            target, ["k"], "value", n_buckets=8
        )
        # first crash: mid-mutation (after the journal + a few bucket moves)
        with patch_crashing(monkeypatch, [5]):
            try:
                sink(delta, 0)
            except CrashNow:
                pass
        # second crash: during the replay's ROLLBACK
        with patch_crashing(monkeypatch, [rollback_crash]):
            try:
                sink(delta, 0)
                second_completed = True
            except CrashNow:
                second_completed = False
        # clean replay converges regardless of where the rollback died
        sink(delta, 0)
        got = sorted(
            (r["k"], r["cnt"], float(r["sm"]))
            for r in spark.read.parquet(target).drop("bucket").collect()
        )
        assert got == want, f"rollback crash point {rollback_crash}"
        if second_completed:
            break


@pytest.mark.slow
def test_dedup_gate_crash_at_every_fs_op_is_recoverable(
    spark, tmp_path, monkeypatch
):
    """The dedup gate's epoch — its segment and the fingerprint buckets
    the accepted rows land in, committed by one `_epoch_commit` — killed
    after EVERY mutating fs op, then replayed: corpus and fingerprint
    store equal a crash-free run's, the ledger reads the epoch, no park
    or staged dir is left, and the next epoch (a dup of the crashed
    epoch's doc plus a new one) gates against the folded store."""
    import s3_to_redshift_with_airflow_spark.streaming.pipeline as pl
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_dedup_gate,
        read_dedup_gate_corpus,
    )

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    e0 = docs([(1, "alpha beta"), (2, "Alpha  Beta"), (3, "gamma")])
    e1 = docs([(10, "GAMMA"), (11, "delta text"), (12, "eps"), (13, "delta  text")])
    e2 = docs([(20, "Eps"), (21, "zeta")])

    def corpus(store):
        return sorted(
            r["doc_id"] for r in read_dedup_gate_corpus(spark, store).collect()
        )

    def fps(store):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(f"{store}/fps").drop("bucket").collect()
        )

    ref = str(tmp_path / "ref")
    ref_sink = foreach_batch_dedup_gate(ref, n_buckets=4)
    ref_sink(e0, 0)
    ref_sink(e1, 1)
    want_corpus, want_fps = corpus(ref), fps(ref)
    ref_sink(e2, 2)
    want_next = corpus(ref)
    assert want_corpus == [1, 3, 11, 12] and want_next == [1, 3, 11, 12, 21]

    crash_after, outcomes = 0, set()
    while True:
        store = str(tmp_path / f"gate{crash_after}")
        sink = foreach_batch_dedup_gate(store, n_buckets=4)
        sink(e0, 0)
        with patch_crashing(monkeypatch, [crash_after]):
            try:
                sink(e1, 1)
                completed = True
            except CrashNow:
                completed = False
        outcomes.add(pl._last_applied_epoch(spark, store) == 1)
        sink(e1, 1)  # at-least-once replay
        assert corpus(store) == want_corpus, f"crash point {crash_after}"
        assert fps(store) == want_fps, f"crash point {crash_after}"
        assert pl._last_applied_epoch(spark, store) == 1
        assert not os.path.exists(store + "__park")
        assert not os.path.exists(store + "__staged")
        sink(e2, 2)
        assert corpus(store) == want_next, f"crash point {crash_after}"
        if completed:
            break
        crash_after += 1
    assert outcomes == {False, True}  # crashes before and after the ledger
    assert crash_after >= 9  # journal, begin, >= 2 units, ledger, cleanup


@pytest.mark.slow
def test_neardup_gate_crash_at_every_fs_op_is_recoverable(
    spark, tmp_path, monkeypatch
):
    """The near-dup gate's epoch — its decision segment and the touched
    `bands/` and `sh/` buckets, committed by one `_epoch_commit` — killed
    after EVERY mutating fs op, then replayed: the corpus and both
    bucketed stores equal a crash-free run's, the ledger reads the
    epoch, no park or staged dir is left, and the next epoch (a near-dup
    of the crashed epoch's doc plus a new one) gates against the folded
    stores."""
    import s3_to_redshift_with_airflow_spark.streaming.pipeline as pl
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_neardup_gate,
        read_neardup_gate_corpus,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    e0 = docs([(1, base), (2, "totally different content here entirely")])
    e1 = docs([(3, base + " extra"), (4, "another unrelated document text")])
    e2 = docs([(5, base + " extra more"), (6, "one more fresh document here")])

    def gate(store):
        return foreach_batch_neardup_gate(store, threshold=0.5, n_buckets=4)

    def corpus(store):
        return sorted(
            r["doc_id"] for r in read_neardup_gate_corpus(spark, store).collect()
        )

    def state(store):
        return [
            sorted(
                tuple(tuple(v) if isinstance(v, list) else v for v in r)
                for r in spark.read.parquet(f"{store}/{name}")
                .drop("bucket")
                .collect()
            )
            for name in ("bands", "sh")
        ]

    ref = str(tmp_path / "ref")
    gate(ref)(e0, 0)
    seeded = str(tmp_path / "seeded")
    shutil.copytree(ref, seeded)
    gate(ref)(e1, 1)
    want_corpus, want_state = corpus(ref), state(ref)
    gate(ref)(e2, 2)
    want_next = corpus(ref)
    assert want_corpus == [1, 2, 4] and want_next == [1, 2, 4, 6]

    crash_after, outcomes = 0, set()
    while True:
        store = str(tmp_path / f"nd{crash_after}")
        shutil.copytree(seeded, store)
        sink = gate(store)
        with patch_crashing(monkeypatch, [crash_after]):
            try:
                sink(e1, 1)
                completed = True
            except CrashNow:
                completed = False
        outcomes.add(pl._last_applied_epoch(spark, store) == 1)
        sink(e1, 1)  # at-least-once replay
        assert corpus(store) == want_corpus, f"crash point {crash_after}"
        assert state(store) == want_state, f"crash point {crash_after}"
        assert pl._last_applied_epoch(spark, store) == 1
        assert not os.path.exists(store + "__park")
        assert not os.path.exists(store + "__staged")
        sink(e2, 2)
        assert corpus(store) == want_next, f"crash point {crash_after}"
        if completed:
            break
        crash_after += 1
    assert outcomes == {False, True}  # crashes before and after the ledger
    assert crash_after >= 10  # journal, begin, >= 3 units, ledger, cleanup
