"""The maintained join RELATION under retractions (VERDICT r10 next #2):
`merge_weighted_relation` / `served_relation` algebra, the epoch-append
bucketed (row, weight) store and its streaming consumer
`foreach_batch_join_relation_retract_maintain`, compaction physically
cancelling +1/-1 churn, time-travel reads, snapshot-read safety during a
mid-install crash, and the crash-at-every-fs-op enumerations of the
epoch commit's append and compaction shapes.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from s3_to_redshift_with_airflow_spark.operators.relational import (
    merge_weighted_relation,
    served_relation,
    weighted_join_delta,
)
from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
    _last_applied_epoch,
    compact_weighted_relation_store,
    foreach_batch_join_relation_retract_maintain,
    read_weighted_relation_store,
    seed_weighted_relation_store,
)
from tests.crashfs import CrashNow, patch_crashing

N_BUCKETS = 8


def _rel(spark, rows):
    return spark.createDataFrame(rows, "k bigint, txt string, w bigint")


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


# ---------- algebra ----------


def test_merge_weighted_relation_nets_and_drops_zero(spark):
    state = _rel(spark, [(1, "a", 2), (2, "b", 1), (3, "c", 1)])
    delta = _rel(spark, [(1, "a", 1), (2, "b", -1), (3, "c", 0)])
    got = _sorted(merge_weighted_relation(state, delta))
    # k=1 multiplicity 2+1=3; k=2 cancelled to zero (gone); k=3 1+0=1
    assert got == [(1, "a", 3), (3, "c", 1)]


def test_merge_keeps_negative_for_cancellation_serve_hides_it(spark):
    # a retraction arriving BEFORE its insert (reordered changelog):
    # the store must keep the -1 so the later +1 nets to zero
    state = _rel(spark, [(1, "a", 1)])
    early_retract = _rel(spark, [(2, "b", -1)])
    store = merge_weighted_relation(state, early_retract)
    assert _sorted(store) == [(1, "a", 1), (2, "b", -1)]
    assert _sorted(served_relation(store)) == [(1, "a", 1)]
    late_insert = _rel(spark, [(2, "b", 1)])
    assert _sorted(merge_weighted_relation(store, late_insert)) == [(1, "a", 1)]


# ---------- the store + streaming consumer ----------


def _dim(spark):
    return spark.range(4).select(
        F.col("id").alias("d_k"),
        F.concat(F.lit("seg"), (F.col("id") % 2).cast("string")).alias("seg"),
    )


def _fact(spark, rows):
    # (fact key, payload, weight)
    return spark.createDataFrame(rows, "f_k bigint, pay bigint, w int")


def _epochs(spark):
    """insert / DELETE / insert, with within-epoch duplicates (bag
    multiplicity > 1) and a full insert->retract cancellation pair."""
    return [
        _fact(
            spark,
            [(0, 10, 1), (0, 10, 1), (1, 11, 1), (2, 12, 1), (3, 13, 1)],
        ),
        _fact(spark, [(0, 10, -1), (2, 12, -1)]),
        _fact(spark, [(2, 12, 1), (2, 99, 1)]),
    ]


def _expected_relation(spark, epochs, upto):
    dim = _dim(spark)
    out = None
    for e in epochs[: upto + 1]:
        j = e.join(F.broadcast(dim), e["f_k"] == dim["d_k"]).drop("d_k")
        out = j if out is None else out.unionByName(j)
    if out is None:
        return []
    net = (
        out.groupBy("f_k", "pay", "seg")
        .agg(F.sum("w").cast("bigint").alias("w"))
        .filter(F.col("w") > 0)
    )
    return _sorted(net.select("f_k", "pay", "seg", "w"))


def _serve(spark, target, as_of=None):
    df = read_weighted_relation_store(spark, target, as_of_epoch=as_of)
    return _sorted(df.select("f_k", "pay", "seg", "w"))


def _build(spark, tmp_path, name="store", seed_rows=()):
    target = str(tmp_path / name)
    dim_path = str(tmp_path / f"{name}_dim")
    _dim(spark).write.mode("overwrite").parquet(dim_path)
    seed = _rel(spark, list(seed_rows)).select(
        F.col("k").alias("f_k"),
        F.col("w").alias("pay"),
        F.col("txt").alias("seg"),
        F.lit(1).cast("bigint").alias("w"),
    )
    # seed empty-but-typed: epoch tests start from a blank relation
    seed = seed.filter(F.lit(False)) if not seed_rows else seed
    seed_weighted_relation_store(seed, target, ["f_k"], N_BUCKETS)
    sink = foreach_batch_join_relation_retract_maintain(
        target,
        dim_path,
        fact_key="f_k",
        dim_key="d_k",
        dim_cols=["seg"],
        bucket_keys=["f_k"],
        n_buckets=N_BUCKETS,
    )
    return target, sink


def test_maintain_equals_recompute_with_interleaved_deletes(spark, tmp_path):
    target, sink = _build(spark, tmp_path)
    epochs = _epochs(spark)
    for i, e in enumerate(epochs):
        sink(e, i)
    assert _serve(spark, target) == _expected_relation(spark, epochs, 2)
    # multiplicity survives: f_k=0 inserted twice, retracted once -> w=1
    got = dict(
        ((r[0], r[1]), r[3])
        for r in _serve(spark, target)
    )
    assert got[(0, 10)] == 1
    # f_k=2/pay=12 inserted, retracted, re-inserted -> w=1 (and 99 new)
    assert got[(2, 12)] == 1 and got[(2, 99)] == 1


def test_replay_of_applied_epoch_is_skipped(spark, tmp_path):
    target, sink = _build(spark, tmp_path)
    epochs = _epochs(spark)
    sink(epochs[0], 0)
    want = _serve(spark, target)
    sink(epochs[0], 0)  # at-least-once redelivery
    assert _serve(spark, target) == want
    assert _last_applied_epoch(spark, target) == 0


def _physical_rows(spark, target):
    """Raw stored rows across every epoch subdir — the churn compaction
    is supposed to cancel (read WITHOUT netting). 0 when every bucket is
    gone (only the hidden _ledger/_schema sidecars remain)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(target).count()
    except AnalysisException as e:
        if "UNABLE_TO_INFER_SCHEMA" in str(e):
            return 0
        raise


@pytest.mark.slow
def test_compaction_physically_cancels_churn(spark, tmp_path):
    target, sink = _build(spark, tmp_path)
    epochs = _epochs(spark)
    for i, e in enumerate(epochs):
        sink(e, i)
    served_before = _serve(spark, target)
    raw_before = _physical_rows(spark, target)
    live_rows = len(served_before)
    assert raw_before > live_rows  # churn is physically present pre-compaction
    compact_weighted_relation_store(spark, target)
    assert _serve(spark, target) == served_before  # serving unchanged
    assert _physical_rows(spark, target) == live_rows  # +1/-1 pairs GONE
    # no crash debris, ledger intact
    assert not os.path.exists(target + "__park")
    assert not os.path.exists(target + "__staged")
    assert _last_applied_epoch(spark, target) == 2
    # and the stream continues cleanly on the compacted store
    extra = _fact(spark, [(3, 13, -1)])
    sink(extra, 3)
    assert _serve(spark, target) == _expected_relation(
        spark, epochs + [extra], 3
    )


def test_compaction_drops_fully_cancelled_bucket(spark, tmp_path):
    target, sink = _build(spark, tmp_path)
    # one key inserted then fully retracted: its bucket must be ABSENT
    # after compaction, not an empty shell of +1/-1 files
    sink(_fact(spark, [(1, 11, 1)]), 0)
    sink(_fact(spark, [(1, 11, -1)]), 1)
    assert _serve(spark, target) == []
    assert _physical_rows(spark, target) == 2  # the churn pair, physically
    compact_weighted_relation_store(spark, target)
    assert _physical_rows(spark, target) == 0
    assert glob.glob(f"{target}/bucket=*") == []
    assert _serve(spark, target) == []


# ---------- time travel ----------


@pytest.mark.slow
def test_read_at_equals_batch_build_over_prefix(spark, tmp_path):
    target, sink = _build(spark, tmp_path)
    epochs = _epochs(spark)
    for i, e in enumerate(epochs):
        sink(e, i)
    for upto in range(3):
        assert _serve(spark, target, as_of=upto) == _expected_relation(
            spark, epochs, upto
        ), f"as-of epoch {upto}"
    # pre-stream snapshot: the (empty) seed
    assert _serve(spark, target, as_of=-1) == []


@pytest.mark.slow
def test_read_at_respects_compaction_horizon(spark, tmp_path):
    target, sink = _build(spark, tmp_path)
    epochs = _epochs(spark)
    sink(epochs[0], 0)
    sink(epochs[1], 1)
    compact_weighted_relation_store(spark, target)  # horizon = ledger = 1
    sink(epochs[2], 2)
    # at/above the horizon: still exact
    assert _serve(spark, target, as_of=1) == _expected_relation(spark, epochs, 1)
    assert _serve(spark, target, as_of=2) == _expected_relation(spark, epochs, 2)
    # below the horizon: folded away — refuse rather than serve wrong data
    with pytest.raises(ValueError, match="compaction horizon"):
        _serve(spark, target, as_of=0)


def test_relation_diff_is_snapshot_difference(spark, tmp_path):
    """diff(e0, e1) == as_of(e1) − as_of(e0) as z-sets, including
    NEGATIVE weights for departed rows, and the DBSP composition
    identity merge(read_at(e0), diff(e0, e1)) == read_at(e1)."""
    from s3_to_redshift_with_airflow_spark.operators.relational import (
        merge_weighted_relation,
        served_relation,
    )
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        read_weighted_relation_diff,
    )

    target, sink = _build(spark, tmp_path)
    epochs = _epochs(spark)
    for i, e in enumerate(epochs):
        sink(e, i)
    diff = read_weighted_relation_diff(spark, target, 0, 2).select(
        "f_k", "pay", "seg", "w"
    )
    # semantic check: snapshot difference computed independently
    s0 = dict(((r[0], r[1], r[2]), r[3]) for r in _serve(spark, target, as_of=0))
    s2 = dict(((r[0], r[1], r[2]), r[3]) for r in _serve(spark, target, as_of=2))
    want = {
        k: s2.get(k, 0) - s0.get(k, 0)
        for k in set(s0) | set(s2)
        if s2.get(k, 0) != s0.get(k, 0)
    }
    got = dict(((r[0], r[1], r[2]), r[3]) for r in diff.collect())
    assert got == want
    # the delete epoch shows up as a NEGATIVE weight
    assert any(w < 0 for w in got.values())
    # composition identity: applying the diff to the e0 snapshot serves e2
    base = read_weighted_relation_store(spark, target, as_of_epoch=0).select(
        "f_k", "pay", "seg", "w"
    )
    composed = served_relation(merge_weighted_relation(base, diff))
    assert _sorted(composed.select("f_k", "pay", "seg", "w")) == _serve(
        spark, target, as_of=2
    )
    # empty range and backwards range
    assert read_weighted_relation_diff(spark, target, 2, 2).count() == 0
    with pytest.raises(ValueError, match="backwards"):
        read_weighted_relation_diff(spark, target, 2, 0)


@pytest.mark.slow
def test_keyed_serve_equals_filtered_full_serve(spark, tmp_path):
    """Point lookup == whole-store serve filtered to the keys, at the
    live snapshot AND as-of a past epoch; keys that never landed produce
    an empty (not erroring) result."""
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        read_weighted_relation_store_keyed,
    )

    target, sink = _build(spark, tmp_path)
    epochs = _epochs(spark)
    for i, e in enumerate(epochs):
        sink(e, i)
    wanted = spark.createDataFrame([(0,), (2,)], "f_k bigint")
    got = _sorted(
        read_weighted_relation_store_keyed(spark, target, wanted).select(
            "f_k", "pay", "seg", "w"
        )
    )
    want = [r for r in _serve(spark, target) if r[0] in (0, 2)]
    assert got == want and got  # non-trivial lookup
    # as-of compose: keyed serve at epoch 0 == filtered snapshot at 0
    got0 = _sorted(
        read_weighted_relation_store_keyed(
            spark, target, wanted, as_of_epoch=0
        ).select("f_k", "pay", "seg", "w")
    )
    assert got0 == [r for r in _serve(spark, target, as_of=0) if r[0] in (0, 2)]
    # a key that never landed: empty, typed, no error
    ghost = spark.createDataFrame([(99_999,)], "f_k bigint")
    assert (
        read_weighted_relation_store_keyed(spark, target, ghost).count() == 0
    )


def test_relation_diff_respects_compaction_horizon(spark, tmp_path):
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        read_weighted_relation_diff,
    )

    target, sink = _build(spark, tmp_path)
    epochs = _epochs(spark)
    sink(epochs[0], 0)
    sink(epochs[1], 1)
    compact_weighted_relation_store(spark, target)  # horizon = 1
    sink(epochs[2], 2)
    # from >= horizon: exact (epoch-2 subdirs are intact)
    got = _sorted(
        read_weighted_relation_diff(spark, target, 1, 2).select(
            "f_k", "pay", "seg", "w"
        )
    )
    assert got == [(2, 12, "seg0", 1), (2, 99, "seg0", 1)]
    # from below the horizon: the folded pile cannot be split
    with pytest.raises(ValueError, match="compaction horizon"):
        read_weighted_relation_diff(spark, target, 0, 2)


# ---------- batch operator composition (weighted_join_delta -> store) ----


def test_weighted_join_delta_merges_into_relation_store(spark):
    """The composition `weighted_join_delta`'s docstring names: its view
    changelog merged into a weighted ROW store equals the bag recompute
    of the join over the surviving inputs."""
    a_old = spark.createDataFrame(
        [(1, 100), (2, 200), (3, 300)], "a_k bigint, pay bigint"
    )
    da = spark.createDataFrame(
        [(4, 400, 1), (2, 200, -1)], "a_k bigint, pay bigint, w int"
    )
    b_old = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "x"), (4, "y")], "b_k bigint, seg string"
    )
    db = spark.createDataFrame([(3, "x", -1)], "b_k bigint, seg string, w int")
    state = (
        a_old.join(b_old, a_old["a_k"] == b_old["b_k"])
        .drop("b_k")
        .groupBy("a_k", "pay", "seg")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    dv = weighted_join_delta(a_old, da, b_old, db, "a_k", "b_k")
    got = _sorted(
        served_relation(merge_weighted_relation(state, dv)).select(
            "a_k", "pay", "seg", "w"
        )
    )
    # survivors: a={1,3,4} (2 retracted), b={1,2,4} (3 retracted)
    # join on key equality -> rows for keys 1 and 4
    assert got == [(1, 100, "x", 1), (4, 400, "y", 1)]


# ---------- crash safety ----------


@pytest.mark.slow
def test_relation_append_crash_at_every_fs_op_is_recoverable(
    spark, tmp_path, monkeypatch
):
    """Appends are additive (a replayed epoch would double its rows), so
    the epoch commit must rewind every half-installed epoch: kill the
    sink after EVERY mutating fs op — including between the journal
    rename and the first subdir move, mid-subdir-loop, on a
    bucket born this epoch, and between the ledger install and cleanup —
    then replay, and assert the served relation equals the crash-free
    run exactly (no doubled rows, no orphaned subdirs, no debris)."""
    epochs = _epochs(spark)
    ref_target, ref_sink = _build(spark, tmp_path, name="ref")
    ref_sink(epochs[0], 0)
    want0 = _serve(spark, ref_target)
    ref_sink(epochs[1], 1)
    want1 = _serve(spark, ref_target)

    crash_after = 0
    while True:
        target, sink = _build(spark, tmp_path, name=f"crash{crash_after}")
        with patch_crashing(monkeypatch, [crash_after]):
            try:
                sink(epochs[0], 0)
                completed = True
            except CrashNow:
                completed = False

        # SNAPSHOT-READ SAFETY: before any recovery runs, a reader must
        # see exactly the pre-epoch committed state or the post-epoch
        # one — never a torn epoch (the ledger cap hides half installs)
        pre_recovery = _serve(spark, target)
        assert pre_recovery in ([], want0), f"torn read at crash {crash_after}"

        sink(epochs[0], 0)  # at-least-once replay; recovery runs inside
        assert _serve(spark, target) == want0, f"crash point {crash_after}"
        assert _last_applied_epoch(spark, target) == 0
        assert not os.path.exists(target + "__park")
        assert not os.path.exists(target + "__staged")
        sink(epochs[1], 1)
        assert _serve(spark, target) == want1, f"crash point {crash_after}"
        if completed:
            break
        crash_after += 1
    assert crash_after >= 6  # enumeration actually covered the loop


@pytest.mark.slow
def test_relation_compaction_crash_at_every_fs_op_is_recoverable(
    spark, tmp_path, monkeypatch
):
    """A compaction crashed before its `_compacted` marker installs is
    rewound, after it is finalized — and a half-rewound store still
    serves the same relation (netting is content-preserving per bucket).
    Crash compaction
    at every mutating fs op, serve (content must be unchanged), re-run
    compaction to completion, and assert the churn is then gone."""
    epochs = _epochs(spark)
    crash_after = 0
    while True:
        target, sink = _build(spark, tmp_path, name=f"cc{crash_after}")
        for i, e in enumerate(epochs):
            sink(e, i)
        want = _serve(spark, target)
        live_rows = len(want)
        with patch_crashing(monkeypatch, [crash_after]):
            try:
                compact_weighted_relation_store(spark, target)
                completed = True
            except CrashNow:
                completed = False

        compact_weighted_relation_store(spark, target)  # recovery + redo
        assert _serve(spark, target) == want, f"crash point {crash_after}"
        assert _physical_rows(spark, target) == live_rows
        assert not os.path.exists(target + "__park")
        assert not os.path.exists(target + "__staged")
        if completed:
            break
        crash_after += 1
    assert crash_after >= 4


@pytest.mark.slow
def test_relation_rollback_itself_is_reentrant(spark, tmp_path, monkeypatch):
    """A crash DURING the rewind must leave a state the next recovery
    completes from: crash the epoch mid-subdir-loop, then crash the
    rollback at every one of ITS fs ops, then replay cleanly."""
    import s3_to_redshift_with_airflow_spark.streaming.pipeline as pl

    epochs = _epochs(spark)
    for rb_crash in range(0, 8):
        target, sink = _build(spark, tmp_path, name=f"rb{rb_crash}")
        sink(epochs[0], 0)
        want = _serve(spark, target)
        # crash epoch 1 mid-mutation (after journal + some subdir moves)
        with patch_crashing(monkeypatch, [4]):
            try:
                sink(epochs[1], 1)
                raise AssertionError("expected the staged crash")
            except CrashNow:
                pass
        # crash the ROLLBACK at fs-op rb_crash
        with patch_crashing(monkeypatch, [rb_crash]):
            try:
                pl._epoch_recover(spark, target)
            except CrashNow:
                pass
        assert _serve(spark, target) == want  # still the committed snapshot
        sink(epochs[1], 1)  # replay: recovery completes, epoch applies once
        ref_t, ref_s = _build(spark, tmp_path, name=f"rbref{rb_crash}")
        ref_s(epochs[0], 0)
        ref_s(epochs[1], 1)
        assert _serve(spark, target) == _serve(spark, ref_t)
