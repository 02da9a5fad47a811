"""Epoch-replay idempotency for the four stored-artifact foreachBatch
consumers (CDC-SCD2, KMV, MG, value histogram).

foreachBatch delivery is AT-LEAST-ONCE: a crash between sink completion
and the streaming checkpoint commit re-delivers the same epoch_id on
restart. Each sink must leave its store BIT-UNCHANGED when called a
second time with an epoch it already applied — for the additive merges
(MG counters, histogram bucket counts) this is only true because of the
epoch ledger (`streaming/pipeline._write_then_swap` +
`_last_applied_epoch`); for KMV and CDC-SCD2 the merge itself is also
naturally idempotent and the ledger makes it structural.

Each test drives the raw sink callable directly — (batch_df, epoch_id)
is foreachBatch's exact contract — so the replay is an epoch re-delivery
against a WARM store, not a whole-run replay from scratch.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
    _last_applied_epoch,
    foreach_batch_cdc_scd2,
    foreach_batch_histogram_maintain,
    foreach_batch_kmv_maintain,
    foreach_batch_mg_maintain,
)


def _snap(spark, target):
    return sorted(
        tuple(x if not isinstance(x, list) else tuple(x) for x in r)
        for r in spark.read.parquet(target).collect()
    )


def test_kmv_sink_same_epoch_twice(spark, tmp_path):
    target = str(tmp_path / "sketch")
    spark.createDataFrame(
        [], "g string, hs array<bigint>, n_kept bigint"
    ).write.parquet(target)
    b0 = spark.createDataFrame(
        [("a", i) for i in range(40)] + [("b", i) for i in range(10)],
        "g string, key long",
    )
    b1 = spark.createDataFrame(
        [("a", i) for i in range(30, 70)], "g string, key long"
    )
    sink = foreach_batch_kmv_maintain(target, key_col="key", group_col="g", k=16)
    sink(b0, 0)
    after0 = _snap(spark, target)
    assert _last_applied_epoch(spark, target) == 0
    sink(b0, 0)  # replayed epoch: store must not move
    assert _snap(spark, target) == after0
    sink(b1, 1)  # a NEW epoch still applies through the gate
    after1 = _snap(spark, target)
    assert after1 != after0
    assert _last_applied_epoch(spark, target) == 1
    sink(b1, 1)
    assert _snap(spark, target) == after1


def test_mg_sink_same_epoch_twice_preserves_underestimate(spark, tmp_path):
    """The load-bearing case: MG merge ADDS counters, so without the
    ledger a replayed epoch pushes counters above true frequencies,
    breaking the underestimate-only guarantee."""
    target = str(tmp_path / "summary")
    spark.createDataFrame([], "key bigint, counter bigint").write.parquet(target)
    b0 = spark.range(1000).select((F.col("id") % 5).alias("key"))
    b1 = spark.range(500).select((F.col("id") % 3).alias("key"))
    sink = foreach_batch_mg_maintain(target, key_col="key", k=4)
    sink(b0, 0)
    after0 = _snap(spark, target)
    sink(b0, 0)  # the double-count replay the r6 verdict flagged
    assert _snap(spark, target) == after0
    # underestimate-only survives the replay: every counter <= true count
    exact = {k: 200 for k in range(5)}
    for key, counter in spark.read.parquet(target).collect():
        assert counter <= exact[key]
    sink(b1, 1)
    after1 = _snap(spark, target)
    assert after1 != after0
    sink(b1, 1)
    assert _snap(spark, target) == after1


def test_histogram_sink_same_epoch_twice_stays_batch_equal(spark, tmp_path):
    """Histogram merge is pure addition — the bit-identical-to-batch
    claim only holds under replay because the ledger skips re-delivered
    epochs."""
    from s3_to_redshift_with_airflow_spark.operators.sketches import (
        value_histogram,
    )

    target = str(tmp_path / "hist")
    spark.createDataFrame(
        [], "day date, bucket bigint, n bigint"
    ).write.parquet(target)
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.lit("2024-01-01").cast("timestamp").alias("ts"),
        (F.col("id") % 64).cast("double").alias("value"),
    )
    b0, b1 = mk(0, 1000), mk(1000, 1500)
    sink = foreach_batch_histogram_maintain(target, width=8.0)
    sink(b0, 0)
    after0 = _snap(spark, target)
    sink(b0, 0)
    assert _snap(spark, target) == after0
    sink(b1, 1)
    sink(b1, 1)  # replay of the second epoch too
    got = _snap(spark, target)
    want = sorted(
        tuple(r)
        for r in value_histogram(
            b0.unionByName(b1), "value", None, "ts", 8.0
        ).collect()
    )
    assert got == want  # == a batch build despite two replays


def test_cdc_scd2_sink_same_epoch_twice(spark, tmp_path):
    target = str(tmp_path / "dim")
    spark.createDataFrame(
        [(1, 1.0, "2024-01-01", None)],
        "user_id long, v double, valid_from string, valid_to string",
    ).select(
        "user_id",
        "v",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
    ).write.parquet(target)
    ops = spark.createDataFrame(
        [(1, "2024-01-10 01:00:00", 1, 2.0, "U")],
        "user_id long, ts string, event_id long, v double, op string",
    ).select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        "v",
        "op",
    )
    sink = foreach_batch_cdc_scd2(
        target,
        keys=["user_id"],
        attrs=["v"],
        order_cols=["ts", "event_id"],
        effective_for=lambda e: f"2024-06-{e + 1:02d}",
    )
    sink(ops, 0)
    after0 = _snap(spark, target)
    assert len(after0) == 2  # closed v=1.0 + open v=2.0
    sink(ops, 0)
    assert _snap(spark, target) == after0


def test_cdc_scd2_event_time_effective_timestamps(spark, tmp_path):
    """event_time_col derives each epoch's effective timestamp from the
    batch's own max event time, so version boundaries carry real validity
    intervals — deterministic (same rows => same max) and replay-gated."""
    target = str(tmp_path / "dim")
    spark.createDataFrame(
        [(1, 1.0, "2024-01-01 00:00:00", None)],
        "user_id long, v double, valid_from string, valid_to string",
    ).select(
        "user_id",
        "v",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
    ).write.parquet(target)

    def ops(rows):
        return spark.createDataFrame(
            rows, "user_id long, ts string, event_id long, v double, op string"
        ).select(
            "user_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "event_id",
            "v",
            "op",
        )

    sink = foreach_batch_cdc_scd2(
        target,
        keys=["user_id"],
        attrs=["v"],
        order_cols=["ts", "event_id"],
        event_time_col="ts",
    )
    # epoch 0: two ops, max ts = 2024-01-10 02:00:00
    b0 = ops(
        [
            (1, "2024-01-10 01:00:00", 1, 1.5, "U"),
            (1, "2024-01-10 02:00:00", 2, 2.0, "U"),
        ]
    )
    # epoch 1: max ts = 2024-02-05 09:00:00
    b1 = ops([(1, "2024-02-05 09:00:00", 3, 3.0, "U")])
    sink(b0, 0)
    sink(b0, 0)  # replay: gated by the ledger
    sink(b1, 1)
    rows = {
        (r["v"], str(r["valid_from"])): str(r["valid_to"])
        for r in spark.read.parquet(target).collect()
    }
    # boundaries == per-epoch max event times
    assert rows == {
        (1.0, "2024-01-01 00:00:00"): "2024-01-10 02:00:00",
        (2.0, "2024-01-10 02:00:00"): "2024-02-05 09:00:00",
        (3.0, "2024-02-05 09:00:00"): "None",
    }
    # an EMPTY epoch is a no-op and does not advance the ledger
    empty = ops([]).limit(0)
    before = _snap(spark, target)
    sink(empty, 2)
    assert _snap(spark, target) == before
    assert _last_applied_epoch(spark, target) == 1


def test_cdc_scd2_rejects_both_effective_sources(spark):
    with pytest.raises(ValueError, match="not both"):
        foreach_batch_cdc_scd2(
            "/tmp/x",
            keys=["k"],
            attrs=["v"],
            order_cols=["ts"],
            effective_for=lambda e: "2024-01-01",
            event_time_col="ts",
        )


def test_weighted_agg_maintain_replay_and_zero_rule(spark, tmp_path):
    """The eighth consumer's ledger is LOAD-BEARING: weighted merges are
    additive, so a replayed epoch must be skipped before any merge; and
    a fully retracted group disappears from the stored view."""
    from pyspark.sql import functions as F

    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        _last_applied_epoch,
        foreach_batch_weighted_agg_maintain,
    )

    target = str(tmp_path / "state")
    base = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 5.0)], "k string, value double"
    )
    (
        base.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(F.col("value").cast("decimal(27,6)"))
            .cast("decimal(38,6)")
            .alias("sm"),
        )
        .write.parquet(target)
    )
    sink = foreach_batch_weighted_agg_maintain(target, ["k"], "value")
    delta = spark.createDataFrame(
        [("a", 10.0, 1), ("b", 5.0, -1)], "k string, value double, w int"
    )
    sink(delta, 0)

    def snap():
        return {
            r["k"]: (r["cnt"], float(r["sm"]))
            for r in spark.read.parquet(target).collect()
        }

    after0 = snap()
    assert after0 == {"a": (3, 13.0)}  # b fully retracted -> gone
    assert _last_applied_epoch(spark, target) == 0
    sink(delta, 0)  # at-least-once replay: must NOT double-add
    assert snap() == after0
    sink(spark.createDataFrame([("a", 3.0, -1)], "k string, value double, w int"), 1)
    assert snap() == {"a": (2, 10.0)}


def test_weighted_agg_maintain_empty_epoch_is_noop(spark, tmp_path):
    from pyspark.sql import functions as F

    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        _last_applied_epoch,
        foreach_batch_weighted_agg_maintain,
    )

    target = str(tmp_path / "state")
    spark.createDataFrame([("a", 1.0)], "k string, value double").groupBy(
        "k"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.col("value").cast("decimal(27,6)"))
        .cast("decimal(38,6)")
        .alias("sm"),
    ).write.parquet(target)
    sink = foreach_batch_weighted_agg_maintain(target, ["k"], "value")
    before = sorted(tuple(r) for r in spark.read.parquet(target).collect())
    sink(
        spark.createDataFrame([], "k string, value double, w int").limit(0), 0
    )
    assert sorted(tuple(r) for r in spark.read.parquet(target).collect()) == before
    assert _last_applied_epoch(spark, target) == -1  # ledger not advanced


def test_weighted_agg_bucketed_matches_plain_and_zeroed_bucket_disappears(
    spark, tmp_path
):
    """The bucketed z-set maintainer: row-identical to the plain sink,
    untouched buckets' files byte-identical (bounded rewrite), and a
    bucket emptied by the zero-weight rule is DELETED, not left stale —
    the subtlety the CDC/upsert bucketed twins never face."""
    import os

    from pyspark.sql import functions as F

    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        _last_applied_epoch,
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
    plain_t, buck_t = str(tmp_path / "plain"), str(tmp_path / "buck")
    state.write.parquet(plain_t)
    write_bucketed_store(state, buck_t, ["k"], n_buckets)

    def snap(path):
        df = spark.read.parquet(path)
        if "bucket" in df.columns:
            df = df.drop("bucket")
        return sorted((r["k"], r["cnt"], float(r["sm"])) for r in df.collect())

    # the delta retracts EVERY key of one bucket entirely + inserts a new key
    target_b = spark.createDataFrame([("k3",)], "k string").select(
        bucket_expr(["k"], n_buckets).alias("b")
    ).collect()[0]["b"]
    doomed = [
        r["k"]
        for r in spark.read.parquet(buck_t)
        .filter(F.col("bucket") == int(target_b))
        .select("k")
        .collect()
    ]
    delta = spark.createDataFrame(
        [(k, float(k[1:]), -1) for k in doomed] + [("new1", 99.0, 1)],
        "k string, value double, w int",
    )
    plain = foreach_batch_weighted_agg_maintain(plain_t, ["k"], "value")
    bucketed = foreach_batch_weighted_agg_maintain_bucketed(
        buck_t, ["k"], "value", n_buckets=n_buckets
    )
    files_before = {
        d: frozenset(os.listdir(os.path.join(buck_t, d)))
        for d in os.listdir(buck_t)
        if d.startswith("bucket=")
    }
    plain(delta, 0)
    bucketed(delta, 0)
    assert snap(plain_t) == snap(buck_t)
    assert not os.path.exists(f"{buck_t}/bucket={int(target_b)}")  # zeroed: GONE
    touched = {
        f"bucket={r['b']}"
        for r in delta.select(bucket_expr(["k"], n_buckets).alias("b"))
        .distinct()
        .collect()
    }
    for d, files in files_before.items():
        if d not in touched:
            assert frozenset(os.listdir(os.path.join(buck_t, d))) == files
    after0 = snap(buck_t)
    bucketed(delta, 0)  # replay: ledger gates the additive merge
    assert snap(buck_t) == after0
    assert _last_applied_epoch(spark, buck_t) == 0


def test_join_agg_retract_sink_interleaved_epochs_and_replay(spark, tmp_path):
    """The tenth stored-artifact consumer: deletes interleaved BETWEEN
    insert epochs propagate through the maintained join-aggregate, the
    final state equals the batch recompute over the surviving fact
    multiset, a replayed epoch is gated (additive merge), and a group
    retracted to zero weight disappears."""
    from pyspark.sql import functions as F

    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        _last_applied_epoch,
        foreach_batch_join_agg_retract_maintain,
    )

    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "C")], "ck long, seg string"
    ).write.parquet(dim_path)
    target = str(tmp_path / "state")
    # seed: facts (1,10) (2,20) (2,21) -> A:(1,10) B:(2,41)
    spark.createDataFrame(
        [("A", 1, "10.000000"), ("B", 2, "41.000000")],
        "seg string, cnt long, sm string",
    ).select(
        "seg",
        F.col("cnt").cast("bigint"),
        F.col("sm").cast("decimal(38,6)").alias("sm"),
    ).write.parquet(target)
    sink = foreach_batch_join_agg_retract_maintain(
        target,
        dim_path,
        keys=["seg"],
        value_col="v",
        fact_key="fk",
        dim_key="ck",
        dim_cols=["seg"],
    )
    batch = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "fk long, v double, w int"
    )

    def snap():
        return sorted(
            (r["seg"], r["cnt"], float(r["sm"]))
            for r in spark.read.parquet(target).collect()
        )

    sink(batch([(3, 30.0, 1)]), 0)  # insert epoch: C appears
    assert snap() == [("A", 1, 10.0), ("B", 2, 41.0), ("C", 1, 30.0)]
    # DELETE epoch between inserts: retract both B facts -> B disappears
    sink(batch([(2, 20.0, -1), (2, 21.0, -1)]), 1)
    assert snap() == [("A", 1, 10.0), ("C", 1, 30.0)]
    sink(batch([(1, 5.0, 1)]), 2)  # second insert epoch
    want = [("A", 2, 15.0), ("C", 1, 30.0)]
    assert snap() == want
    # replay of an applied epoch: gated, state unmoved
    sink(batch([(2, 20.0, -1), (2, 21.0, -1)]), 1)
    sink(batch([(1, 5.0, 1)]), 2)
    assert snap() == want
    assert _last_applied_epoch(spark, target) == 2
    # batch recompute over the surviving multiset equals the maintained view
    survivors = batch([(1, 10.0, 1), (3, 30.0, 1), (1, 5.0, 1)]).drop("w")
    dim = spark.read.parquet(dim_path)
    rec = (
        survivors.join(dim, survivors["fk"] == dim["ck"])
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(F.col("v").cast("decimal(27,6)")).cast("decimal(38,6)").alias("sm"),
        )
    )
    assert sorted((r["seg"], r["cnt"], float(r["sm"])) for r in rec.collect()) == want


@pytest.mark.slow
def test_join_agg_retract_bucketed_matches_plain_and_crash_recovers(
    spark, tmp_path, monkeypatch
):
    """The bucketed join-retract sink is row-identical to the plain one
    under the same interleaved insert/delete epochs, gates replays, and
    — because the merge is committed by the shared epoch commit — a
    mid-epoch crash rolls back and the replay converges exactly."""
    from pyspark.sql import functions as F

    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_join_agg_retract_maintain,
        foreach_batch_join_agg_retract_maintain_bucketed,
        write_bucketed_store,
    )
    from tests.crashfs import CrashNow, patch_crashing

    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(i, f"S{i % 5}") for i in range(40)], "ck long, seg string"
    ).write.parquet(dim_path)
    seed = spark.createDataFrame(
        [(f"S{s}", 2, f"{20 + s}.000000") for s in range(5)],
        "seg string, cnt long, sm string",
    ).select(
        "seg",
        F.col("cnt").cast("bigint"),
        F.col("sm").cast("decimal(38,6)").alias("sm"),
    )
    plain_t, buck_t = str(tmp_path / "plain"), str(tmp_path / "buck")
    seed.write.parquet(plain_t)
    write_bucketed_store(seed, buck_t, ["seg"], 4)
    kw = dict(
        keys=["seg"], value_col="v", fact_key="fk", dim_key="ck",
        dim_cols=["seg"],
    )
    plain = foreach_batch_join_agg_retract_maintain(plain_t, dim_path, **kw)
    buck = foreach_batch_join_agg_retract_maintain_bucketed(
        buck_t, dim_path, n_buckets=4, **kw
    )
    batch = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "fk long, v double, w int"
    )
    epochs = [
        batch([(1, 5.0, 1), (7, 3.0, 1)]),          # inserts
        batch([(2, 10.0, -1), (2, 12.0, -1)]),       # delete epoch (S2)
        batch([(3, 4.0, 1)]),                        # more inserts
    ]

    def snap(path):
        df = spark.read.parquet(path)
        if "bucket" in df.columns:
            df = df.drop("bucket")
        return sorted((r["seg"], r["cnt"], float(r["sm"])) for r in df.collect())

    for i, e in enumerate(epochs):
        plain(e, i)
        buck(e, i)
        assert snap(plain_t) == snap(buck_t), f"epoch {i}"
    want = snap(buck_t)
    buck(epochs[1], 1)  # replay: gated
    assert snap(buck_t) == want
    # crash mid-epoch 3 (after the journal + some bucket moves), replay
    with patch_crashing(monkeypatch, [4]):
        try:
            buck(batch([(5, 9.0, 1), (2, 1.0, 1)]), 3)
            crashed = False
        except CrashNow:
            crashed = True
    buck(batch([(5, 9.0, 1), (2, 1.0, 1)]), 3)  # replay converges
    plain(batch([(5, 9.0, 1), (2, 1.0, 1)]), 3)
    assert snap(plain_t) == snap(buck_t)
    assert crashed  # budget 4 must land inside the mutation phase



@pytest.mark.slow
def test_dedup_gate_drops_cross_epoch_dups_and_survives_crash(
    spark, tmp_path, monkeypatch
):
    """The streaming dedup gate: planted exact dups are dropped within a
    batch, across epochs, and under (a) replay of a committed epoch and
    (b) a crash inside the epoch's one commit, after the segment unit is
    installed and before the ledger: the replay rewinds the half-done
    commit and recomputes the epoch against the pre-epoch store, which
    republishes the same rows."""
    from pyspark.sql import functions as F

    import s3_to_redshift_with_airflow_spark.streaming.pipeline as pl
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_dedup_gate,
        read_dedup_gate_corpus,
    )
    from tests.crashfs import CrashNow, crash_at_ledger

    store = str(tmp_path / "gate")
    sink = foreach_batch_dedup_gate(store, n_buckets=4)
    batch = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id long, text string"
    )

    def corpus():
        return sorted(
            r["doc_id"] for r in read_dedup_gate_corpus(spark, store).collect()
        )

    # epoch 0: within-batch dup (1 and 2 same text) -> min id 1 survives
    sink(batch([(1, "Alpha  Beta"), (2, "alpha beta"), (3, "unique one")]), 0)
    assert corpus() == [1, 3]
    # epoch 1: cross-epoch dup (text of 1) + a new doc
    sink(batch([(10, "ALPHA BETA"), (11, "fresh text")]), 1)
    assert corpus() == [1, 3, 11]
    # replay of epoch 1: committed — corpus unchanged (no duplicate segment)
    sink(batch([(10, "ALPHA BETA"), (11, "fresh text")]), 1)
    assert corpus() == [1, 3, 11]

    # epoch 2 crashes at its ledger install: every unit, the segment
    # last, is already in place
    with crash_at_ledger(monkeypatch), pytest.raises(CrashNow):
        sink(batch([(20, "post crash doc"), (21, "unique one")]), 2)
    # the segment is installed (20 accepted, 21 dropped as dup of 3) but
    # the ledger still reads epoch 1
    assert corpus() == [1, 3, 11, 20]
    assert pl._last_applied_epoch(spark, store) == 1
    # replay: rewinds the commit, recomputes against the rewound store
    # and republishes the same rows
    sink(batch([(20, "post crash doc"), (21, "unique one")]), 2)
    assert corpus() == [1, 3, 11, 20]
    assert pl._last_applied_epoch(spark, store) == 2
    # a later dup of 20 is now gated by the folded store
    sink(batch([(30, "POST  CRASH  DOC"), (31, "brand new")]), 3)
    assert corpus() == [1, 3, 11, 20, 31]


@pytest.mark.slow
def test_neardup_gate_monotone_rule_and_replay(spark, tmp_path):
    """The streaming near-dup gate's semantics: cross-epoch near-dups
    drop; a doc similar ONLY to a DROPPED doc still drops (the monotone
    min-id rule indexes everything seen — a kept-only index would flip
    this to greedy); replays of a decided epoch are no-ops."""
    from pyspark.sql import functions as F

    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_neardup_gate,
        read_neardup_gate_corpus,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    v1 = base + " extra"
    v2 = base + " extra more"  # near v1 AND base; drops via base anyway
    store = str(tmp_path / "nd")
    sink = foreach_batch_neardup_gate(store, threshold=0.5, n_buckets=8)
    batch = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id long, text string"
    )

    def kept():
        return sorted(
            r["doc_id"] for r in read_neardup_gate_corpus(spark, store).collect()
        )

    sink(batch([(1, base), (2, "totally different content here entirely")]), 0)
    assert kept() == [1, 2]
    # epoch 1: v1 drops (near base=1); 4 is fresh
    sink(batch([(3, v1), (4, "another unrelated document text")]), 1)
    assert kept() == [1, 2, 4]
    # epoch 2: v2 is near BOTH 1 and the DROPPED 3 — must drop even if its
    # jaccard to 1 were below threshold, because 3 is indexed; here it is
    # near both, and the rule keys off ANY smaller seen doc
    sink(batch([(5, v2), (6, "yet another fresh piece of writing")]), 2)
    assert kept() == [1, 2, 4, 6]
    # replay epoch 1: decided — nothing changes, no duplicate segments
    sink(batch([(3, v1), (4, "another unrelated document text")]), 1)
    assert kept() == [1, 2, 4, 6]


@pytest.mark.slow
def test_neardup_gate_indexes_dropped_docs(spark, tmp_path):
    """The discriminating case for the seen-index choice: B drops as a
    near-dup of A; C is a near-dup of B but NOT of A. The monotone rule
    (compare against all SEEN) drops C; a kept-only greedy index would
    keep it. Constructed with shingle-set containment chains."""
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_neardup_gate,
        read_neardup_gate_corpus,
    )

    # token design (3-shingles): A and B share most shingles; C shares
    # enough with B but too few with A.
    a_txt = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    b_txt = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"  # j(A,B) = 0.8
    c_txt = "w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13"    # j(B,C) = 0.727, j(A,C) = 0.545
    store = str(tmp_path / "nd2")
    sink = foreach_batch_neardup_gate(store, threshold=0.6, n_buckets=8)
    batch = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id long, text string"
    )
    sink(batch([(1, a_txt)]), 0)
    sink(batch([(2, b_txt)]), 1)
    sink(batch([(3, c_txt)]), 2)
    kept = sorted(
        r["doc_id"] for r in read_neardup_gate_corpus(spark, store).collect()
    )
    # verify the fixture's jaccard structure, then the rule
    from s3_to_redshift_with_airflow_spark.functions.text import token_shingles
    import pyspark.sql.functions as F
    sh = {
        r["doc_id"]: set(r["sh"])
        for r in batch([(1, a_txt), (2, b_txt), (3, c_txt)])
        .select("doc_id", token_shingles(F.col("text"), 3).alias("sh"))
        .collect()
    }
    j = lambda x, y: len(sh[x] & sh[y]) / len(sh[x] | sh[y])  # noqa: E731
    assert j(1, 2) >= 0.6 and j(2, 3) >= 0.6 and j(1, 3) < 0.6
    assert kept == [1]  # B drops via A; C drops via the DROPPED B
