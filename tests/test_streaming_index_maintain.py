"""The fifth stored-artifact streaming consumer (BM25 index maintenance)
and the bounded-write-amplification CDC-SCD2 consumer (bucketed store).

BM25: each epoch appends into the stored inverted index via the frozen-
tokenizer bm25_index_append seam, under the epoch ledger — the ledger is
LOAD-BEARING (a replayed append would double-count postings; the append's
own disjointness guard would raise). The maintained index must be
bit-equal to a batch rebuild over everything indexed.

Bucketed CDC-SCD2: the stored dimension is hash-bucketed by key; an epoch
rewrites ONLY the buckets its delta touches — per-epoch I/O proportional
to the delta's bucket coverage, not the dimension.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from s3_to_redshift_with_airflow_spark.operators.retrieval import (
    bm25_index_build,
    write_bm25_index,
)
from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
    _epoch_recover,
    _last_applied_epoch,
    bucket_expr,
    foreach_batch_bm25_maintain,
    foreach_batch_cdc_scd2,
    foreach_batch_cdc_scd2_bucketed,
    write_bucketed_store,
)
from tests.crashfs import CrashNow, patch_crashing

# ---------------------------------------------------------------- BM25 --


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _snap_index(spark, index_dir):
    return {
        name: sorted(
            tuple(r) for r in spark.read.parquet(f"{index_dir}/{name}").collect()
        )
        for name in ("postings", "doclens", "stats")
    }


@pytest.mark.slow
def test_bm25_maintain_equals_batch_rebuild(spark, tmp_path):
    idx = str(tmp_path / "idx")
    a = _docs(spark, [(1, "spark shuffles data"), (2, "data moves in shuffles")])
    b = _docs(spark, [(3, "broadcast joins move no data")])
    c = _docs(spark, [(4, "sorted postings skip row groups")])
    write_bm25_index(*bm25_index_build(a), idx)
    sink = foreach_batch_bm25_maintain(idx)
    sink(b, 0)
    after0 = _snap_index(spark, idx)
    assert _last_applied_epoch(spark, idx) == 0
    sink(b, 0)  # replayed epoch: gated before the append can double-count
    assert _snap_index(spark, idx) == after0
    sink(c, 1)
    want = _snap_index_frames(spark, *bm25_index_build(a.unionByName(b).unionByName(c)), tmp_path)
    assert _snap_index(spark, idx) == want
    assert _last_applied_epoch(spark, idx) == 1


def _snap_index_frames(spark, postings, doclens, stats, tmp_path):
    ref = str(tmp_path / "ref_idx")
    write_bm25_index(postings, doclens, stats, ref)
    return _snap_index(spark, ref)


def test_bm25_maintain_disjointness_guard_fires_across_epochs(spark, tmp_path):
    """Upstream id reuse across DISTINCT epochs is the failure the ledger
    cannot see — the append's guard catches it."""
    idx = str(tmp_path / "idx")
    write_bm25_index(*bm25_index_build(_docs(spark, [(1, "one doc")])), idx)
    sink = foreach_batch_bm25_maintain(idx)
    sink(_docs(spark, [(2, "second doc")]), 0)
    before = _snap_index(spark, idx)
    with pytest.raises(ValueError, match="already"):
        sink(_docs(spark, [(2, "same id new epoch")]), 1)
    assert _snap_index(spark, idx) == before  # failed epoch moved nothing
    assert _last_applied_epoch(spark, idx) == 0


def test_bm25_maintain_empty_epoch_is_noop(spark, tmp_path):
    idx = str(tmp_path / "idx")
    write_bm25_index(*bm25_index_build(_docs(spark, [(1, "one doc")])), idx)
    sink = foreach_batch_bm25_maintain(idx)
    sink(_docs(spark, [(2, "two")]), 0)
    before = _snap_index(spark, idx)
    sink(_docs(spark, []).limit(0), 1)
    assert _snap_index(spark, idx) == before
    assert _last_applied_epoch(spark, idx) == 0  # ledger not advanced


# ------------------------------------------------------- bucketed CDC --

_N_BUCKETS = 16


def _dim(spark, n_keys=200):
    return spark.range(n_keys).select(
        F.col("id").alias("user_id"),
        (F.col("id") * 1.0).alias("v"),
        F.lit("2024-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )


def _ops(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, v double, op string"
    ).select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        "v",
        "op",
    )


def _snap(spark, path, drop_bucket=True):
    df = spark.read.parquet(path)
    if drop_bucket and "bucket" in df.columns:
        df = df.drop("bucket")
    return sorted(tuple(r) for r in df.collect())


def _bucket_files(target):
    """{bucket_dir: frozenset(part file names)} — rewritten buckets get
    fresh UUID part names, so name-set equality proves a bucket was NOT
    rewritten."""
    out = {}
    for d in os.listdir(target):
        if d.startswith("bucket="):
            out[d] = frozenset(
                f for f in os.listdir(os.path.join(target, d)) if f.startswith("part-")
            )
    return out


def test_bucketed_cdc_matches_plain_sink_and_bounds_rewrite(spark, tmp_path):
    plain_t = str(tmp_path / "plain")
    buck_t = str(tmp_path / "bucketed")
    dim = _dim(spark)
    dim.write.parquet(plain_t)
    write_bucketed_store(dim, buck_t, ["user_id"], _N_BUCKETS)
    assert _snap(spark, plain_t) == _snap(spark, buck_t)

    ops = _ops(
        spark,
        [
            (7, "2024-03-01 10:00:00", 1, 700.0, "U"),
            (8, "2024-03-01 11:00:00", 2, 800.0, "U"),
            (9, "2024-03-01 12:00:00", 3, None, "D"),
            (1000, "2024-03-01 13:00:00", 4, 1.5, "I"),  # brand-new key
        ],
    )
    kw = dict(keys=["user_id"], attrs=["v"], order_cols=["ts", "event_id"])
    plain = foreach_batch_cdc_scd2(plain_t, **kw)
    bucketed = foreach_batch_cdc_scd2_bucketed(
        buck_t, n_buckets=_N_BUCKETS, **kw
    )
    files_before = _bucket_files(buck_t)
    plain(ops, 0)
    bucketed(ops, 0)
    assert _snap(spark, plain_t) == _snap(spark, buck_t)
    files_after = _bucket_files(buck_t)

    touched = {
        f"bucket={r['b']}"
        for r in ops.select(bucket_expr(["user_id"], _N_BUCKETS).alias("b"))
        .distinct()
        .collect()
    }
    untouched_before = {k: v for k, v in files_before.items() if k not in touched}
    untouched_after = {k: v for k, v in files_after.items() if k not in touched}
    # the write-amplification claim: every untouched bucket's files are
    # byte-for-byte the SAME files (not rewritten), and at least one
    # bucket was untouched for the claim to mean anything
    assert untouched_before == untouched_after
    assert len(untouched_before) >= _N_BUCKETS - len(touched) > 0
    for b in touched & set(files_before):
        assert files_after[b] != files_before[b]  # touched buckets DID move


def test_bucketed_cdc_same_epoch_twice(spark, tmp_path):
    buck_t = str(tmp_path / "bucketed")
    write_bucketed_store(_dim(spark, 50), buck_t, ["user_id"], _N_BUCKETS)
    sink = foreach_batch_cdc_scd2_bucketed(
        buck_t,
        keys=["user_id"],
        attrs=["v"],
        order_cols=["ts", "event_id"],
        n_buckets=_N_BUCKETS,
    )
    ops = _ops(spark, [(3, "2024-03-01 10:00:00", 1, 33.0, "U")])
    sink(ops, 0)
    after0 = _snap(spark, buck_t)
    assert _last_applied_epoch(spark, buck_t) == 0
    sink(ops, 0)  # replay: ledger gate
    assert _snap(spark, buck_t) == after0
    ops1 = _ops(spark, [(3, "2024-04-01 10:00:00", 2, 34.0, "U")])
    sink1 = foreach_batch_cdc_scd2_bucketed(
        buck_t,
        keys=["user_id"],
        attrs=["v"],
        order_cols=["ts", "event_id"],
        n_buckets=_N_BUCKETS,
        effective_for=lambda e: f"2024-05-{e + 1:02d}",
    )
    sink1(ops1, 1)
    after1 = _snap(spark, buck_t)
    assert after1 != after0
    sink1(ops1, 1)
    assert _snap(spark, buck_t) == after1


def _crash_until(spark, monkeypatch, root, run, reached):
    """Crash `run()` one fs op later on each attempt — rewinding each
    attempt's crash first — until a crash leaves a state `reached()`
    accepts: a state the commit protocol really produces."""
    for budget in range(100):
        with patch_crashing(monkeypatch, [budget]):
            try:
                run()
            except CrashNow:
                pass
            else:
                raise AssertionError("the epoch completed without reaching the state")
        if reached():
            return
        _epoch_recover(spark, root)
    raise AssertionError("no crash point reached the state")


def _parked(root, unit):
    return lambda: not os.path.exists(f"{root}/{unit}") and os.path.exists(
        f"{root}__park/{unit}"
    )


def test_bucketed_cdc_recovers_parked_bucket(spark, tmp_path, monkeypatch):
    """A crash inside epoch 1's commit, after the bucket key 3 lives in
    was parked and before its replacement landed: the replayed epoch
    rewinds the park before gating and applies cleanly."""
    buck_t = str(tmp_path / "bucketed")
    write_bucketed_store(_dim(spark, 50), buck_t, ["user_id"], _N_BUCKETS)
    sink = foreach_batch_cdc_scd2_bucketed(
        buck_t,
        keys=["user_id"],
        attrs=["v"],
        order_cols=["ts", "event_id"],
        n_buckets=_N_BUCKETS,
    )
    sink(_ops(spark, [(3, "2024-03-01 10:00:00", 1, 33.0, "U")]), 0)
    whole = _snap(spark, buck_t)
    b3 = spark.range(1).select(
        bucket_expr_lit(3, _N_BUCKETS).alias("b")
    ).collect()[0]["b"]
    ops1 = _ops(
        spark,
        [
            (3, "2024-04-01 10:00:00", 2, 34.0, "U"),
            (4, "2024-04-01 10:00:00", 3, 44.0, "U"),
        ],
    )
    _crash_until(
        spark, monkeypatch, buck_t, lambda: sink(ops1, 1),
        _parked(buck_t, f"bucket={b3}"),
    )
    assert _snap(spark, buck_t) != whole  # rows genuinely missing while parked
    sink(ops1, 1)  # the at-least-once replay
    got = sorted(r for r in _snap(spark, buck_t))
    assert not os.path.exists(f"{buck_t}__park")
    # parked bucket restored AND epoch 1 applied: key 3's epoch-0 version
    # and key 4's epoch-1 versions all present
    assert any(r[0] == 3 and r[1] == 33.0 for r in got)
    assert any(r[0] == 4 and r[1] == 44.0 for r in got)


def bucket_expr_lit(key: int, n_buckets: int):
    return F.pmod(F.xxhash64(F.lit(key).cast("long")), F.lit(n_buckets)).cast(
        "int"
    )


def test_bucketed_cdc_stale_leftover_park_is_cleaned(spark, tmp_path, monkeypatch):
    """A crash AFTER epoch 0's ledger committed but before its parks were
    dropped leaves a stale park beside the newer bucket — the next epoch
    must keep the committed bucket and clear the leftover."""
    buck_t = str(tmp_path / "bucketed")
    write_bucketed_store(_dim(spark, 50), buck_t, ["user_id"], _N_BUCKETS)
    sink = foreach_batch_cdc_scd2_bucketed(
        buck_t,
        keys=["user_id"],
        attrs=["v"],
        order_cols=["ts", "event_id"],
        n_buckets=_N_BUCKETS,
    )
    b3 = spark.range(1).select(
        bucket_expr_lit(3, _N_BUCKETS).alias("b")
    ).collect()[0]["b"]
    ops0 = _ops(spark, [(3, "2024-03-01 10:00:00", 1, 33.0, "U")])
    _crash_until(
        spark, monkeypatch, buck_t, lambda: sink(ops0, 0),
        lambda: _last_applied_epoch(spark, buck_t) == 0
        and os.path.exists(f"{buck_t}__park/bucket={b3}"),
    )
    after0 = _snap(spark, buck_t)
    assert any(r[0] == 3 and r[1] == 33.0 for r in after0)
    sink(_ops(spark, [(4, "2024-04-01 10:00:00", 2, 44.0, "U")]), 1)
    assert not os.path.exists(f"{buck_t}__park")
    got = _snap(spark, buck_t)
    assert [r for r in got if r[0] == 3] == [r for r in after0 if r[0] == 3]


# ------------------------------------------------- segmented BM25 --


@pytest.mark.slow
def test_bm25_segmented_equals_rebuild_and_replay_skips(spark, tmp_path):
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_bm25_maintain_segmented,
        read_bm25_index_segmented,
        seed_bm25_index_segmented,
    )

    idx = str(tmp_path / "segidx")
    a = _docs(spark, [(1, "spark shuffles data"), (2, "data moves in shuffles")])
    b = _docs(spark, [(3, "broadcast joins move no data")])
    c = _docs(spark, [(4, "sorted postings skip row groups")])
    seed_bm25_index_segmented(a, idx)
    sink = foreach_batch_bm25_maintain_segmented(idx)
    sink(b, 0)
    sink(c, 1)

    def serve_snap():
        p, l, s = read_bm25_index_segmented(spark, idx)
        return (
            sorted(tuple(r) for r in p.collect()),
            sorted(tuple(r) for r in l.collect()),
            [tuple(r) for r in s.collect()],
        )

    got = serve_snap()
    # bit-equal to a monolithic rebuild over everything indexed
    from s3_to_redshift_with_airflow_spark.operators.retrieval import (
        bm25_index_build,
    )

    p, l, s = bm25_index_build(a.unionByName(b).unionByName(c))
    assert got[0] == sorted(tuple(r) for r in p.collect())
    assert got[1] == sorted(tuple(r) for r in l.collect())
    assert got[2] == [tuple(r) for r in s.collect()]
    # replay: the ledger gates re-delivery — a no-op (without the gate
    # the disjointness guard would raise)
    sink(b, 0)
    assert serve_snap() == got


def test_bm25_segmented_disjointness_and_empty_epoch(spark, tmp_path):
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_bm25_maintain_segmented,
        seed_bm25_index_segmented,
    )

    idx = str(tmp_path / "segidx")
    seed_bm25_index_segmented(_docs(spark, [(1, "one doc")]), idx)
    sink = foreach_batch_bm25_maintain_segmented(idx)
    with pytest.raises(ValueError, match="already indexed"):
        sink(_docs(spark, [(1, "same id new epoch")]), 0)
    assert not os.path.exists(f"{idx}/segs/seg_0")  # failed epoch published nothing
    sink(_docs(spark, []).limit(0), 1)
    assert not os.path.exists(f"{idx}/segs/seg_1")  # empty epoch: no segment


@pytest.mark.slow
def test_bm25_segment_compaction_preserves_serve(spark, tmp_path):
    from s3_to_redshift_with_airflow_spark.operators.retrieval import (
        bm25_index_search,
    )
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        compact_bm25_segments,
        foreach_batch_bm25_maintain_segmented,
        read_bm25_index_segmented,
        seed_bm25_index_segmented,
    )

    idx = str(tmp_path / "segidx")
    seed_bm25_index_segmented(
        _docs(spark, [(1, "spark data pipelines"), (2, "data at scale")]), idx
    )
    sink = foreach_batch_bm25_maintain_segmented(idx)
    sink(_docs(spark, [(3, "data moves between stages")]), 0)
    sink(_docs(spark, [(4, "pipelines of data everywhere")]), 1)
    before = sorted(
        tuple(r)
        for r in bm25_index_search(
            *read_bm25_index_segmented(spark, idx), ["data", "pipelines"]
        ).collect()
    )
    assert compact_bm25_segments(spark, idx) == 2  # 3 segments -> 1
    assert [d for d in os.listdir(f"{idx}/segs") if not d.startswith("_")] == ["seg_base"]
    after = sorted(
        tuple(r)
        for r in bm25_index_search(
            *read_bm25_index_segmented(spark, idx), ["data", "pipelines"]
        ).collect()
    )
    assert before == after
    assert compact_bm25_segments(spark, idx) == 0  # single segment: no-op


# ------------------------------------------------- bucketed upsert --


def test_bucketed_upsert_matches_plain_and_bounds_rewrite(spark, tmp_path):
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_upsert,
        foreach_batch_upsert_bucketed,
    )

    plain_t = str(tmp_path / "plain")
    buck_t = str(tmp_path / "bucketed")
    base = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    base.write.parquet(plain_t)
    write_bucketed_store(base, buck_t, ["k"], _N_BUCKETS)

    batch = spark.createDataFrame(
        [(7, -1), (8, -1), (1000, -1), (7, -1)], "k long, v long"
    )
    files_before = _bucket_files(buck_t)
    foreach_batch_upsert(plain_t, keys=["k"])(batch, 0)
    foreach_batch_upsert_bucketed(buck_t, keys=["k"], n_buckets=_N_BUCKETS)(
        batch, 0
    )
    assert _snap(spark, plain_t) == _snap(spark, buck_t)
    files_after = _bucket_files(buck_t)
    touched = {
        f"bucket={r['b']}"
        for r in batch.select(bucket_expr(["k"], _N_BUCKETS).alias("b"))
        .distinct()
        .collect()
    }
    untouched = {k: v for k, v in files_before.items() if k not in touched}
    assert untouched == {k: v for k, v in files_after.items() if k not in touched}
    assert len(untouched) > 0
    # replay idempotency (no ledger needed — keyed delete+insert)
    snap = _snap(spark, buck_t)
    foreach_batch_upsert_bucketed(buck_t, keys=["k"], n_buckets=_N_BUCKETS)(
        batch, 0
    )
    assert _snap(spark, buck_t) == snap


def test_bucketed_upsert_recovers_parked_bucket(spark, tmp_path, monkeypatch):
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_upsert_bucketed,
    )

    buck_t = str(tmp_path / "bucketed")
    base = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    write_bucketed_store(base, buck_t, ["k"], _N_BUCKETS)
    sink = foreach_batch_upsert_bucketed(buck_t, keys=["k"], n_buckets=_N_BUCKETS)
    sink(spark.createDataFrame([(3, -1)], "k long, v long"), 0)
    b3 = spark.range(1).select(
        bucket_expr_lit(3, _N_BUCKETS).alias("b")
    ).collect()[0]["b"]
    # epoch 1 rewrites key 3's bucket (key 3 unchanged) and crashes with
    # that bucket parked
    batch1 = spark.createDataFrame([(3, -1), (4, -2)], "k long, v long")
    _crash_until(
        spark, monkeypatch, buck_t, lambda: sink(batch1, 1),
        _parked(buck_t, f"bucket={b3}"),
    )
    sink(batch1, 1)  # the at-least-once replay
    got = dict(_snap(spark, buck_t))
    assert got[3] == -1 and got[4] == -2  # parked bucket restored, epoch applied
    assert not os.path.exists(f"{buck_t}__park")


# ------------------------------------------------- segmented IVF-PQ --


def _emb(spark, lo, hi, dim=8):
    return spark.range(lo, hi).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: ((F.col("id") * 37 + i * 11) % 19 - 9.0) / 3.0,
        ).alias("embedding"),
    )


@pytest.mark.slow
def test_ivf_pq_segmented_maintain_matches_batch_append(spark, tmp_path):
    """Single-epoch maintained index content == the batch frozen-quantizer
    append; appended vectors are REACHABLE through search over the
    segmented union (probes rank against the same frozen centroids)."""
    from s3_to_redshift_with_airflow_spark.operators.clustering import (
        ivf_pq_index_append,
        ivf_pq_index_build,
        ivf_pq_index_search,
    )
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_ivf_pq_maintain_segmented,
        read_ivf_pq_index_segmented,
        seed_ivf_pq_index_segmented,
    )

    kw = dict(n_probe=2, km_k=4, km_iter=1, m_subspaces=4, k_centroids=4,
              pq_iter=1, dim=8)
    base, new = _emb(spark, 20, 120), _emb(spark, 0, 20)
    idx = str(tmp_path / "ivfidx")
    seed_ivf_pq_index_segmented(base, idx, **kw)
    sink = foreach_batch_ivf_pq_maintain_segmented(idx, m_subspaces=4, dim=8)
    sink(new, 0)

    stored = read_ivf_pq_index_segmented(spark, idx)
    got = sorted(
        tuple(r)
        for r in stored["lists"].join(stored["codes"], "vec_id")
        .filter(F.col("vec_id") < 20)
        .select("vec_id", "cluster", "m", "code")
        .collect()
    )
    bidx = ivf_pq_index_build(base, **kw)
    delta = ivf_pq_index_append(
        bidx["centroids"], bidx["codebook"], new, m_subspaces=4, dim=8
    )
    want = sorted(
        tuple(r)
        for r in delta["lists"].join(delta["codes"], "vec_id")
        .select("vec_id", "cluster", "m", "code")
        .collect()
    )
    assert got == want
    # replay: the ledger gates re-application (the append's
    # disjointness guard would otherwise raise)
    sink(new, 0)
    stored2 = read_ivf_pq_index_segmented(spark, idx)
    assert stored2["codes"].count() == stored["codes"].count()
    # reachability: an appended vector appears in search results for a
    # query near it (vec 0 queries itself excluded; use full union)
    all_emb = base.unionByName(new)
    hits = ivf_pq_index_search(
        stored["lists"], stored["centroids"], stored["codes"],
        stored["codebook"], all_emb, _emb(spark, 0, 3),
        k=5, n_probe=4, m_subspaces=4, dim=8,
    )
    appended_hits = hits.filter(F.col("vec_id") < 20).count()
    assert appended_hits > 0


def test_ivf_pq_segmented_disjointness_and_empty(spark, tmp_path):
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_ivf_pq_maintain_segmented,
        seed_ivf_pq_index_segmented,
    )

    kw = dict(n_probe=2, km_k=4, km_iter=1, m_subspaces=4, k_centroids=4,
              pq_iter=1, dim=8)
    idx = str(tmp_path / "ivfidx")
    seed_ivf_pq_index_segmented(_emb(spark, 20, 60), idx, **kw)
    sink = foreach_batch_ivf_pq_maintain_segmented(idx, m_subspaces=4, dim=8)
    with pytest.raises(ValueError, match="already indexed"):
        sink(_emb(spark, 30, 35), 0)  # overlaps the seeded base
    assert not os.path.exists(f"{idx}/segs/seg_0")
    sink(_emb(spark, 0, 0).limit(0), 1)
    assert not os.path.exists(f"{idx}/segs/seg_1")


# ------------------------------------------------- join-view maintain --


def test_join_view_maintain_equals_recompute_and_replays(spark, tmp_path):
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_join_view_maintain,
        read_join_view_segments,
        seed_join_view_segments,
    )

    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, attr string"
    ).write.parquet(dim_path)
    view_dir = str(tmp_path / "view")
    facts = lambda rows: spark.createDataFrame(rows, "fid long, k long")  # noqa: E731
    # seed: the standing view over the first fact slice
    seed_join_view_segments(
        spark.createDataFrame([(10, 1, "a")], "fid long, k long, attr string"),
        view_dir,
    )
    sink = foreach_batch_join_view_maintain(
        view_dir, dim_path, fact_key="k", dim_key="k", dim_cols=["attr"]
    )
    sink(facts([(11, 2), (12, 3)]), 0)
    sink(facts([(13, 1), (14, 99)]), 1)  # 99: no dim match -> inner-drop
    got = sorted(
        tuple(r)
        for r in read_join_view_segments(spark, view_dir)
        .select("fid", "k", "attr")
        .collect()
    )
    assert got == [(10, 1, "a"), (11, 2, "b"), (12, 3, "c"), (13, 1, "a")]
    # replay of epoch 0 is skipped by the ledger
    sink(facts([(11, 2), (12, 3)]), 0)
    assert len(read_join_view_segments(spark, view_dir).collect()) == 4
    # empty epoch publishes nothing
    sink(facts([]).limit(0), 2)
    assert not os.path.exists(f"{view_dir}/segs/seg_2")


def _scan_roots(df):
    """The root paths of every file scan in `df`'s optimized plan."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    roots = []
    for i in range(leaves.size()):
        paths = leaves.apply(i).relation().location().rootPaths()
        roots += [paths.apply(j).toString() for j in range(paths.size())]
    return sorted(r.removeprefix("file:") for r in roots)


def test_segment_stores_list_a_manifest_and_serve_explicit_paths(spark, tmp_path):
    """A BM25 store grown maintainer-first and a seeded join view each
    hold `segs/_manifest` after their first epoch, and their serves scan
    the listed segments by explicit path. A glob root would make Spark
    probe it for a streaming-sink metadata dir, which fails and logs a
    stack trace on every serve."""
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_bm25_maintain_segmented,
        foreach_batch_join_view_maintain,
        read_bm25_index_segmented,
        read_join_view_segments,
        seed_join_view_segments,
    )

    idx = str(tmp_path / "idx")
    foreach_batch_bm25_maintain_segmented(idx)(_docs(spark, [(1, "first doc")]), 0)
    assert os.path.isfile(f"{idx}/segs/_manifest")
    postings, doclens, _ = read_bm25_index_segmented(spark, idx)

    dim_path = str(tmp_path / "dim")
    spark.createDataFrame([(1, "a")], "k long, attr string").write.parquet(dim_path)
    view = str(tmp_path / "view")
    seed_join_view_segments(
        spark.createDataFrame([(10, 1, "a")], "fid long, k long, attr string"), view
    )
    foreach_batch_join_view_maintain(
        view, dim_path, fact_key="k", dim_key="k", dim_cols=["attr"]
    )(spark.createDataFrame([(11, 1)], "fid long, k long"), 0)
    assert os.path.isfile(f"{view}/segs/_manifest")

    assert _scan_roots(postings) == [f"{idx}/segs/seg_0/postings"]
    assert _scan_roots(doclens) == [f"{idx}/segs/seg_0/doclens"]
    roots = _scan_roots(read_join_view_segments(spark, view))
    assert roots == [f"{view}/segs/seg_0", f"{view}/segs/seg_base"]
    assert not any("*" in r for r in roots)


# --------------------------------------- r9: compaction + bloom probe --


@pytest.mark.slow
def test_replay_after_bm25_compaction_is_skipped_not_fatal(spark, tmp_path):
    """ADVICE r8 #3: compaction merges seg_N away; an at-least-once replay
    of epoch N (sink done, checkpoint commit lost, then compaction ran)
    must be SKIPPED by the store's ledger — before the fix the
    disjointness guard raised on every retry, permanently failing the
    stream on an epoch that was already applied."""
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        compact_bm25_segments,
        foreach_batch_bm25_maintain_segmented,
        read_bm25_index_segmented,
        seed_bm25_index_segmented,
    )

    idx = str(tmp_path / "segidx")
    seed_bm25_index_segmented(_docs(spark, [(1, "base doc")]), idx)
    sink = foreach_batch_bm25_maintain_segmented(idx)
    b = _docs(spark, [(2, "epoch zero doc")])
    sink(b, 0)
    sink(_docs(spark, [(3, "epoch one doc")]), 1)
    assert compact_bm25_segments(spark, idx) == 2

    def serve():
        p, l, s = read_bm25_index_segmented(spark, idx)
        return (
            sorted(tuple(r) for r in p.collect()),
            sorted(tuple(r) for r in l.collect()),
        )

    before = serve()
    sink(b, 0)  # replay of a merged-away epoch: the ledger skips it
    sink(_docs(spark, [(3, "epoch one doc")]), 1)
    assert serve() == before
    # genuinely new epochs still apply after compaction
    sink(_docs(spark, [(4, "epoch two doc")]), 2)
    assert serve() != before
    # and genuine cross-epoch id reuse STILL raises (bloom hit -> exact)
    with pytest.raises(ValueError, match="already indexed"):
        sink(_docs(spark, [(2, "reused id, new epoch")]), 3)


@pytest.mark.slow
def test_replay_after_ivf_pq_compaction_is_skipped(spark, tmp_path):
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        compact_ivf_pq_segments,
        foreach_batch_ivf_pq_maintain_segmented,
        read_ivf_pq_index_segmented,
        seed_ivf_pq_index_segmented,
    )

    kw = dict(n_probe=2, km_k=4, km_iter=1, m_subspaces=4, k_centroids=4,
              pq_iter=1, dim=8)
    idx = str(tmp_path / "ivfidx")
    seed_ivf_pq_index_segmented(_emb(spark, 40, 100), idx, **kw)
    sink = foreach_batch_ivf_pq_maintain_segmented(idx, m_subspaces=4, dim=8)
    sink(_emb(spark, 0, 10), 0)
    sink(_emb(spark, 10, 20), 1)

    def snap():
        s = read_ivf_pq_index_segmented(spark, idx)
        return (
            sorted(tuple(r) for r in s["lists"].collect()),
            sorted(tuple(r) for r in s["codes"].collect()),
        )

    pre = snap()
    assert compact_ivf_pq_segments(spark, idx) == 2
    assert snap() == pre  # serve identical across compaction
    sink(_emb(spark, 0, 10), 0)  # merged-away replay: skipped, not fatal
    assert snap() == pre
    with pytest.raises(ValueError, match="already indexed"):
        sink(_emb(spark, 5, 8), 2)  # genuine reuse in a NEW epoch
    sink(_emb(spark, 20, 30), 3)  # fresh epoch still applies
    assert len(snap()[0]) == len(pre[0]) + 10


def test_join_view_compaction_and_replay_skip(spark, tmp_path):
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        compact_join_view_segments,
        foreach_batch_join_view_maintain,
        read_join_view_segments,
    )

    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, attr string"
    ).write.parquet(dim_path)
    view_dir = str(tmp_path / "view")
    facts = lambda rows: spark.createDataFrame(rows, "fid long, k long")  # noqa: E731
    sink = foreach_batch_join_view_maintain(
        view_dir, dim_path, fact_key="k", dim_key="k", dim_cols=["attr"]
    )
    b0 = facts([(10, 1), (11, 2)])
    sink(b0, 0)
    sink(facts([(12, 1)]), 1)

    def snap():
        return sorted(
            tuple(r)
            for r in read_join_view_segments(spark, view_dir)
            .select("fid", "k", "attr")
            .collect()
        )

    pre = snap()
    assert compact_join_view_segments(spark, view_dir) == 1
    assert snap() == pre
    assert [d for d in os.listdir(f"{view_dir}/segs") if not d.startswith("_")] == ["seg_base"]
    sink(b0, 0)  # merged-away replay: the ledger skips (no duplicate rows)
    assert snap() == pre
    sink(facts([(13, 2)]), 2)
    assert len(snap()) == len(pre) + 1


@pytest.mark.slow
def test_auto_compaction_bounds_segment_count(spark, tmp_path):
    """compact_every=3: a long run's live segment count stays bounded by
    the knob instead of growing one per epoch forever."""
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        _live_segments,
        foreach_batch_bm25_maintain_segmented,
        read_bm25_index_segmented,
        seed_bm25_index_segmented,
    )
    from s3_to_redshift_with_airflow_spark.operators.retrieval import (
        bm25_index_build,
    )

    idx = str(tmp_path / "segidx")
    seed_bm25_index_segmented(_docs(spark, [(0, "base doc")]), idx)
    sink = foreach_batch_bm25_maintain_segmented(idx, compact_every=3)
    all_docs = [(0, "base doc")]
    for e in range(1, 7):
        rows = [(e * 10, f"doc number {e} about data")]
        all_docs += rows
        sink(_docs(spark, rows), e)
        assert len(_live_segments(spark, f"{idx}/segs")) <= 3
    # serve still equals a monolithic rebuild over everything indexed
    p, l, _ = read_bm25_index_segmented(spark, idx)
    bp, bl, _ = bm25_index_build(_docs(spark, all_docs))
    assert sorted(map(tuple, p.collect())) == sorted(map(tuple, bp.collect()))
    assert sorted(map(tuple, l.collect())) == sorted(map(tuple, bl.collect()))


@pytest.mark.slow
def test_bloom_probe_localizes_suspects_and_scales(spark, tmp_path):
    """The measured point for VERDICT r8 #1, under the three-tier probe:
    a range-disjoint delta (monotone ids — the production norm) is
    proven by segment (id_min, id_max) metadata alone; an interleaved
    but disjoint delta is proven by the per-segment bitmaps; an
    overlapping delta names exactly the segment(s) it overlaps, so the
    exact fallback scans one segment, not the union; and each bitmap's
    bytes track its own segment's cardinality (32 bits/key, capped),
    not the index."""
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        _SEG_BLOOM_BITS_PER_KEY,
        _SEG_BLOOM_MAX_BITS,
        _bloom_suspect_segments,
        _path_bytes,
        foreach_batch_bm25_maintain_segmented,
        seed_bm25_index_segmented,
    )

    # EVEN doc ids, so interleaved-but-absent (odd) ids exist
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        (F.col("id") * 2).alias("doc_id"),
        F.concat(
            F.lit("document body token"), (F.col("id") % 97).cast("string")
        ).alias("text"),
    )
    idx = str(tmp_path / "segidx")
    seed_bm25_index_segmented(mk(0, 20_000), idx)  # a BIG base segment
    sink = foreach_batch_bm25_maintain_segmented(idx)
    sink(mk(20_000, 20_100), 0)
    sink(mk(20_100, 20_200), 1)
    segs = f"{idx}/segs"
    # tier 1: a monotone delta beyond every segment's id range is proven
    # disjoint from metadata alone (no bitmap pages read)
    fresh = spark.range(80_000, 80_500).select(F.col("id").alias("doc_id"))
    assert _bloom_suspect_segments(spark, segs, fresh, "doc_id") == []
    # tier 2: odd ids interleave every segment's range but hit no bitmap
    # — proven disjoint even against the 20k-id base segment (the
    # fixed-size union-OR design this replaces was measured reporting
    # false hits on every epoch at this size)
    odd = spark.range(250).select((F.col("id") * 2 + 1).alias("doc_id"))
    assert _bloom_suspect_segments(spark, segs, odd, "doc_id") == []
    # tier 3 localization: exactly the overlapped segment is named
    in_seg0 = spark.range(20_025, 20_030).select((F.col("id") * 2).alias("doc_id"))
    assert _bloom_suspect_segments(spark, segs, in_seg0, "doc_id") == ["seg_0"]
    in_base = spark.range(3, 13).select((F.col("id") * 2).alias("doc_id"))
    assert _bloom_suspect_segments(spark, segs, in_base, "doc_id") == ["seg_base"]
    # bitmap bytes track the SEGMENT's cardinality (capped), not the index
    base_bytes = _path_bytes(spark, f"{segs}/seg_base/idbloom")
    seg0_bytes = _path_bytes(spark, f"{segs}/seg_0/idbloom")
    assert seg0_bytes < base_bytes  # small segment, small bitmap
    assert base_bytes <= _SEG_BLOOM_MAX_BITS // 8 + 10_000
    assert base_bytes <= 2 * (20_000 * _SEG_BLOOM_BITS_PER_KEY // 8) + 10_000


def _frames_snap(p, l, s):
    return (
        sorted(tuple(r) for r in p.collect()),
        sorted(tuple(r) for r in l.collect()),
        [tuple(r) for r in s.collect()],
    )


def _build_sidecar_store(spark, idx):
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_bm25_maintain_segmented,
        seed_bm25_index_segmented,
    )

    seed_bm25_index_segmented(
        _docs(spark, [(1, "spark shuffles data"), (2, "data moves in shuffles")]),
        idx,
    )
    sink = foreach_batch_bm25_maintain_segmented(idx)
    sink(_docs(spark, [(3, "broadcast joins move no data")]), 0)
    sink(_docs(spark, [(4, "sorted postings skip row groups")]), 1)


def test_sidecar_stats_equal_union_aggregate(spark, tmp_path):
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        read_bm25_index_segmented,
    )

    idx = str(tmp_path / "idx")
    _build_sidecar_store(spark, idx)
    _, doclens, stats = read_bm25_index_segmented(spark, idx)
    agg = doclens.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr("sum(len) div count(1)").cast("bigint").alias("avgl"),
    )
    assert [tuple(r) for r in stats.collect()] == [tuple(r) for r in agg.collect()]
    # serve == monolithic rebuild, the segmented contract
    docs = _docs(
        spark,
        [
            (1, "spark shuffles data"),
            (2, "data moves in shuffles"),
            (3, "broadcast joins move no data"),
            (4, "sorted postings skip row groups"),
        ],
    )
    assert _frames_snap(*read_bm25_index_segmented(spark, idx)) == _frames_snap(
        *bm25_index_build(docs)
    )


def test_bucketed_cdc_all_null_event_time_batch_is_noop(spark, tmp_path):
    """ADVICE r8 #2: a non-empty batch whose event_time values are all
    NULL has no epoch timestamp — the bucketed sink must return without
    touching the dimension (the unbucketed twin already did); applying
    would write NULL valid_from/valid_to and advance the ledger."""
    buck_t = str(tmp_path / "bucketed")
    write_bucketed_store(_dim(spark, 50), buck_t, ["user_id"], _N_BUCKETS)
    sink = foreach_batch_cdc_scd2_bucketed(
        buck_t,
        keys=["user_id"],
        attrs=["v"],
        order_cols=["ts", "event_id"],
        n_buckets=_N_BUCKETS,
        event_time_col="ts",
    )
    before = _snap(spark, buck_t)
    sink(_ops(spark, [(3, None, 1, 33.0, "U"), (4, None, 2, 44.0, "U")]), 0)
    assert _snap(spark, buck_t) == before
    assert _last_applied_epoch(spark, buck_t) == -1  # ledger NOT advanced
    # a later epoch with real event times applies normally
    sink(_ops(spark, [(3, "2024-03-01 10:00:00", 3, 35.0, "U")]), 1)
    assert any(r[1] == 35.0 for r in _snap(spark, buck_t) if r[0] == 3)


# ------------------------------------------------- r9: quantizer retrain --


@pytest.mark.slow
def test_ivf_pq_retrain_recovers_recall_and_preserves_membership(spark, tmp_path):
    """The cadence-retrain seam: after a distribution-shifted block
    streams in through the frozen quantizer, retraining on the current
    corpus must (a) keep the index membership identical, (b) not lose
    recall on shifted queries (strictly improves on this fixture), and
    (c) keep skipping replays of pre-retrain epochs (the ledger carries
    forward through the root swap)."""
    from s3_to_redshift_with_airflow_spark.operators.clustering import (
        ivf_pq_index_search,
    )
    from s3_to_redshift_with_airflow_spark.operators.similarity import (
        brute_force_topk,
    )
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_ivf_pq_maintain_segmented,
        ivf_pq_index_retrain,
        read_ivf_pq_index_segmented,
        read_ivf_pq_index_segmented_at,
        seed_ivf_pq_index_segmented,
    )

    kw = dict(n_probe=2, km_k=8, km_iter=2, m_subspaces=4, k_centroids=8,
              pq_iter=2, dim=8)
    base = _emb(spark, 50, 250)
    shifted = _emb(spark, 0, 50).select(
        "vec_id", F.transform("embedding", lambda x: x + 6.0).alias("embedding")
    )
    corpus = base.unionByName(shifted)
    idx = str(tmp_path / "ivfidx")
    seed_ivf_pq_index_segmented(base, idx, **kw)
    sink = foreach_batch_ivf_pq_maintain_segmented(idx, m_subspaces=4, dim=8)
    sink(shifted, 0)
    queries = shifted.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(corpus, queries, k=5).select("query_id", "vec_id")

    def recall_hits():
        s = read_ivf_pq_index_segmented(spark, idx)
        approx = ivf_pq_index_search(
            s["lists"], s["centroids"], s["codes"], s["codebook"],
            corpus, queries, k=5, n_probe=3, m_subspaces=4, dim=8,
        )
        return approx.join(exact, ["query_id", "vec_id"], "left_semi").count()

    def members():
        return sorted(
            r[0]
            for r in read_ivf_pq_index_segmented(spark, idx)["lists"]
            .select("vec_id")
            .collect()
        )

    before_members = members()
    frozen_hits = recall_hits()
    ivf_pq_index_retrain(spark, idx, corpus, **kw)
    assert members() == before_members  # membership preserved exactly
    assert recall_hits() >= frozen_hits  # recall never lost
    assert [d for d in os.listdir(f"{idx}/segs") if not d.startswith("_")] == ["seg_base"]  # segments absorbed
    # (c) pre-retrain epoch replay: skipped by the carried-forward ledger
    pre = members()
    sink(shifted, 0)
    assert members() == pre
    # fresh epochs still apply against the retrained quantizer
    sink(_emb(spark, 300, 310), 1)
    assert len(members()) == len(pre) + 10
    # as-of reads: the retrained seg_base carries the absorbed segments'
    # coverage (epochs -1 and 0), so read_at(0) is exactly the retrained
    # corpus and a cut inside the fold raises
    at0 = read_ivf_pq_index_segmented_at(spark, idx, 0)["lists"]
    assert sorted(r[0] for r in at0.select("vec_id").collect()) == pre
    with pytest.raises(ValueError, match="time-travel horizon"):
        read_ivf_pq_index_segmented_at(spark, idx, -1)


@pytest.mark.slow
def test_ivf_pq_retrain_crash_in_root_swap_is_recoverable(spark, tmp_path):
    """A crash inside the retrain's whole-root swap parks the complete
    old index at root__prev: serve resolves the park, and the next
    maintain epoch restores it before publishing."""
    import shutil as _sh

    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_ivf_pq_maintain_segmented,
        read_ivf_pq_index_segmented,
        seed_ivf_pq_index_segmented,
    )

    kw = dict(n_probe=2, km_k=4, km_iter=1, m_subspaces=4, k_centroids=4,
              pq_iter=1, dim=8)
    idx = str(tmp_path / "ivfidx")
    seed_ivf_pq_index_segmented(_emb(spark, 20, 80), idx, **kw)
    sink = foreach_batch_ivf_pq_maintain_segmented(idx, m_subspaces=4, dim=8)
    sink(_emb(spark, 0, 10), 0)

    def snap():
        s = read_ivf_pq_index_segmented(spark, idx)
        return sorted(tuple(r) for r in s["lists"].collect())

    want = snap()
    _sh.move(idx, idx + "__prev")  # crash inside the root swap window
    assert snap() == want  # serve resolves the parked root
    sink(_emb(spark, 10, 15), 1)  # next epoch restores + applies
    assert os.path.exists(f"{idx}/segs/seg_1")
    assert not os.path.exists(idx + "__prev")
    assert len(snap()) == len(want) + 5


# -------------------------------------- r9: join view x SCD2 dimension --


def test_join_view_scd2_asof_interleaved_equals_recompute(spark, tmp_path):
    """Fact epochs interleaved with a dimension update: each fact joins
    the dimension version effective at ITS event time, and the final view
    equals the batch as-of join over the final history."""
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_cdc_scd2,
        foreach_batch_join_view_scd2_maintain,
        read_join_view_segments,
    )

    dim_store = str(tmp_path / "dim")
    view_dir = str(tmp_path / "view")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, attr string"
    ).select(
        "k", "attr",
        F.lit("2020-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    ).write.parquet(dim_store)
    facts = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "fid long, k long, ts string"
    ).select("fid", "k", F.col("ts").cast("timestamp").alias("ts"))
    sink = foreach_batch_join_view_scd2_maintain(
        view_dir, dim_store, fact_key="k", dim_key="k",
        dim_cols=["attr"], event_time_col="ts",
    )
    # epoch 0: both facts predate any update -> seed versions
    sink(facts([(10, 1, "2023-01-01"), (11, 2, "2023-06-01")]), 0)
    # dimension update: key 1 -> 'a2', effective 2024-01-01
    ops = spark.createDataFrame(
        [(1, "2024-01-01", 1, "a2", "U")],
        "k long, ts string, event_id long, attr string, op string",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "event_id", "attr", "op")
    foreach_batch_cdc_scd2(
        dim_store, keys=["k"], attrs=["attr"], order_cols=["ts", "event_id"],
        effective_for=lambda _e: "2024-01-01",
    )(ops, 0)
    # epoch 1: one fact BEFORE the update's effective time (old version),
    # one after (new version) — both processed against the updated store
    sink(facts([(12, 1, "2023-12-31"), (13, 1, "2024-02-01")]), 1)
    got = sorted(
        tuple(r)
        for r in read_join_view_segments(spark, view_dir)
        .select("fid", "k", "attr")
        .collect()
    )
    assert got == [(10, 1, "a"), (11, 2, "b"), (12, 1, "a"), (13, 1, "a2")]
    # replay of epoch 1 is skipped (the ledger)
    sink(facts([(12, 1, "2023-12-31"), (13, 1, "2024-02-01")]), 1)
    assert read_join_view_segments(spark, view_dir).count() == 4


def test_join_view_scd2_serves_dim_parked_by_cdc_crash(spark, tmp_path):
    """A CDC-consumer crash inside ITS swap window parks the dimension at
    dim__prev; the join-view sink must keep serving from the park (its
    dim read resolves through _store_path)."""
    import shutil as _sh

    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_join_view_scd2_maintain,
        read_join_view_segments,
    )

    dim_store = str(tmp_path / "dim")
    view_dir = str(tmp_path / "view")
    spark.createDataFrame([(1, "a")], "k long, attr string").select(
        "k", "attr",
        F.lit("2020-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    ).write.parquet(dim_store)
    _sh.move(dim_store, dim_store + "__prev")  # crash inside the CDC swap
    sink = foreach_batch_join_view_scd2_maintain(
        view_dir, dim_store, fact_key="k", dim_key="k",
        dim_cols=["attr"], event_time_col="ts",
    )
    facts = spark.createDataFrame([(10, 1, "2023-01-01")], "fid long, k long, ts string").select(
        "fid", "k", F.col("ts").cast("timestamp").alias("ts")
    )
    sink(facts, 0)
    got = [tuple(r) for r in read_join_view_segments(spark, view_dir).select("fid", "k", "attr").collect()]
    assert got == [(10, 1, "a")]


# ------------------------------- r9: manifest catalog + tiered merge --


def _serve_bm25_pl(spark, idx):
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        read_bm25_index_segmented,
    )

    p, l, _ = read_bm25_index_segmented(spark, idx)
    return (
        sorted(tuple(r) for r in p.collect()),
        sorted(tuple(r) for r in l.collect()),
    )


@pytest.mark.slow
def test_tiered_merge_never_rewrites_the_giant_base(spark, tmp_path):
    """The size-tiered policy: segments holding more than half the
    store's bytes are excluded from the merge, so the seed base is never
    rewritten to absorb a few epochs — its files are byte-identical
    after a tiered compact, the small segments merge into one seg_m, and
    serve equals a monolithic rebuild."""
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        _live_segments,
        compact_bm25_segments,
        foreach_batch_bm25_maintain_segmented,
        seed_bm25_index_segmented,
    )
    from s3_to_redshift_with_airflow_spark.operators.retrieval import (
        bm25_index_build,
    )

    idx = str(tmp_path / "segidx")
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("doc_id"),
        F.concat(F.lit("body token "), (F.col("id") % 53).cast("string")).alias("text"),
    )
    seed_bm25_index_segmented(mk(0, 3000), idx)  # the giant base
    sink = foreach_batch_bm25_maintain_segmented(idx)
    sink(mk(3000, 3010), 0)
    sink(mk(3010, 3020), 1)
    base_files = sorted(os.listdir(f"{idx}/segs/seg_base/postings"))
    base_mtime = os.path.getmtime(f"{idx}/segs/seg_base/postings")
    assert compact_bm25_segments(spark, idx, tiered=True) == 1  # 2 smalls -> 1
    assert _live_segments(spark, f"{idx}/segs") == ["seg_base", "seg_m1"]
    assert sorted(os.listdir(f"{idx}/segs/seg_base/postings")) == base_files
    assert os.path.getmtime(f"{idx}/segs/seg_base/postings") == base_mtime
    assert not os.path.exists(f"{idx}/segs/seg_0")  # constituents retired
    assert not os.path.exists(f"{idx}/segs/seg_1")
    p, l = _serve_bm25_pl(spark, idx)
    bp, bl, _ = bm25_index_build(mk(0, 3020))
    assert p == sorted(tuple(r) for r in bp.collect())
    assert l == sorted(tuple(r) for r in bl.collect())
    # replay of a merged-away epoch: skipped via the ledger, not fatal
    sink(mk(3000, 3010), 0)
    assert _serve_bm25_pl(spark, idx) == (p, l)
    # a later epoch + another tiered pass merges the mid with the new small
    sink(mk(3020, 3030), 2)
    assert compact_bm25_segments(spark, idx, tiered=True) == 1
    assert _live_segments(spark, f"{idx}/segs") == ["seg_base", "seg_m2"]


@pytest.mark.slow
def test_tiered_compaction_crash_at_every_fs_op_never_double_counts(
    spark, tmp_path, monkeypatch
):
    """A tiered merge is one `_epoch_commit`: the merged seg_m born, the
    manifest replaced, the constituents removed. Killed after every fs
    op, the serve is row-identical to the pre-compaction serve — the
    merged segment and its constituents are never served together — a
    replay of a merged-away epoch stays gated, and the re-run compaction
    converges to seg_base + one seg_m with the base untouched."""
    import shutil

    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        _live_segments,
        compact_bm25_segments,
        foreach_batch_bm25_maintain_segmented,
        seed_bm25_index_segmented,
    )

    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("doc_id"),
        F.concat(F.lit("body token "), (F.col("id") % 53).cast("string")).alias("text"),
    )
    template = str(tmp_path / "ref")
    seed_bm25_index_segmented(mk(0, 3000), template)
    sink = foreach_batch_bm25_maintain_segmented(template)
    sink(mk(3000, 3010), 0)
    sink(mk(3010, 3020), 1)
    want = _serve_bm25_pl(spark, template)
    base_files = sorted(os.listdir(f"{template}/segs/seg_base/postings"))

    crash_after = 0
    while True:
        idx = str(tmp_path / f"crash{crash_after}")
        shutil.copytree(template, idx)
        sink = foreach_batch_bm25_maintain_segmented(idx)
        with patch_crashing(monkeypatch, [crash_after]):
            try:
                compact_bm25_segments(spark, idx, tiered=True)
                completed = True
            except CrashNow:
                completed = False
        assert _serve_bm25_pl(spark, idx) == want, f"crash point {crash_after}"
        sink(mk(3000, 3010), 0)  # replay of a merged-away epoch: gated
        assert _serve_bm25_pl(spark, idx) == want, f"crash point {crash_after}"
        compact_bm25_segments(spark, idx, tiered=True)  # converges
        assert _live_segments(spark, f"{idx}/segs") == ["seg_base", "seg_m1"]
        assert sorted(os.listdir(f"{idx}/segs/seg_base/postings")) == base_files
        assert not os.path.exists(f"{idx}/segs/seg_0")
        assert _serve_bm25_pl(spark, idx) == want
        if completed:
            break
        crash_after += 1
    # staged manifest, journal, begin, four units, ledger, cleanup
    assert crash_after >= 10


@pytest.mark.slow
def test_join_view_epoch_crash_at_every_fs_op_lands_once_on_replay(
    spark, tmp_path, monkeypatch
):
    """An epoch's segment and the manifest listing it commit together:
    killed after every fs op of a join-view epoch (on a store grown
    maintainer-first, whose manifest came from its first epoch), the
    serve answers the complete pre- or post-epoch view, and the
    at-least-once re-delivery lands the epoch exactly once — a segment
    installed but not committed is rewound, never served beside its
    replay — while an older replay stays skipped and a fresh epoch
    applies."""
    import shutil

    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        _live_segments,
        foreach_batch_join_view_maintain,
        read_join_view_segments,
    )

    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, attr string"
    ).write.parquet(dim_path)
    facts = lambda rows: spark.createDataFrame(rows, "fid long, k long")  # noqa: E731

    def maintain(view_dir):
        return foreach_batch_join_view_maintain(
            view_dir, dim_path, fact_key="k", dim_key="k", dim_cols=["attr"]
        )

    def snap(view_dir):
        return sorted(
            tuple(r)
            for r in read_join_view_segments(spark, view_dir)
            .select("fid", "k", "attr")
            .collect()
        )

    template = str(tmp_path / "ref")
    maintain(template)(facts([(10, 1)]), 0)
    want_pre = snap(template)
    want_post = want_pre + [(11, 2, "b")]

    crash_after = 0
    while True:
        view = str(tmp_path / f"crash{crash_after}")
        shutil.copytree(template, view)
        sink = maintain(view)
        with patch_crashing(monkeypatch, [crash_after]):
            try:
                sink(facts([(11, 2)]), 1)
                completed = True
            except CrashNow:
                completed = False
        assert snap(view) in (want_pre, want_post), f"crash point {crash_after}"
        sink(facts([(11, 2)]), 1)  # re-delivery lands it exactly once
        assert snap(view) == want_post, f"crash point {crash_after}"
        sink(facts([(10, 1)]), 0)  # an older replay stays skipped
        assert snap(view) == want_post
        sink(facts([(12, 1)]), 2)  # a fresh epoch applies
        assert snap(view) == want_post + [(12, 1, "a")]
        assert _live_segments(spark, f"{view}/segs") == ["seg_0", "seg_1", "seg_2"]
        if completed:
            break
        crash_after += 1
    # staged manifest, journal, begin, segment, manifest, ledger, cleanup
    assert crash_after >= 8


# ------------------------------- r10: store-wide summary bloom (tier 1.5) --


@pytest.mark.slow
def test_summary_bloom_proves_covered_segments_disjoint(spark, tmp_path):
    """VERDICT r9 #5: after a compaction the store-wide summary covers
    every live segment, so an interleaved-but-absent delta is proven
    disjoint by ONE capped read — no per-segment bitmap fetches — and
    the probe still returns [] (correct skip of tier 3)."""
    from pyspark.sql import functions as F

    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        _bloom_suspect_segments,
        _live_segments,
        _summary_covered_disjoint,
        compact_bm25_segments,
        foreach_batch_bm25_maintain_segmented,
        seed_bm25_index_segmented,
    )

    idx = str(tmp_path / "idx")
    # even doc ids only — odd ids are interleaved-but-absent
    docs = spark.range(200).select(
        (F.col("id") * 2).alias("doc_id"),
        F.concat(F.lit("doc words number "), F.col("id").cast("string")).alias(
            "text"
        ),
    )
    seed_bm25_index_segmented(docs.filter(F.col("doc_id") < 300), idx)
    sink = foreach_batch_bm25_maintain_segmented(idx)
    sink(docs.filter(F.col("doc_id") >= 300), 0)
    assert compact_bm25_segments(spark, idx) == 1
    segs = f"{idx}/segs"
    live = _live_segments(spark, segs)
    odd = spark.range(50).select((F.col("id") * 2 + 1).alias("doc_id"))
    # the summary alone clears EVERY live segment
    assert _summary_covered_disjoint(spark, segs, odd, "doc_id", live) == set(live)
    assert _bloom_suspect_segments(spark, segs, odd, "doc_id") == []


@pytest.mark.slow
def test_summary_hit_falls_through_to_per_segment_localization(spark, tmp_path):
    """A delta containing an indexed id HITS the summary — which cannot
    localize — so the per-segment tier takes over and names exactly the
    right suspect; disjointness answers stay correct either way."""
    from pyspark.sql import functions as F

    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        _bloom_suspect_segments,
        _live_segments,
        _summary_covered_disjoint,
        compact_bm25_segments,
        foreach_batch_bm25_maintain_segmented,
        seed_bm25_index_segmented,
    )

    idx = str(tmp_path / "idx")
    docs = spark.range(200).select(
        (F.col("id") * 2).alias("doc_id"),
        F.concat(F.lit("doc words number "), F.col("id").cast("string")).alias(
            "text"
        ),
    )
    seed_bm25_index_segmented(docs.filter(F.col("doc_id") < 300), idx)
    sink = foreach_batch_bm25_maintain_segmented(idx)
    sink(docs.filter(F.col("doc_id") >= 300), 0)
    assert compact_bm25_segments(spark, idx) == 1  # summary refreshed
    segs = f"{idx}/segs"
    live = _live_segments(spark, segs)
    dirty = spark.range(1).select(F.lit(42).alias("doc_id"))  # indexed id
    assert _summary_covered_disjoint(spark, segs, dirty, "doc_id", live) == set()
    suspects = _bloom_suspect_segments(spark, segs, dirty, "doc_id")
    assert suspects == ["seg_base"]


def test_stale_summary_covers_old_segments_new_ones_probe_individually(
    spark, tmp_path
):
    """Segments published AFTER the summary aren't covered: the summary
    still clears the compacted mass, the recents fall through to their
    own bitmaps, and the combined probe stays correct for both a
    disjoint delta and one that collides with a RECENT segment."""
    from pyspark.sql import functions as F

    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        _bloom_suspect_segments,
        compact_bm25_segments,
        foreach_batch_bm25_maintain_segmented,
        seed_bm25_index_segmented,
    )

    idx = str(tmp_path / "idx")
    docs = spark.range(200).select(
        (F.col("id") * 2).alias("doc_id"),
        F.concat(F.lit("doc words number "), F.col("id").cast("string")).alias(
            "text"
        ),
    )
    seed_bm25_index_segmented(docs.filter(F.col("doc_id") < 300), idx)
    assert compact_bm25_segments(spark, idx) == 0  # no merge; summary fresh
    sink = foreach_batch_bm25_maintain_segmented(idx)
    sink(docs.filter(F.col("doc_id") >= 300), 5)  # post-summary segment
    segs = f"{idx}/segs"
    odd = spark.range(50).select((F.col("id") * 2 + 1).alias("doc_id"))
    assert _bloom_suspect_segments(spark, segs, odd, "doc_id") == []
    in_recent = spark.range(1).select(F.lit(300).alias("doc_id"))
    assert _bloom_suspect_segments(spark, segs, in_recent, "doc_id") == ["seg_5"]


def _patch_summary_caps(monkeypatch, max_bits=4096, min_bits=32):
    """Shrink the summary constants so the shard path exercises in
    milliseconds: max single-bloom ids = max_bits//8, per-shard full-
    quality ids = max_bits//32."""
    import s3_to_redshift_with_airflow_spark.streaming.pipeline as pl

    monkeypatch.setattr(pl, "_SEG_SUMMARY_MAX_BITS", max_bits)
    monkeypatch.setattr(pl, "_SEG_BLOOM_MIN_BITS", min_bits)
    return pl


def test_summary_shards_past_single_bloom_cap(spark, tmp_path, monkeypatch):
    """VERDICT r10 next #3: past the single-bloom cap the summary SHARDS
    by id range instead of refusing — the former saturation cliff. An
    interleaved-but-absent delta is still proven disjoint for every
    covered segment, and a delta containing an indexed id still demotes
    to the per-segment tier (never wrong, only less helpful)."""
    import os

    from pyspark.sql import functions as F

    pl = _patch_summary_caps(monkeypatch)
    segs = str(tmp_path / "segs")
    os.makedirs(segs)
    # 513 even ids > cap//8 = 512 -> sharded path; 5 shards of <=128 ids
    ids = spark.range(513).select((F.col("id") * 2).alias("doc_id"))
    pl._write_segment_summary(spark, segs, ids, "doc_id", ["seg_base", "seg_m3"])
    assert os.path.exists(f"{segs}/_summary/_meta")
    shard_dirs = [
        d for d in os.listdir(f"{segs}/_summary") if d.startswith("shard=")
    ]
    assert len(shard_dirs) > 1  # genuinely sharded, not one big bloom
    covered = ["seg_base", "seg_m3"]
    odd = spark.range(100).select((F.col("id") * 2 + 1).alias("doc_id"))
    assert (
        pl._summary_covered_disjoint(spark, segs, odd, "doc_id", covered)
        == set(covered)
    )
    dirty = spark.range(1).select(F.lit(42).alias("doc_id"))  # indexed id
    assert (
        pl._summary_covered_disjoint(spark, segs, dirty, "doc_id", covered)
        == set()
    )


def test_sharded_summary_out_of_domain_ids_proven_absent_for_free(
    spark, tmp_path, monkeypatch
):
    """Delta ids outside the built id domain (or routing to a shard no
    build id landed in) are proven absent WITHOUT reading any shard
    bitmap — the build put nothing there."""
    import os

    from pyspark.sql import functions as F

    pl = _patch_summary_caps(monkeypatch)
    segs = str(tmp_path / "segs")
    os.makedirs(segs)
    ids = spark.range(513).select((F.col("id") * 2).alias("doc_id"))
    pl._write_segment_summary(spark, segs, ids, "doc_id", ["seg_base"])
    beyond = spark.range(10).select((F.col("id") + 10_000).alias("doc_id"))
    assert pl._summary_covered_disjoint(
        spark, segs, beyond, "doc_id", ["seg_base"]
    ) == {"seg_base"}
    below = spark.range(10).select((F.col("id") - 500).alias("doc_id"))
    assert pl._summary_covered_disjoint(
        spark, segs, below, "doc_id", ["seg_base"]
    ) == {"seg_base"}


def test_sharded_summary_point_mass_stays_correct(spark, tmp_path, monkeypatch):
    """The residual honest cliff: a point-mass id distribution collapses
    into ONE shard. That shard may saturate (always-hit for its ids) but
    answers stay correct — absent ids in other ranges are still proven
    absent, and the present id demotes."""
    import os

    from pyspark.sql import functions as F

    pl = _patch_summary_caps(monkeypatch)
    segs = str(tmp_path / "segs")
    os.makedirs(segs)
    ids = spark.range(600).select(F.lit(7).cast("bigint").alias("doc_id"))
    pl._write_segment_summary(spark, segs, ids, "doc_id", ["seg_base"])
    assert os.path.exists(f"{segs}/_summary/_meta")
    present = spark.range(1).select(F.lit(7).cast("bigint").alias("doc_id"))
    assert (
        pl._summary_covered_disjoint(spark, segs, present, "doc_id", ["seg_base"])
        == set()
    )
    absent = spark.range(5).select((F.col("id") + 100).alias("doc_id"))
    assert pl._summary_covered_disjoint(
        spark, segs, absent, "doc_id", ["seg_base"]
    ) == {"seg_base"}


def test_summary_write_still_refuses_non_numeric_ids_past_cap(
    spark, tmp_path, monkeypatch
):
    """Range sharding needs a numeric id domain; a string-keyed store
    past the cap keeps the r10 refusal (no useless artifact published,
    per-segment tier carries the probes)."""
    import os

    from pyspark.sql import functions as F

    pl = _patch_summary_caps(monkeypatch)
    segs = str(tmp_path / "segs")
    os.makedirs(segs)
    ids = spark.range(600).select(
        F.concat(F.lit("id-"), F.col("id").cast("string")).alias("doc_id")
    )
    pl._write_segment_summary(spark, segs, ids, "doc_id", ["seg_base"])
    assert not os.path.exists(f"{segs}/_summary")


# ------------------------------------------------- keyed point lookup --


def test_bucketed_store_keyed_lookup_equals_filtered_read(spark, tmp_path):
    """read_bucketed_store_keyed == full read filtered to the keys; only
    the touched bucket dirs exist in the plan's paths; a legacy store
    without the _layout sidecar raises with the fix named."""
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        read_bucketed_store,
        read_bucketed_store_keyed,
        write_bucketed_store,
    )

    df = spark.range(500).select(
        F.col("id").alias("user_id"),
        (F.col("id") % 7).alias("v"),
    )
    target = str(tmp_path / "dim")
    write_bucketed_store(df, target, ["user_id"], 16)
    wanted = spark.createDataFrame([(3,), (250,), (499,)], "user_id bigint")
    got = sorted(
        tuple(r)
        for r in read_bucketed_store_keyed(spark, target, wanted).collect()
    )
    want = sorted(
        tuple(r)
        for r in read_bucketed_store(spark, target)
        .filter(F.col("user_id").isin(3, 250, 499))
        .collect()
    )
    assert got == want and len(got) == 3
    # a key that never landed: empty, no error
    ghost = spark.createDataFrame([(10_000,)], "user_id bigint")
    assert read_bucketed_store_keyed(spark, target, ghost).count() == 0
    # legacy store (no sidecar): explicit refusal, not a wrong-dir probe
    legacy = str(tmp_path / "legacy")
    (
        df.withColumn(
            "bucket", F.pmod(F.xxhash64("user_id"), F.lit(16)).cast("int")
        )
        .write.partitionBy("bucket")
        .parquet(legacy)
    )
    with pytest.raises(ValueError, match="_layout"):
        read_bucketed_store_keyed(spark, legacy, wanted)
