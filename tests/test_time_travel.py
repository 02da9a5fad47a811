"""Time-travel reads for the segment stores (VERDICT r10 next #6):
`read_*_at(epoch)` resolves the `_manifest` catalog + per-segment epoch
coverage (`_covers` sidecars) to the exact segment set as of a past
epoch — bit-equal to a batch build over epochs <= N while later epochs
stay live — and compaction keeps read-at exact for still-cataloged
epochs (folded-away epochs raise instead of silently serving merged
history). Reference parity note: the reference's staging layer keeps
only the latest load (extract_stream_data.py:24); reproducible
snapshots are the extension an auditable training-data pipeline needs.
"""

import pytest
from pyspark.sql import functions as F

from s3_to_redshift_with_airflow_spark.operators.retrieval import (
    bm25_index_build,
)
from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
    compact_bm25_segments,
    compact_join_view_segments,
    foreach_batch_bm25_maintain_segmented,
    foreach_batch_ivf_pq_maintain_segmented,
    foreach_batch_join_view_maintain,
    read_bm25_index_segmented,
    read_bm25_index_segmented_at,
    read_ivf_pq_index_segmented,
    read_ivf_pq_index_segmented_at,
    read_join_view_segments,
    read_join_view_segments_at,
    seed_bm25_index_segmented,
    seed_ivf_pq_index_segmented,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _snap(p, l, s):
    return (
        sorted(tuple(r) for r in p.collect()),
        sorted(tuple(r) for r in l.collect()),
        [tuple(r) for r in s.collect()],
    )


@pytest.mark.slow
def test_bm25_read_at_equals_prefix_build(spark, tmp_path):
    idx = str(tmp_path / "idx")
    a = _docs(spark, [(1, "spark shuffles data"), (2, "data moves in shuffles")])
    b = _docs(spark, [(3, "broadcast joins move no data")])
    c = _docs(spark, [(4, "sorted postings skip row groups")])
    seed_bm25_index_segmented(a, idx)
    sink = foreach_batch_bm25_maintain_segmented(idx)
    sink(b, 0)
    sink(c, 1)
    # as-of each epoch == batch build over exactly that prefix
    assert _snap(*read_bm25_index_segmented_at(spark, idx, -1)) == _snap(
        *bm25_index_build(a)
    )
    assert _snap(*read_bm25_index_segmented_at(spark, idx, 0)) == _snap(
        *bm25_index_build(a.unionByName(b))
    )
    assert _snap(*read_bm25_index_segmented_at(spark, idx, 1)) == _snap(
        *bm25_index_build(a.unionByName(b).unionByName(c))
    )
    # later epochs stayed live: the full read still serves doc 4
    full = read_bm25_index_segmented(spark, idx)[1]
    assert full.filter(F.col("doc_id") == 4).count() == 1
    # an as-of read between applied epochs snaps to what existed (<= N)
    assert _snap(*read_bm25_index_segmented_at(spark, idx, 5)) == _snap(
        *read_bm25_index_segmented(spark, idx)
    )


@pytest.mark.slow
def test_bm25_read_at_survives_tiered_compaction(spark, tmp_path):
    idx = str(tmp_path / "idx")
    # big seed (stays excluded by the >half-bytes tier rule), tiny epochs
    seed = _docs(
        spark, [(i, f"seed document number {i} about spark data") for i in range(200)]
    )
    seed_bm25_index_segmented(seed, idx)
    sink = foreach_batch_bm25_maintain_segmented(idx)
    eps = {
        0: _docs(spark, [(1000, "epoch zero data")]),
        1: _docs(spark, [(1001, "epoch one data")]),
        2: _docs(spark, [(1002, "epoch two data")]),
    }
    for e, d in eps.items():
        sink(d, e)
    pre = {
        e: _snap(*read_bm25_index_segmented_at(spark, idx, e)) for e in (-1, 0, 1, 2)
    }
    merged = compact_bm25_segments(spark, idx, tiered=True)
    assert merged == 2  # seg_0..seg_2 -> seg_m2; seg_base excluded
    # still-cataloged epochs: the merge top (2) and everything below the
    # fold's min (-1, the seed) stay EXACT; epochs inside the fold raise
    assert _snap(*read_bm25_index_segmented_at(spark, idx, 2)) == pre[2]
    assert _snap(*read_bm25_index_segmented_at(spark, idx, -1)) == pre[-1]
    for folded in (0, 1):
        with pytest.raises(ValueError, match="time-travel horizon"):
            read_bm25_index_segmented_at(spark, idx, folded)
    # epochs appended AFTER the merge are individually servable again
    sink(_docs(spark, [(1003, "epoch three data")]), 3)
    assert _snap(*read_bm25_index_segmented_at(spark, idx, 2)) == pre[2]
    got3 = _snap(*read_bm25_index_segmented_at(spark, idx, 3))
    assert got3 == _snap(*read_bm25_index_segmented(spark, idx))


@pytest.mark.slow
def test_bm25_read_at_after_full_merge(spark, tmp_path):
    idx = str(tmp_path / "idx")
    a = _docs(spark, [(1, "spark data"), (2, "more data")])
    seed_bm25_index_segmented(a, idx)
    sink = foreach_batch_bm25_maintain_segmented(idx)
    sink(_docs(spark, [(3, "epoch zero")]), 0)
    sink(_docs(spark, [(4, "epoch one")]), 1)
    pre_top = _snap(*read_bm25_index_segmented_at(spark, idx, 1))
    assert compact_bm25_segments(spark, idx) == 2  # all-merge -> seg_base
    # the fold's top stays exact (seg_base now carries covers [-1,0,1])
    assert _snap(*read_bm25_index_segmented_at(spark, idx, 1)) == pre_top
    for folded in (-1, 0):
        with pytest.raises(ValueError, match="time-travel horizon"):
            read_bm25_index_segmented_at(spark, idx, folded)


def test_join_view_read_at(spark, tmp_path):
    dim = spark.createDataFrame(
        [(1, "rock"), (2, "jazz")], "genre_id bigint, genre string"
    )
    dim_path = str(tmp_path / "dim")
    dim.write.parquet(dim_path)
    view = str(tmp_path / "view")
    sink = foreach_batch_join_view_maintain(view, dim_path, "g", "genre_id", ["genre"])
    f0 = spark.createDataFrame([(10, 1), (11, 2)], "play_id bigint, g bigint")
    f1 = spark.createDataFrame([(12, 1)], "play_id bigint, g bigint")
    sink(f0, 0)
    sink(f1, 1)
    at0 = read_join_view_segments_at(spark, view, 0)
    assert sorted(r["play_id"] for r in at0.collect()) == [10, 11]
    # nothing existed before epoch 0: typed empty view, not an error
    at_pre = read_join_view_segments_at(spark, view, -1)
    assert at_pre.count() == 0 and set(at_pre.columns) == set(at0.columns)
    # full read still carries the later epoch
    assert read_join_view_segments(spark, view).count() == 3
    assert compact_join_view_segments(spark, view) == 1  # 2 segs -> seg_base
    with pytest.raises(ValueError, match="time-travel horizon"):
        read_join_view_segments_at(spark, view, 0)
    assert read_join_view_segments_at(spark, view, 1).count() == 3


@pytest.mark.slow
def test_time_travel_under_random_publish_compact_schedules(spark):
    """Property (hypothesis): under ANY interleaving of epoch publishes
    and compactions, read_at(e) either serves EXACTLY the union of
    epochs <= e or raises the horizon error — and it raises only when a
    live segment genuinely folds epochs from both sides of the cut
    (never for the store's top epoch, never for epochs published after
    the last fold)."""
    import tempfile

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    ops = st.lists(
        st.one_of(
            st.tuples(st.just("pub"), st.integers(min_value=1, max_value=3)),
            st.just(("compact", 0)),
        ),
        min_size=1,
        max_size=5,
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(schedule=ops)
    def run(schedule):
        dim = spark.createDataFrame([(1, "x")], "g bigint, nm string")
        base = tempfile.mkdtemp(prefix="tt_prop_")
        dim_path = f"{base}/dim"
        dim.write.parquet(dim_path)
        view = f"{base}/view"
        sink = foreach_batch_join_view_maintain(view, dim_path, "g", "g", ["nm"])
        next_id = [0]
        epoch_rows: dict[int, list[int]] = {}
        folds: list[tuple[int, int]] = []  # (min_cov, max_cov) per merge
        epoch = 0
        for op, n in schedule:
            if op == "pub":
                rows = [(next_id[0] + i, 1) for i in range(n)]
                next_id[0] += n
                sink(
                    spark.createDataFrame(rows, "rid bigint, g bigint"), epoch
                )
                epoch_rows[epoch] = [r[0] for r in rows]
                epoch += 1
            elif epoch_rows:
                lo = min(
                    [e for e, _ in ([(f[0], 0) for f in folds])] + list(epoch_rows)
                )
                hi = max(epoch_rows)
                if compact_join_view_segments(spark, view) > 0:
                    folds.append((lo, hi))
        if not epoch_rows:
            return
        top = max(epoch_rows)
        for e in range(-1, top + 1):
            should_raise = any(mn <= e < mx for mn, mx in folds)
            if should_raise:
                with pytest.raises(ValueError, match="time-travel horizon"):
                    read_join_view_segments_at(spark, view, e)
            else:
                got = sorted(
                    r["rid"]
                    for r in read_join_view_segments_at(spark, view, e).collect()
                )
                want = sorted(
                    rid
                    for ep, rids in epoch_rows.items()
                    if ep <= e
                    for rid in rids
                )
                assert got == want, f"as-of {e}: {got} != {want}"
        # the top epoch must ALWAYS be servable and equal the live read
        assert read_join_view_segments_at(spark, view, top).count() == sum(
            len(v) for v in epoch_rows.values()
        )

    run()


def test_dedup_gate_corpus_read_at(spark, tmp_path):
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_dedup_gate,
        read_dedup_gate_corpus,
        read_dedup_gate_corpus_at,
    )

    store = str(tmp_path / "gate")
    sink = foreach_batch_dedup_gate(store)
    sink(_docs(spark, [(1, "alpha text"), (2, "alpha text"), (3, "beta")]), 0)
    sink(_docs(spark, [(4, "beta"), (5, "gamma")]), 1)  # 4 is a cross-epoch dup
    sink(_docs(spark, [(6, "delta")]), 2)
    ids_at = lambda e: sorted(  # noqa: E731
        r["doc_id"] for r in read_dedup_gate_corpus_at(spark, store, e).collect()
    )
    # snapshots are exact at every epoch; accepted segments never compact
    assert ids_at(0) == [1, 3]
    assert ids_at(1) == [1, 3, 5]
    assert ids_at(2) == [1, 3, 5, 6]
    # later epochs stay live; pre-history snapshot is typed-empty
    assert sorted(
        r["doc_id"] for r in read_dedup_gate_corpus(spark, store).collect()
    ) == [1, 3, 5, 6]
    assert read_dedup_gate_corpus_at(spark, store, -1).count() == 0
    # corpus diff: exactly what entered between snapshots, nothing read
    # beyond the between-snapshot segments
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        read_dedup_gate_corpus_diff,
    )

    diff_ids = lambda a, b: sorted(  # noqa: E731
        r["doc_id"]
        for r in read_dedup_gate_corpus_diff(spark, store, a, b).collect()
    )
    assert diff_ids(0, 2) == [5, 6]
    assert diff_ids(0, 1) == [5]
    assert diff_ids(1, 1) == []  # empty range
    with pytest.raises(ValueError, match="backwards"):
        read_dedup_gate_corpus_diff(spark, store, 2, 0)


def test_dedup_gate_all_duplicate_epoch_writes_nothing(spark, tmp_path):
    """An epoch whose every doc is a duplicate commits only the ledger:
    accepted/ and every fps/bucket=K file keep their names and bytes, no
    segment is born, and the corpus reads treat the segment-less epoch as
    an empty one — read_at(E) is the epoch E-1 corpus, diff(E-1, E) is
    empty — before and after a compaction folds around it."""
    import os

    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        _last_applied_epoch,
        compact_dedup_gate_corpus,
        foreach_batch_dedup_gate,
        read_dedup_gate_corpus_at,
        read_dedup_gate_corpus_diff,
    )

    store = str(tmp_path / "gate")
    sink = foreach_batch_dedup_gate(store, n_buckets=4)

    def files(sub):
        out = {}
        for d, _, names in os.walk(f"{store}/{sub}"):
            for name in names:
                with open(os.path.join(d, name), "rb") as f:
                    out[os.path.relpath(os.path.join(d, name), store)] = f.read()
        return out

    def ids_at(e):
        return sorted(
            r["doc_id"]
            for r in read_dedup_gate_corpus_at(spark, store, e).collect()
        )

    def diff_ids(a, b):
        return sorted(
            r["doc_id"]
            for r in read_dedup_gate_corpus_diff(spark, store, a, b).collect()
        )

    sink(_docs(spark, [(1, "alpha"), (2, "beta")]), 0)
    sink(_docs(spark, [(3, "gamma"), (4, "ALPHA")]), 1)
    before = files("accepted"), files("fps")
    sink(_docs(spark, [(5, "Beta"), (6, "gamma  ")]), 2)  # all duplicates
    assert (files("accepted"), files("fps")) == before
    assert _last_applied_epoch(spark, store) == 2
    assert ids_at(2) == ids_at(1) == [1, 2, 3]
    assert diff_ids(1, 2) == []
    assert diff_ids(0, 2) == [3]

    # a compaction folds around the segment-less epoch 2
    sink(_docs(spark, [(7, "delta")]), 3)
    assert compact_dedup_gate_corpus(spark, store) == 2  # seg_0,1,3 -> 1
    sink(_docs(spark, [(8, "DELTA")]), 4)  # all duplicates, above the fold
    sink(_docs(spark, [(9, "eps")]), 5)
    assert ids_at(3) == ids_at(4) == [1, 2, 3, 7]
    assert ids_at(5) == [1, 2, 3, 7, 9]
    assert diff_ids(3, 4) == [] and diff_ids(4, 5) == [9]
    with pytest.raises(ValueError, match="time-travel horizon"):
        ids_at(2)  # inside the fold


def test_dedup_gate_compaction_never_folds_an_uncommitted_segment(
    spark, tmp_path, monkeypatch
):
    """A gate epoch that crashed after installing its segment but before
    its ledger is rewound by the next compaction before it folds, so the
    replay republishes the epoch once: no doc is served twice."""
    import s3_to_redshift_with_airflow_spark.streaming.pipeline as pl
    from tests.crashfs import CrashNow, crash_at_ledger

    store = str(tmp_path / "gate")
    sink = pl.foreach_batch_dedup_gate(store, n_buckets=4)
    ids = lambda: sorted(  # noqa: E731
        r["doc_id"] for r in pl.read_dedup_gate_corpus(spark, store).collect()
    )
    sink(_docs(spark, [(1, "alpha")]), 0)
    sink(_docs(spark, [(2, "beta")]), 1)
    with crash_at_ledger(monkeypatch), pytest.raises(CrashNow):
        sink(_docs(spark, [(3, "gamma")]), 2)
    assert ids() == [1, 2, 3]  # installed, not committed
    assert pl.compact_dedup_gate_corpus(spark, store) == 1
    assert ids() == [1, 2]
    sink(_docs(spark, [(3, "gamma")]), 2)  # the replay
    assert ids() == [1, 2, 3]


@pytest.mark.slow
def test_dedup_gate_corpus_compaction(spark, tmp_path):
    """Folding the accepted segments bounds segment count while keeping
    the served corpus row-identical; read_at stays exact above the fold
    and raises inside it; a REPLAYED folded epoch changes nothing."""
    import os

    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        compact_dedup_gate_corpus,
        foreach_batch_dedup_gate,
        read_dedup_gate_corpus,
        read_dedup_gate_corpus_at,
        read_dedup_gate_corpus_diff,
    )

    store = str(tmp_path / "gate")
    sink = foreach_batch_dedup_gate(store)
    sink(_docs(spark, [(1, "alpha"), (2, "beta")]), 0)
    sink(_docs(spark, [(3, "gamma")]), 1)
    sink(_docs(spark, [(4, "delta")]), 2)
    live = lambda: sorted(  # noqa: E731
        r["doc_id"] for r in read_dedup_gate_corpus(spark, store).collect()
    )
    before = live()
    assert compact_dedup_gate_corpus(spark, store) == 2  # 3 segs -> 1
    assert live() == before == [1, 2, 3, 4]
    segs = [
        d for d in os.listdir(f"{store}/accepted") if not d.startswith(("_", "."))
    ]
    assert segs == ["seg_m2"]
    # catalog: the fold top stays exact; inside the fold raises
    assert sorted(
        r["doc_id"] for r in read_dedup_gate_corpus_at(spark, store, 2).collect()
    ) == [1, 2, 3, 4]
    with pytest.raises(ValueError, match="time-travel horizon"):
        read_dedup_gate_corpus_at(spark, store, 1)
    with pytest.raises(ValueError, match="time-travel horizon"):
        read_dedup_gate_corpus_diff(spark, store, 1, 2)
    # a post-fold epoch is cataloged and diffable again
    sink(_docs(spark, [(5, "epsilon"), (6, "alpha")]), 3)  # 6 is a dup
    assert live() == [1, 2, 3, 4, 5]
    assert sorted(
        r["doc_id"]
        for r in read_dedup_gate_corpus_diff(spark, store, 2, 3).collect()
    ) == [5]
    # REPLAY of a folded epoch: the gate's ledger skips it, the corpus
    # is unchanged
    sink(_docs(spark, [(3, "gamma")]), 1)
    assert live() == [1, 2, 3, 4, 5]
    assert compact_dedup_gate_corpus(spark, store) >= 1  # refold converges
    assert live() == [1, 2, 3, 4, 5]


@pytest.mark.slow
def test_ivf_pq_read_at(spark, tmp_path):
    import random

    rng = random.Random(7)
    dim = 8

    def emb(ids):
        return spark.createDataFrame(
            [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in ids],
            "vec_id bigint, embedding array<double>",
        )

    idx = str(tmp_path / "ivf")
    seed_ivf_pq_index_segmented(
        emb(range(32)), idx, km_k=4, m_subspaces=2, k_centroids=4, dim=dim
    )
    sink = foreach_batch_ivf_pq_maintain_segmented(idx, m_subspaces=2, dim=dim)
    sink(emb([100, 101]), 0)
    sink(emb([102]), 1)
    at0 = read_ivf_pq_index_segmented_at(spark, idx, 0)
    assert sorted(r["vec_id"] for r in at0["lists"].collect()) == [
        *range(32),
        100,
        101,
    ]
    assert at0["codes"].select("vec_id").distinct().count() == 34
    # frozen quantizers: as-of serves the SAME root tables as live
    live = read_ivf_pq_index_segmented(spark, idx)
    assert sorted(map(tuple, at0["centroids"].collect())) == sorted(
        map(tuple, live["centroids"].collect())
    )
    assert live["lists"].count() == 35  # later epoch still live
