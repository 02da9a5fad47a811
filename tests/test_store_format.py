"""One on-disk format per store: every store-metadata reader accepts
only the shape the current writers produce. A pre-round-12 parquet-dir
sidecar, a missing per-segment file, or an empty marker is refused with
a ValueError naming the file and the fix (re-seed the store) — never
served through a fallback, and never read as "absent" (an empty ledger
read as -1 would let a merged-away epoch's replay hit the disjointness
guard and fail the stream). Files of the retired segment protocol — a
store without a `_manifest`, a `compaction_marker` — are refused too.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
    compact_bm25_segments,
    compact_weighted_relation_store,
    foreach_batch_bm25_maintain_segmented,
    foreach_batch_join_relation_retract_maintain,
    foreach_batch_upsert_bucketed,
    read_bm25_index_segmented,
    read_bm25_index_segmented_at,
    read_weighted_relation_store,
    seed_bm25_index_segmented,
    seed_weighted_relation_store,
    write_bucketed_store,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """A BM25 segment store (seed, one epoch, full merge, one more epoch:
    merged seg_base with `_covers`, `_ledger`, manifest, summary with
    `_smeta`), a relation store (one epoch, compacted: `_ledger`
    and `_compacted`) and a seeded bucketed upsert store, each built once
    and copied per case."""
    base = tmp_path_factory.mktemp("formats")
    bm25 = str(base / "bm25")
    seed_bm25_index_segmented(
        _docs(spark, [(1, "spark shuffles data"), (3, "data moves")]), bm25
    )
    sink = foreach_batch_bm25_maintain_segmented(bm25)
    sink(_docs(spark, [(5, "broadcast joins")]), 0)
    compact_bm25_segments(spark, bm25)
    sink(_docs(spark, [(7, "sorted postings")]), 1)

    rel = str(base / "relation")
    dim = str(base / "dim")
    spark.range(4).select(
        F.col("id").alias("d_k"), F.lit("s").alias("seg")
    ).write.parquet(dim)
    seed_weighted_relation_store(
        spark.createDataFrame(
            [(0, 1, "s", 1)], "f_k bigint, pay bigint, seg string, w bigint"
        ),
        rel,
        ["f_k"],
        4,
    )
    foreach_batch_join_relation_retract_maintain(
        rel, dim, fact_key="f_k", dim_key="d_k", dim_cols=["seg"],
        bucket_keys=["f_k"], n_buckets=4,
    )(spark.createDataFrame([(1, 2, 1)], "f_k bigint, pay bigint, w int"), 0)
    compact_weighted_relation_store(spark, rel)

    bucketed = str(base / "bucketed")
    write_bucketed_store(
        spark.range(8).select(F.col("id").alias("k"), F.col("id").alias("v")),
        bucketed,
        ["k"],
        4,
    )
    return {"bm25": bm25, "relation": rel, "bucketed": bucketed}


def _bm25_epoch(spark, root, doc_id):
    foreach_batch_bm25_maintain_segmented(root)(_docs(spark, [(doc_id, "new doc")]), 2)


_ACTIONS = {
    "serve": lambda spark, root: read_bm25_index_segmented(spark, root)[2].collect(),
    "serve_at": lambda spark, root: read_bm25_index_segmented_at(spark, root, 1),
    # id 9 is past every segment's id range: only the ledger and the
    # bitmaps' presence are consulted
    "epoch": lambda spark, root: _bm25_epoch(spark, root, 9),
    # id 2 falls inside seg_base's range: the summary tier reads `_smeta`
    "epoch_in_range": lambda spark, root: _bm25_epoch(spark, root, 2),
    "relation_serve": lambda spark, root: read_weighted_relation_store(spark, root),
    "relation_compact": lambda spark, root: compact_weighted_relation_store(
        spark, root
    ),
    "upsert_epoch": lambda spark, root: foreach_batch_upsert_bucketed(
        root, keys=["k"], n_buckets=4
    )(spark.createDataFrame([(1, 5)], "k bigint, v bigint"), 0),
}

# (store, file relative to the store root, shape it is rewritten into,
# the reader that must refuse it)
_CASES = {
    "ledger_parquet": ("relation", "_ledger", "parquet", "relation_serve"),
    "manifest_parquet": ("bm25", "segs/_manifest", "parquet", "serve"),
    "covers_parquet": ("bm25", "segs/seg_base/_covers", "parquet", "serve_at"),
    "inflight_parquet": (
        "relation", "__relprev/_inflight", "parquet", "relation_compact"
    ),
    "bm25_ledger_parquet": ("bm25", "_ledger", "parquet", "epoch"),
    "compacted_parquet": ("relation", "_compacted", "parquet", "relation_serve"),
    "idbloom_missing": ("bm25", "segs/seg_base/idbloom", "missing", "epoch"),
    "stats_missing": ("bm25", "segs/seg_1/_stats", "missing", "serve"),
    "smeta_missing": ("bm25", "segs/_summary/_smeta", "missing", "epoch_in_range"),
    "merged_covers_missing": ("bm25", "segs/seg_base/_covers", "missing", "serve_at"),
    "bm25_ledger_empty": ("bm25", "_ledger", "empty", "epoch"),
    "compacted_empty": ("relation", "_compacted", "empty", "relation_serve"),
    "stats_empty": ("bm25", "segs/seg_base/_stats", "empty", "serve"),
    "smeta_empty": ("bm25", "segs/_summary/_smeta", "empty", "epoch_in_range"),
    # crash parks of the retired bucketed-store protocols, which a
    # journal-less root cannot tell apart from a finished epoch
    "prevb_bucket_park": ("bucketed", "__prevb/bucket=0", "parquet", "upsert_epoch"),
    "relprev_inflight": ("relation", "__relprev/_inflight", "text", "relation_compact"),
    "relcprev_bucket_park": (
        "relation", "__relcprev/bucket=0", "parquet", "relation_compact"
    ),
    # the retired glob-mode segment store: segment dirs, no manifest
    "manifest_missing": ("bm25", "segs/_manifest", "missing", "serve"),
    # the retired segment protocol's replay gate: its merged-away epochs
    # are not in any ledger, so they would replay
    "compaction_marker_retired": ("bm25", "compaction_marker", "text", "epoch"),
}


@pytest.mark.parametrize("case", sorted(_CASES))
def test_old_or_damaged_store_file_is_refused(spark, stores, tmp_path, case):
    kind, rel_file, shape, action = _CASES[case]
    root = str(tmp_path / kind)
    shutil.copytree(stores[kind], root)
    # `__<park>/...` names a park root beside the store, not inside it
    path = root + rel_file if rel_file.startswith("__") else f"{root}/{rel_file}"
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)
    if shape == "parquet":
        spark.range(1).write.parquet(path)
    elif shape == "empty":
        open(path, "w").close()
    elif shape == "text":  # the retired rewind record: epoch,bucket,existed
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write("1,0,1\n")
    name = os.path.basename(path)
    with pytest.raises(ValueError, match=rf"{name}.*re-seed the store"):
        _ACTIONS[action](spark, root)
