"""The one crash protocol of the unit stores, on plain files.

`_epoch_commit` is killed after every mutating filesystem op, for every
unit shape its callers commit; `_epoch_recover`, itself killed after
every op of its own, must then leave exactly the pre-epoch tree (crash
before the marker installed) or the post-epoch tree (after). Both are
driver-side filesystem work, so the trees are plain text files and no
Spark job runs.
"""

from __future__ import annotations

import os

import pytest

import s3_to_redshift_with_airflow_spark.streaming.pipeline as pl
from tests.crashfs import CrashNow, patch_crashing

# shape -> (store files, staged files, units, epoch, marker)
_SHAPES = {
    # bucket=0 replaced, bucket=1 emptied by the z-set zero rule (nothing
    # staged), bucket=5 born
    "rewrite": (
        {
            "_ledger": "0",
            "bucket=0/part-a": "old0",
            "bucket=1/part-a": "old1",
            "bucket=2/part-a": "old2",
        },
        {"bucket=0/part-b": "new0", "bucket=5/part-b": "new5"},
        ["bucket=0", "bucket=1", "bucket=5"],
        1,
        "_ledger",
    ),
    # a gate's first epoch: no ledger yet, the fps/ and accepted/
    # sub-stores are born with their first units
    "first_fold": (
        {},
        {
            "fps/bucket=3/part-b": "fp3",
            "fps/bucket=4/part-b": "fp4",
            "accepted/seg_0/part-b": "seg0",
        },
        ["fps/bucket=3", "fps/bucket=4", "accepted/seg_0"],
        0,
        "_ledger",
    ),
    # a gate epoch: its segment is born alongside one replaced and one
    # born fingerprint bucket, the segment unit last
    "segment_and_buckets": (
        {
            "_ledger": "0",
            "accepted/seg_0/part-a": "seg0",
            "fps/bucket=1/part-a": "fp1",
            "fps/bucket=3/part-a": "fp3",
        },
        {
            "fps/bucket=1/part-b": "fp1+",
            "fps/bucket=2/part-b": "fp2",
            "accepted/seg_1/part-b": "seg1",
        },
        ["fps/bucket=1", "fps/bucket=2", "accepted/seg_1"],
        1,
        "_ledger",
    ),
    # an all-duplicate gate epoch: no segment and no bucket, only the
    # ledger moves
    "no_units": (
        {"_ledger": "4", "fps/bucket=1/part-a": "fp1"},
        {},
        [],
        5,
        "_ledger",
    ),
    # relation append: one subdir into a live bucket, one into a bucket
    # born this epoch
    "append": (
        {
            "_ledger": "1",
            "bucket=0/epoch=-1/part-a": "seed0",
            "bucket=0/epoch=1/part-a": "e1",
        },
        {"bucket=0/epoch=2/part-b": "e2", "bucket=7/epoch=2/part-b": "b7"},
        ["bucket=0/epoch=2", "bucket=7/epoch=2"],
        2,
        "_ledger",
    ),
    # a second relation compaction (horizon 1 -> ledger 3): every live
    # bucket is a unit, bucket=1 cancelled to nothing
    "compaction": (
        {
            "_ledger": "3",
            "_compacted": "1",
            "bucket=0/epoch=1/part-a": "c0",
            "bucket=0/epoch=3/part-a": "d0",
            "bucket=1/epoch=2/part-a": "x1",
            "bucket=2/epoch=1/part-a": "c2",
        },
        {"bucket=0/epoch=3/part-b": "n0", "bucket=2/epoch=3/part-b": "n2"},
        ["bucket=0", "bucket=1", "bucket=2"],
        3,
        "_compacted",
    ),
    # a segment-store epoch: its segment is born and the manifest that
    # lists it replaced, the segment unit first
    "segment_epoch": (
        {
            "_ledger": "1",
            "segs/_manifest": "seg_1\nseg_base",
            "segs/seg_base/part-a": "base",
            "segs/seg_1/part-a": "s1",
        },
        {"segs/seg_2/part-b": "s2", "segs/_manifest": "seg_1\nseg_2\nseg_base"},
        ["segs/seg_2", "segs/_manifest"],
        2,
        "_ledger",
    ),
    # a tiered segment compaction: the merged segment is born, the
    # manifest replaced, two constituents removed
    "tiered_compaction": (
        {
            "_ledger": "3",
            "segs/_manifest": "seg_2\nseg_3\nseg_base",
            "segs/seg_base/part-a": "base",
            "segs/seg_2/part-a": "s2",
            "segs/seg_3/part-a": "s3",
        },
        {"segs/seg_m3/part-b": "m3", "segs/_manifest": "seg_base\nseg_m3"},
        ["segs/seg_m3", "segs/_manifest", "segs/seg_2", "segs/seg_3"],
        0,
        "_compactions",
    ),
    # a full segment compaction after a tiered one: seg_base is replaced
    # in place, the manifest replaced, the constituents removed
    "full_compaction": (
        {
            "_ledger": "4",
            "_compactions": "0",
            "segs/_manifest": "seg_4\nseg_base\nseg_m3",
            "segs/seg_base/part-a": "base",
            "segs/seg_m3/part-a": "m3",
            "segs/seg_4/part-a": "s4",
        },
        {"segs/seg_base/part-b": "all", "segs/_manifest": "seg_base"},
        ["segs/seg_base", "segs/_manifest", "segs/seg_m3", "segs/seg_4"],
        1,
        "_compactions",
    ),
}


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def _tree(base):
    """{path relative to base: file text, or None for a directory}."""
    out = {}
    for d, dirs, files in os.walk(base):
        for name in dirs:
            out[os.path.relpath(os.path.join(d, name), base)] = None
        for name in files:
            with open(os.path.join(d, name)) as f:
                out[os.path.relpath(os.path.join(d, name), base)] = f.read()
    return out


def _as_tree(files):
    """The `_tree` of a base dir holding exactly `store/<files>`."""
    out = {"store": None}
    for rel, text in files.items():
        parts = f"store/{rel}".split("/")
        for i in range(1, len(parts)):
            out["/".join(parts[:i])] = None
        out[f"store/{rel}"] = text
    return out


def _post(store, staged, units, epoch, marker):
    out = {
        rel: text
        for rel, text in store.items()
        if not any(rel == u or rel.startswith(u + "/") for u in units)
    }
    out.update(staged)
    out[marker] = str(epoch)
    return out


def _build(base, store, staged):
    root = f"{base}/store"
    os.makedirs(root, exist_ok=True)
    for rel, text in store.items():
        _write(f"{root}/{rel}", text)
    for rel, text in staged.items():
        _write(f"{pl._staged_dir(root)}/{rel}", text)
    return root


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_commit_crash_at_every_fs_op_recovers_pre_or_post(
    spark, tmp_path, monkeypatch, shape
):
    store, staged, units, epoch, marker = _SHAPES[shape]
    pre, post = _as_tree(store), _as_tree(_post(*_SHAPES[shape]))
    outcomes = set()
    crash = 0
    while True:
        rec = 0
        while True:
            base = tmp_path / f"c{crash}_r{rec}"
            root = _build(base, store, staged)
            with patch_crashing(monkeypatch, [crash]):
                try:
                    pl._epoch_commit(spark, root, units, epoch, marker)
                    completed = True
                except CrashNow:
                    completed = False
            m = f"{root}/{marker}"
            committed = os.path.exists(m) and open(m).read() == str(epoch)
            want = post if committed else pre
            # recovery crashes too, at every op of its own; the next
            # recovery completes from wherever it stopped
            with patch_crashing(monkeypatch, [rec]):
                try:
                    pl._epoch_recover(spark, root)
                    recovered = True
                except CrashNow:
                    recovered = False
            pl._epoch_recover(spark, root)
            assert _tree(base) == want, f"commit crash {crash}, recover crash {rec}"
            if recovered:
                break
            rec += 1
        outcomes.add(committed)
        if completed:
            break
        crash += 1
    assert outcomes == {False, True}
    assert crash >= 5 + 2 * len(units)  # journal, begin, units, marker, cleanup


def test_recover_refuses_parks_without_a_journal(spark, tmp_path):
    root = _build(tmp_path, {"bucket=0/part-a": "live"}, {})
    _write(f"{root}__park/bucket=1/part-a", "parked")
    with pytest.raises(ValueError, match=r"__park/bucket=1.*re-seed the store"):
        pl._epoch_recover(spark, root)
    assert os.path.exists(f"{root}__park/bucket=1/part-a")  # never dropped


def test_recover_drops_an_empty_park_root(spark, tmp_path):
    root = _build(tmp_path, {"bucket=0/part-a": "live"}, {"bucket=0/x": "s"})
    os.makedirs(f"{root}__park")
    pl._epoch_recover(spark, root)
    assert _tree(tmp_path) == _as_tree({"bucket=0/part-a": "live"})


def test_second_compaction_at_the_same_ledger_returns_without_a_job(
    spark, tmp_path, run_in_job_group
):
    """With `_compacted` already at the ledger there is nothing to fold,
    and a commit at an unchanged marker value could not tell a crashed
    compaction from a finished one: compaction returns before any work."""
    store = {
        "_ledger": "3",
        "_compacted": "3",
        "bucket=0/epoch=3/part-a": "not parquet",
    }
    root = _build(tmp_path, store, {})
    _, jobs, ungrouped = run_in_job_group(
        lambda: pl.compact_weighted_relation_store(spark, root)
    )
    assert jobs == [] and ungrouped == []
    assert _tree(tmp_path) == _as_tree(store)
