"""Simulated process death between two filesystem operations.

`patch_crashing(monkeypatch, budget)` makes `streaming.pipeline`'s
`_hadoop_fs` hand out a proxy that spends one unit of `budget[0]` per
MUTATING op — rename, delete, mkdirs and create (also through
`getRawFileSystem()`, which the text sidecars are written through) — and
makes each `_install` (one two-rename swap) spend one unit too. Once the
budget is spent the next op raises `CrashNow` instead of running. Read
ops pass through free, so a test enumerates every fs-op prefix of a
mutation sequence by raising the budget until the sequence completes.

`crash_at_ledger(monkeypatch)` kills an epoch commit at its commit point
instead: every unit is in place, the `_ledger` install raises.
"""

from __future__ import annotations

import contextlib

import s3_to_redshift_with_airflow_spark.streaming.pipeline as pl


class CrashNow(Exception):
    """Simulated process death between two filesystem operations."""


class CrashingFS:
    """Budgeted proxy over a Hadoop FileSystem (see the module doc)."""

    def __init__(self, fs, budget):
        self._fs = fs
        self._budget = budget

    def _spend(self):
        self._budget[0] -= 1
        if self._budget[0] < 0:
            raise CrashNow()

    def rename(self, src, dst):
        self._spend()
        return self._fs.rename(src, dst)

    def delete(self, path, recursive=True):
        self._spend()
        return self._fs.delete(path, recursive)

    def mkdirs(self, path):
        self._spend()
        return self._fs.mkdirs(path)

    def create(self, path, overwrite=True):
        self._spend()
        return self._fs.create(path, overwrite)

    def getRawFileSystem(self):  # noqa: N802 — Hadoop's name
        return CrashingFS(self._fs.getRawFileSystem(), self._budget)

    def __getattr__(self, name):
        return getattr(self._fs, name)


@contextlib.contextmanager
def patch_crashing(monkeypatch, budget):
    """Within the block, pipeline filesystem mutations spend `budget`."""
    real_hfs, real_install = pl._hadoop_fs, pl._install

    def crashing_hfs(spark, path):
        fs, P = real_hfs(spark, path)
        return CrashingFS(fs, budget), P

    def crashing_install(*a, **kw):
        budget[0] -= 1
        if budget[0] < 0:
            raise CrashNow()
        # one unit for the whole swap: its own renames run on the real fs
        pl._hadoop_fs = real_hfs
        try:
            return real_install(*a, **kw)
        finally:
            pl._hadoop_fs = crashing_hfs

    monkeypatch.setattr(pl, "_hadoop_fs", crashing_hfs)
    monkeypatch.setattr(pl, "_install", crashing_install)
    try:
        yield
    finally:
        monkeypatch.setattr(pl, "_hadoop_fs", real_hfs)
        monkeypatch.setattr(pl, "_install", real_install)


@contextlib.contextmanager
def crash_at_ledger(monkeypatch):
    """Within the block, installing a `_ledger` marker raises `CrashNow`."""
    real_install = pl._install

    def install(spark, tmp, target):
        if target.endswith("/_ledger"):
            raise CrashNow()
        return real_install(spark, tmp, target)

    monkeypatch.setattr(pl, "_install", install)
    try:
        yield
    finally:
        monkeypatch.setattr(pl, "_install", real_install)
