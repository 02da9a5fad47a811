"""Seeded input generator for the benchmark.

Everything the program under test reads is written here, before its
session starts, as plain CSV and parquet files. The generator shares no
code with the package: the package only ever sees the files.

Same seed, same bytes: `inputs_sha256` hashes every generated file so two
runs can be shown to have read identical inputs.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# etl_hourly: fixed dimensions plus one set of stream files per hour.
ETL_USERS = 4_000
ETL_SONGS = 1_500
ETL_HOURS = 16  # upper bound on batches in one run
ETL_FILES_PER_HOUR = 2
ETL_ROWS_PER_FILE = 20_000
ETL_DUP_SHARE = 0.05  # re-delivered events (same user, track, second)
ETL_NULL_SHARE = 0.01  # events with a null user_id or track_id
ETL_ORPHAN_SHARE = 0.01  # events whose track is not in songs
ETL_ZIPF_A = 1.3  # track popularity

# store_epochs: a seed corpus and changelog, then one delta file each per epoch.
STORE_CUSTOMERS = 1_500
STORE_SEED_DOCS = 2_000
STORE_DOCS_PER_EPOCH = 300
STORE_DUP_SHARE = 0.3  # exact duplicates of earlier documents
STORE_ALL_DUP_EVERY = 4  # every 4th epoch carries only duplicates
STORE_EPOCHS = 40  # upper bound on epochs in one run
STORE_SEED_FACTS = 3_000
STORE_FACTS_PER_EPOCH = 400
STORE_RETRACT_SHARE = 0.3

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small big query stream order "
    "group filter customer vector index"
).split()
GENRES = [
    "rock", "pop", "jazz", "classical", "hip-hop", "electronic", "country",
    "r&b", "folk", "blues", "accoustic", "metal", "reggae", "latin", "world",
]
LANGS = ["en", "de", "fr", "es", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ETL_BASE = datetime(2024, 6, 25)


def _write_csv(path: str, header: list[str], cols: list[np.ndarray]) -> None:
    """Columns of strings ('' is an empty CSV field, read back as null)."""
    lines = [",".join(header)]
    lines += [",".join(row) for row in zip(*cols)]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def _write_parquet(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, compression="snappy")


def _strs(a) -> np.ndarray:
    return np.asarray(a).astype(str)


def _texts(rng: np.random.Generator, n: int, lo: int = 8, hi: int = 90) -> list[str]:
    lens = rng.integers(lo, hi, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, i = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[i : i + k]))
        i += k
    return out


def gen_etl(root: str, rng: np.random.Generator) -> None:
    os.makedirs(f"{root}/etl/streams", exist_ok=True)
    uid = np.arange(1, ETL_USERS + 1)
    age = rng.integers(16, 80, ETL_USERS)
    country = rng.choice(["Canada", "Ireland", "Japan", "Brazil", "Kenya"], ETL_USERS)
    created = [f"2024-{m:02d}-{d:02d}" for m, d in zip(rng.integers(1, 13, ETL_USERS), rng.integers(1, 29, ETL_USERS))]
    users = [_strs(uid), np.char.add("user_", _strs(uid)), _strs(age), country, np.asarray(created)]
    # exact duplicate rows and a few null keys: dropped by extract_metadata
    dup = rng.choice(ETL_USERS, ETL_USERS // 50, replace=False)
    users = [np.concatenate([c, c[dup], c[:5]]) for c in users]
    users[0][-5:] = ""
    _write_csv(f"{root}/etl/users.csv", ["user_id", "user_name", "user_age", "user_country", "created_at"], users)

    tid = np.char.add("t", _strs(np.arange(ETL_SONGS)))
    songs = [
        tid,
        np.char.add("song_", _strs(np.arange(ETL_SONGS))),
        np.char.add("artist_", _strs(rng.integers(0, ETL_SONGS // 4, ETL_SONGS))),
        rng.choice(GENRES, ETL_SONGS),
        _strs(rng.integers(60_000, 600_000, ETL_SONGS)),
    ]
    dup = rng.choice(ETL_SONGS, ETL_SONGS // 50, replace=False)
    songs = [np.concatenate([c, c[dup], c[:3]]) for c in songs]
    songs[0][-3:] = ""
    _write_csv(f"{root}/etl/songs.csv", ["track_id", "track_name", "artists", "track_genre", "duration_ms"], songs)

    n = ETL_ROWS_PER_FILE
    for h in range(ETL_HOURS):
        d = f"{root}/etl/streams/hour_{h:02d}"
        os.makedirs(d, exist_ok=True)
        for f in range(ETL_FILES_PER_HOUR):
            user = rng.integers(1, ETL_USERS + 1, n)
            track = np.minimum(rng.zipf(ETL_ZIPF_A, n) - 1, ETL_SONGS - 1)
            track = np.char.add("t", _strs(track))
            orphan = rng.random(n) < ETL_ORPHAN_SHARE
            track[orphan] = "tx"
            # events spread over the whole day so every hour-of-day bucket fills
            secs = rng.integers(0, 86_400, n) + h * 86_400
            ts = np.datetime64(ETL_BASE) + secs.astype("timedelta64[s]")
            ts = np.datetime_as_string(ts, unit="s")
            ts = np.char.replace(ts, "T", " ")
            cols = [_strs(user), track, ts]
            ndup = int(n * ETL_DUP_SHARE)
            src = rng.integers(0, n - ndup, ndup)
            cols = [np.concatenate([c[: n - ndup], c[src]]) for c in cols]
            nulls = rng.random(n) < ETL_NULL_SHARE
            which = rng.random(n) < 0.5
            cols[0][nulls & which] = ""
            cols[1][nulls & ~which] = ""
            _write_csv(f"{d}/streams_{f}.csv", ["user_id", "track_id", "listen_time"], cols)


def _docs_table(ids: np.ndarray, texts: list[str], rng: np.random.Generator) -> pa.Table:
    n = len(ids)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n), pa.string()),
        "source": pa.array(np.char.add("src", _strs(rng.integers(0, 20, n))), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def gen_store(root: str, rng: np.random.Generator) -> None:
    """Document deltas (exact duplicates, periodic all-duplicate epochs) and
    an order changelog with retractions. Doc ids ascend across epochs, so the
    dedup gate's survivor of a fingerprint is its smallest doc id."""
    d = f"{root}/store"
    os.makedirs(f"{d}/docs", exist_ok=True)
    os.makedirs(f"{d}/facts", exist_ok=True)
    nc = STORE_CUSTOMERS
    _write_parquet(f"{d}/customer.parquet", pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), pa.string()),
    }))
    texts = _texts(rng, STORE_SEED_DOCS)
    _write_parquet(f"{d}/docs_seed.parquet", _docs_table(np.arange(STORE_SEED_DOCS), texts, rng))
    next_id = STORE_SEED_DOCS
    for e in range(STORE_EPOCHS):
        n = STORE_DOCS_PER_EPOCH
        all_dup = (e + 1) % STORE_ALL_DUP_EVERY == 0
        ndup = n if all_dup else int(n * STORE_DUP_SHARE)
        new = _texts(rng, n - ndup)
        dups = [texts[int(i)] for i in rng.integers(0, len(texts), ndup)]
        batch = new + dups
        order = rng.permutation(n)
        batch = [batch[i] for i in order]
        texts += new
        ids = np.arange(next_id, next_id + n)
        next_id += n
        _write_parquet(f"{d}/docs/delta_{e:03d}.parquet", _docs_table(ids, batch, rng))

    fact_schema = pa.schema([("o_custkey", pa.int64()), ("o_orderpriority", pa.string()), ("w", pa.int32())])
    live_c = list(rng.integers(0, STORE_CUSTOMERS, STORE_SEED_FACTS))
    live_p = list(rng.choice(PRIORITIES, STORE_SEED_FACTS))
    _write_parquet(f"{d}/facts_seed.parquet", pa.table(
        {"o_custkey": live_c, "o_orderpriority": live_p, "w": [1] * len(live_c)}, schema=fact_schema))
    for e in range(STORE_EPOCHS):
        nret = int(STORE_FACTS_PER_EPOCH * STORE_RETRACT_SHARE)
        nins = STORE_FACTS_PER_EPOCH - nret
        gone = set(int(i) for i in rng.choice(len(live_c), nret, replace=False))
        ret_c = [live_c[i] for i in sorted(gone)]
        ret_p = [live_p[i] for i in sorted(gone)]
        live_c = [c for i, c in enumerate(live_c) if i not in gone]
        live_p = [p for i, p in enumerate(live_p) if i not in gone]
        ins_c = list(rng.integers(0, STORE_CUSTOMERS, nins))
        ins_p = list(rng.choice(PRIORITIES, nins))
        live_c += ins_c
        live_p += ins_p
        _write_parquet(f"{d}/facts/delta_{e:03d}.parquet", pa.table(
            {"o_custkey": ins_c + ret_c, "o_orderpriority": ins_p + ret_p,
             "w": [1] * nins + [-1] * nret}, schema=fact_schema))


GENERATORS = {"etl_hourly": gen_etl, "store_epochs": gen_store}


def generate(root: str, workload: str, seed: int) -> str:
    """Write the workload's inputs under root; return their sha256."""
    GENERATORS[workload](root, np.random.default_rng(seed))
    return inputs_sha256(root)


def inputs_sha256(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
