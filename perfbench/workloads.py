"""The workloads. Each is one closed-loop client: the next operation
starts when the previous one returns.

A workload object has:
  seed(spark, round)  build the state the timed loop starts from (part of setup_s)
  remaining           how many more units the inputs allow
  setup_rounds        set-up rounds per run; setup_s is their median
  stage(i)            deliver unit i's input files (untimed)
  unit(spark, i)      one timed unit of work -> rows it processed
  reads(spark, i)     the read operations that follow a unit -> [(kind, seconds)]
  check(spark)        compare outputs with an independent recompute
                      -> (failed units, failed reads)
  layer_counts(n)     per-layer figures the workload measures itself (traced run)
  patch_layers()      spans inside the public calls it makes (traced run)

Only calls into the package's public functions sit inside timed regions;
staging input files and output checks are outside them.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
import time

import duckdb

from . import gen
from .tracing import catalyst_phases

# Warehouse tables: (name, DDL, upsert keys, staging column types).
# write_upsert needs explicit VARCHAR staging types: Derby maps StringType
# to CLOB, which cannot be compared with the target's key columns.
WAREHOUSE = [
    ("genre_kpis",
     'CREATE TABLE genre_kpis ("batch" INT, "track_genre" VARCHAR(64), '
     '"listen_count" BIGINT, "avg_duration" DOUBLE)',
     ["batch", "track_genre"], "track_genre VARCHAR(64)"),
    ("hourly_kpis",
     'CREATE TABLE hourly_kpis ("batch" INT, "hour" INT, "unique_listeners" BIGINT, '
     '"top_artists" VARCHAR(64), "track_diversity_index" DOUBLE)',
     ["batch", "hour"], "top_artists VARCHAR(64)"),
]


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def _rows_equal(got: list[tuple], want: list[tuple]) -> bool:
    got, want = sorted(got), sorted(want)
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w)) for g, w in zip(got, want)
    )


def _catalyst(phases: list[dict[str, float]], units: int) -> dict[str, float]:
    """Catalyst milliseconds per unit of work, summed over the collected reads."""
    return {
        f"catalyst.{k}_ms": sum(p.get(k, 0.0) for p in phases) / units
        for k in ("analysis", "optimization", "planning")
    }


class EtlHourly:
    """Back-to-back hourly batches of the reference DAG: run_pipeline over the
    hour's stream CSVs, then both KPI tables upserted into embedded Derby.
    Reads: the batch's rows read back from the warehouse, per table."""

    remaining = 10**6  # hours are reused round-robin; each batch is its own key
    setup_rounds = 5

    def __init__(self, inputs: str, work: str, tracer) -> None:
        self.inputs, self.work, self.tracer = inputs, work, tracer
        self.users = f"{inputs}/etl/users.csv"
        self.songs = f"{inputs}/etl/songs.csv"
        self.read_back: dict[int, dict[str, list[tuple]]] = {}
        self.files_read = 0
        self.upserted = 0
        self.quality_failed = 0

    def _hour(self, i: int) -> list[str]:
        return sorted(glob.glob(f"{self.inputs}/etl/streams/hour_{i % gen.ETL_HOURS:02d}/*.csv"))

    def seed(self, spark, rnd: int) -> None:
        """A fresh in-memory Derby warehouse with both KPI tables."""
        self.url = f"jdbc:derby:memory:warehouse_{rnd};create=true"
        conn = spark._jvm.java.sql.DriverManager.getConnection(self.url)  # noqa: SLF001
        try:
            stmt = conn.createStatement()
            for _, ddl, _, _ in WAREHOUSE:
                stmt.execute(ddl)
            stmt.close()
        finally:
            conn.close()

    def stage(self, i: int) -> None:
        pass

    def unit(self, spark, i: int) -> int:
        from pyspark.sql import functions as F

        from s3_to_redshift_with_airflow_spark.pipelines.music_etl import run_pipeline
        from s3_to_redshift_with_airflow_spark.schemas import GENRE_KPIS_SCHEMA, HOURLY_KPIS_SCHEMA
        from s3_to_redshift_with_airflow_spark.sinks.jdbc_upsert import write_upsert
        from s3_to_redshift_with_airflow_spark.sources.readers import read_csv

        paths = self._hour(i)
        out = f"{self.work}/etl_out/batch_{i}"
        with self.tracer.span("pipeline"):
            run_pipeline(spark, self.users, self.songs, paths, out)
        # load from the staged KPI files, as the reference's loader task does
        schemas = {"genre_kpis": GENRE_KPIS_SCHEMA, "hourly_kpis": HOURLY_KPIS_SCHEMA}
        for table, _, keys, types in WAREHOUSE:
            with self.tracer.span("readers"):
                staged = read_csv(spark, f"{out}/{table}.csv", schema=schemas[table])
            staged = staged.select(F.lit(i).alias("batch"), *staged.columns)
            with self.tracer.span("jdbc_upsert"):
                write_upsert(staged, self.url, table, keys=keys, staging_column_types=types)
        if self.tracer.enabled:
            # users, songs, the hour's stream files and the two staged KPI files
            self.files_read += len(paths) + 4
        return sum(_line_count(p) - 1 for p in paths)

    def reads(self, spark, i: int) -> list[tuple[str, float]]:
        """Per table: the batch's rows read back, then the reference loader's
        post-load quality check (scoped row count and null criticals)."""
        from s3_to_redshift_with_airflow_spark.sinks.jdbc_upsert import (
            post_load_quality_checks,
            read_table,
        )

        out = []
        self.read_back[i] = {}
        for table, _, keys, _ in WAREHOUSE:
            t0 = time.perf_counter()
            with self.tracer.span("jdbc_read"):
                rows = read_table(spark, self.url, table).filter(f"batch = {i}").collect()
            t1 = time.perf_counter()
            with self.tracer.span("jdbc_read"):
                report = post_load_quality_checks(spark, self.url, table, keys, "batch", i)
            out += [(f"{table}.read", t1 - t0), (f"{table}.quality", time.perf_counter() - t1)]
            self.read_back[i][table] = [tuple(r)[1:] for r in rows]
            self.quality_failed += not report["passed"]
            if self.tracer.enabled:
                self.upserted += len(rows)
        return out

    def check(self, spark) -> tuple[int, int]:
        """Each batch's warehouse rows against a DuckDB recompute over the
        generated CSVs. Returns (failed units, failed reads)."""
        con = duckdb.connect()
        con.execute(
            f"CREATE TABLE u AS SELECT DISTINCT * FROM read_csv('{self.users}', header=true, "
            "columns={'user_id':'BIGINT','user_name':'VARCHAR','user_age':'INT',"
            "'user_country':'VARCHAR','created_at':'DATE'}) WHERE user_id IS NOT NULL"
        )
        con.execute(
            f"CREATE TABLE s AS SELECT DISTINCT * FROM read_csv('{self.songs}', header=true, "
            "columns={'track_id':'VARCHAR','track_name':'VARCHAR','artists':'VARCHAR',"
            "'track_genre':'VARCHAR','duration_ms':'BIGINT'}) WHERE track_id IS NOT NULL"
        )
        failed = 0
        self.dedup_ratios = []
        for i, got in self.read_back.items():
            if i < 0:
                continue  # warm-up batch
            files = ", ".join(f"'{p}'" for p in self._hour(i))
            con.execute(
                f"CREATE OR REPLACE TABLE raw AS SELECT * FROM read_csv([{files}], header=true, "
                "columns={'user_id':'BIGINT','track_id':'VARCHAR','listen_time':'TIMESTAMP'})"
            )
            n_raw, n_dist = con.execute(
                "SELECT count(*), (SELECT count(*) FROM (SELECT DISTINCT * FROM raw)) FROM raw"
            ).fetchone()
            self.dedup_ratios.append(n_dist / n_raw)
            con.execute(
                "CREATE OR REPLACE TABLE e AS SELECT st.user_id, st.track_id, s.track_genre, "
                "s.duration_ms, hour(st.listen_time) AS hour FROM (SELECT DISTINCT * FROM raw) st "
                "JOIN s ON st.track_id = s.track_id JOIN u ON st.user_id = u.user_id"
            )
            genre = con.execute(
                "SELECT track_genre, count(track_id), CAST(sum(CAST(duration_ms AS DECIMAL(27,6))) "
                "AS DOUBLE) / count(duration_ms) FROM e GROUP BY 1"
            ).fetchall()
            hourly = con.execute(
                "WITH m AS (SELECT hour, track_id, count(*) AS c FROM e GROUP BY 1, 2), "
                "top AS (SELECT hour, min(track_id) FILTER (WHERE c = mc) AS top FROM "
                "(SELECT *, max(c) OVER (PARTITION BY hour) AS mc FROM m) GROUP BY 1) "
                "SELECT e.hour, count(DISTINCT user_id), any_value(top.top), "
                "CAST(count(DISTINCT track_id) AS DOUBLE) / count(track_id) "
                "FROM e JOIN top ON e.hour = top.hour GROUP BY e.hour"
            ).fetchall()
            if not (_rows_equal(got["genre_kpis"], genre) and _rows_equal(got["hourly_kpis"], hourly)):
                failed += 1
        con.close()
        return failed, self.quality_failed

    def layer_counts(self, units: int) -> dict[str, float]:
        ratios = getattr(self, "dedup_ratios", [])
        return {
            "readers.files": self.files_read / max(units, 1),
            "jdbc_upsert.rows": self.upserted / max(units, 1),
            "extract.dedup_ratio": sum(ratios) / len(ratios) if ratios else 0.0,
        }

    def patch_layers(self) -> None:
        """Spans inside run_pipeline, around the layer calls it makes."""
        from s3_to_redshift_with_airflow_spark.pipelines import music_etl as m

        self.tracer.patch(m, "readers", ["read_csv", "read_streams_multi", "missing_required_columns"])
        self.tracer.patch(m, "relational", ["dedup_full", "drop_null_keys", "dedup_subset_deterministic"])
        self.tracer.patch(m, "validation", ["validate_datasets"])
        self.tracer.patch(m, "kpi", ["enrich_streams", "genre_kpis", "hourly_kpis"])
        self.tracer.patch(m, "writers", ["write_csv_single", "write_json_report"])


def _line_count(path: str) -> int:
    with open(path, "rb") as f:
        return sum(1 for _ in f)


SEARCH_TERMS = [["vector", "merge", "window"], ["stream", "join"], ["customer", "order", "query", "index"]]


class StoreEpochs:
    """A seeded BM25 segment index, exact-dedup gate and weighted relation
    store, then serial epochs: one document delta and one order-changelog
    delta land, and each of the three maintainers runs one availableNow
    trigger. After each epoch the stores are served."""

    setup_rounds = 3  # a round builds both seed stores, about 4 s

    def __init__(self, inputs: str, work: str, tracer) -> None:
        self.inputs, self.work, self.tracer = inputs, work, tracer
        self.applied = 0  # delta files delivered so far
        self.last: dict[str, list] = {}
        self.progress: list[dict] = []
        self.serve_files = 0
        self.phases: list[dict[str, float]] = []

    def seed(self, spark, rnd: int) -> None:
        from pyspark.sql import functions as F

        from s3_to_redshift_with_airflow_spark.session import ensure_utc
        from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
            seed_bm25_index_segmented,
            seed_weighted_relation_store,
        )

        ensure_utc(spark)
        self.root = f"{self.work}/store/round_{rnd}"
        self.applied = 0
        for d in ("src_gate", "src_bm25", "src_facts"):
            os.makedirs(f"{self.root}/{d}")
        self.idx, self.gate, self.rel = (f"{self.root}/{n}" for n in ("bm25", "gate", "relation"))
        self.customer = f"{self.inputs}/store/customer.parquet"
        seed_bm25_index_segmented(spark.read.parquet(f"{self.inputs}/store/docs_seed.parquet"), self.idx)
        facts = spark.read.parquet(f"{self.inputs}/store/facts_seed.parquet")
        cust = spark.read.parquet(self.customer)
        bag = (
            facts.join(cust, facts.o_custkey == cust.c_custkey)
            .groupBy("o_custkey", "o_orderpriority", "c_mktsegment")
            .agg(F.sum("w").cast("bigint").alias("w"))
        )
        seed_weighted_relation_store(bag, self.rel, ["o_custkey"], 8)
        # the gate has no batch seed: the seed corpus arrives with the
        # warm-up epoch, its first
        shutil.copy(f"{self.inputs}/store/docs_seed.parquet", f"{self.root}/src_gate/seed.parquet")

    def _sinks(self):
        from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
            foreach_batch_bm25_maintain_segmented,
            foreach_batch_dedup_gate,
            foreach_batch_join_relation_retract_maintain,
        )

        return {
            "gate": ("dedup_gate", "src_gate", foreach_batch_dedup_gate(self.gate)),
            "bm25": ("bm25_segmented", "src_bm25", foreach_batch_bm25_maintain_segmented(self.idx)),
            "facts": ("join_relation", "src_facts", foreach_batch_join_relation_retract_maintain(
                self.rel, self.customer, fact_key="o_custkey", dim_key="c_custkey",
                dim_cols=["c_mktsegment"], bucket_keys=["o_custkey"], n_buckets=8)),
        }

    def _trigger(self, spark, which: str) -> None:
        from s3_to_redshift_with_airflow_spark.streaming.pipeline import stream_source

        layer, src, sink = self._sinks()[which]
        schema = spark.read.parquet(f"{self.root}/{src}").schema
        with self.tracer.span(f"{layer}.epoch"):
            q = (
                stream_source(spark, f"{self.root}/{src}", schema, watermark=None)
                .writeStream.foreachBatch(sink)
                .trigger(availableNow=True)
                .option("checkpointLocation", f"{self.root}/ckpt_{which}")
                .start()
            )
            q.awaitTermination()
        if self.tracer.enabled:
            self.progress += [p["durationMs"] for p in q.recentProgress]

    @property
    def remaining(self) -> int:
        return gen.STORE_EPOCHS - self.applied

    def stage(self, i: int) -> None:
        e = self.applied
        docs = f"{self.inputs}/store/docs/delta_{e:03d}.parquet"
        facts = f"{self.inputs}/store/facts/delta_{e:03d}.parquet"
        shutil.copy(docs, f"{self.root}/src_gate/delta_{e:03d}.parquet")
        shutil.copy(docs, f"{self.root}/src_bm25/delta_{e:03d}.parquet")
        shutil.copy(facts, f"{self.root}/src_facts/delta_{e:03d}.parquet")
        self.applied += 1

    def unit(self, spark, i: int) -> int:
        for which in ("gate", "bm25", "facts"):
            self._trigger(spark, which)
        return gen.STORE_DOCS_PER_EPOCH + gen.STORE_FACTS_PER_EPOCH

    def reads(self, spark, i: int) -> list[tuple[str, float]]:
        from s3_to_redshift_with_airflow_spark.operators.retrieval import bm25_index_search
        from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
            read_bm25_index_segmented,
            read_dedup_gate_corpus,
            read_weighted_relation_store,
        )

        serves = [
            (f"bm25_{k}", lambda: read_bm25_index_segmented(spark, self.idx),
             lambda idx, t=terms: bm25_index_search(*idx, t))
            for k, terms in enumerate(SEARCH_TERMS)
        ]
        serves.append(("gate_corpus", lambda: read_dedup_gate_corpus(spark, self.gate),
                       lambda df: df.select("doc_id")))
        serves.append(("relation", lambda: read_weighted_relation_store(spark, self.rel),
                       lambda df: df.select("o_custkey", "o_orderpriority", "c_mktsegment", "w")))
        out = []
        for kind, read, search in serves:
            t0 = time.perf_counter()
            with self.tracer.span("bench.read"):
                with self.tracer.span("serve.read"):
                    src = read()
                with self.tracer.span("serve.search"):
                    df = search(src)
                    rows = [tuple(r) for r in df.collect()]
            out.append((kind, time.perf_counter() - t0))
            self.last[kind] = rows
            if self.tracer.enabled:
                self.serve_files += len(df.inputFiles())
                self.phases.append(catalyst_phases(df))
        return out

    def check(self, spark) -> tuple[int, int]:
        """The last serves against batch recomputes over every document and
        fact delivered: a BM25 build and search, exact-dedup survivors, and
        the netted relation bag."""
        from pyspark.sql import functions as F

        from s3_to_redshift_with_airflow_spark.functions.text import fingerprint
        from s3_to_redshift_with_airflow_spark.operators.retrieval import (
            bm25_index_build,
            bm25_index_search,
        )

        deltas = [f"{self.inputs}/store/docs/delta_{e:03d}.parquet" for e in range(self.applied)]
        docs = spark.read.parquet(f"{self.inputs}/store/docs_seed.parquet", *deltas)
        failed = 0
        idx = bm25_index_build(docs)
        for k, terms in enumerate(SEARCH_TERMS):
            want = [tuple(r) for r in bm25_index_search(*idx, terms).collect()]
            failed += self.last[f"bm25_{k}"] != want
        survivors = docs.groupBy(fingerprint(F.col("text"))).agg(F.min("doc_id").alias("doc_id"))
        failed += sorted(self.last["gate_corpus"]) != sorted(tuple(r) for r in survivors.select("doc_id").collect())

        facts = [f"{self.inputs}/store/facts_seed.parquet"] + [
            f"{self.inputs}/store/facts/delta_{e:03d}.parquet" for e in range(self.applied)
        ]
        con = duckdb.connect()
        want = con.execute(
            f"SELECT f.o_custkey, f.o_orderpriority, c.c_mktsegment, CAST(sum(f.w) AS BIGINT) AS w "
            f"FROM read_parquet([{', '.join(repr(p) for p in facts)}]) f "
            f"JOIN read_parquet('{self.customer}') c ON f.o_custkey = c.c_custkey "
            "GROUP BY 1, 2, 3 HAVING sum(f.w) > 0"
        ).fetchall()
        con.close()
        failed += not _rows_equal(self.last["relation"], want)
        self.accepted = sum(1 for (i,) in self.last["gate_corpus"] if i >= gen.STORE_SEED_DOCS)
        return 0, failed

    def layer_counts(self, units: int) -> dict[str, float]:
        n = max(units, 1)
        files = nbytes = 0
        for d in (self.idx, self.gate, self.rel):
            for dirpath, _, names in os.walk(d):
                for name in names:
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, name))
        dur = lambda k: sum(p.get(k, 0) for p in self.progress) / n  # noqa: E731
        return {
            "stream.add_batch_ms": dur("addBatch"),
            "stream.wal_commit_ms": dur("walCommit"),
            "stream.query_planning_ms": dur("queryPlanning"),
            "dedup_gate.accept_ratio": getattr(self, "accepted", 0)
            / max(self.applied * gen.STORE_DOCS_PER_EPOCH, 1),
            "store.files": float(files),
            "store.bytes": float(nbytes),
            "serve.files_scanned": self.serve_files / n,
            **_catalyst(self.phases, n),
        }

    def patch_layers(self) -> None:
        pass
