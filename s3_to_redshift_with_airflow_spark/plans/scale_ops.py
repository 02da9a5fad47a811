"""Scale-path registry entries: multimodal plumbing, streaming-native window
aggregation, IVF similarity search, approximate aggregates, and a deep
multi-way star join (SURVEY §2.13 / §2.10 / BASELINE.json north-star ops).

The multimodal queries run real `mapInPandas` / explode plumbing over binary
payloads synthesized from the `documents` table (payload = UTF-8 bytes of
`text`); because the stubbed "decode" derives features arithmetically from
the payload bytes (md5 digest, byte length), DuckDB can reproduce the exact
values — so even the Python-batch path is hash-verified, not rows-only.

The streaming query drives a real Structured Streaming plan (file source →
watermark → tumbling window → memory sink, availableNow trigger) whose final
complete-mode result equals the batch answer — also exactly oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.multimodal import decode_image_features, sample_video_frames
from ..operators.similarity import ivf_topk
from ..sources.readers import table_path, with_ts_from_nanos
from ..streaming.pipeline import sized_state_partitions, stream_source
from .registry import _t, query

# --- multimodal columns ----------------------------------------------------


def _as_media(docs: DataFrame, modality: str) -> DataFrame:
    """documents → MEDIA_SCHEMA-shaped frame: payload = UTF-8 bytes of text,
    duration_ms synthesized from n_chars (deterministic, oracle-reproducible)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(modality).alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit(f"{modality}/fake").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS digest,
           CAST(octet_length(encode(text)) % 64 + 1 AS INTEGER) AS fake_width,
           CAST(octet_length(encode(text)) % 48 + 1 AS INTEGER) AS fake_height
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction through the real multimodal plumbing:
    documents.text → BinaryType payload → Arrow-batched mapInPandas 'decode'
    (operators/multimodal.py). The deterministic fake decode (md5 digest +
    byte-length features) stands in for PIL/libvips — which makes this the
    rare Python-batch path whose values the DuckDB oracle verifies exactly."""
    (docs,) = _t(spark, sf_dir, "documents")
    feats = decode_image_features(_as_media(docs, "image"))
    return feats.select(
        "media_id", "n_bytes", "digest", "fake_width", "fake_height"
    )


@query(
    "video_frame_sample",
    oracle="""
    WITH f AS (
      SELECT doc_id AS media_id,
             unnest(range(0, least((n_chars * 10) // 1000 + 1, 16))) AS frame_index
      FROM documents
    )
    SELECT media_id, frame_index, frame_index * 1000 AS offset_ms FROM f
    """,
)
def q_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan (one row per sampled frame offset, 1 fps cap
    16): the explode happens JVM-side from typed metadata — payload bytes are
    never touched until a downstream decode, which is the posture that keeps
    100 TB of video affordable. duration_ms is synthesized as n_chars*10."""
    (docs,) = _t(spark, sf_dir, "documents")
    frames = sample_video_frames(_as_media(docs, "video"), every_ms=1000, max_frames=16)
    return frames.select(
        "media_id",
        F.col("frame_index").cast("bigint").alias("frame_index"),
        F.col("offset_ms").cast("bigint").alias("offset_ms"),
    )


# --- streaming-native execution -------------------------------------------


@query(
    "streaming_window_agg",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
)
def q_streaming_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling-window aggregation executed by Structured Streaming
    (file source → 2h watermark → window groupBy → memory sink, availableNow
    trigger), per SURVEY §2.10's mapping of the reference's hourly micro-batch
    (extract_stream_data.py:124-168 + kpi_processor.py:61). Complete-mode
    output over a finite source equals the batch answer, so the oracle check
    is exact — proving batch/streaming plan equivalence, not just plumbing."""
    from ..session import ensure_utc

    ensure_utc(spark)
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    # events.ts arrives as nanosecond longs (see with_ts_from_nanos): rebuild
    # the timestamp first, then anchor the watermark on real event time.
    # FileStreamSource needs a directory base path → stream the sf dir with a
    # glob selecting just the events table.
    src = stream_source(
        spark, sf_dir, schema, watermark=None, path_glob_filter="events.parquet"
    )
    src = with_ts_from_nanos(src, "ts").withWatermark("ts", "2 hours")
    agg = (
        src.groupBy(F.window(F.col("ts"), "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "n_events", "total_value"
        )
    )
    sink_name = "streaming_window_agg_mem"
    with sized_state_partitions(spark, table_path(sf_dir, "events")):
        (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(sink_name)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.table(sink_name)


@query(
    "streaming_session_agg",
    oracle="""
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    ),
    wm AS (
      SELECT make_timestamp((MAX(epoch_us(ts)) // 1000) * 1000)
               - INTERVAL 2 HOUR AS w
      FROM events
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    HAVING MAX(ts) + INTERVAL 30 MINUTE <= (SELECT w FROM wm)
    """,
)
def q_streaming_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window aggregation executed by Structured Streaming
    (file source → 2h watermark → session_window groupBy → memory sink,
    APPEND mode, availableNow) — the watermark-bounded-state streaming twin
    of `session_window_agg`, completing §2.10's window coverage (tumbling +
    session). Append is the only session-window streaming mode (complete
    and update are unsupported — session state must merge), and it emits a
    session only once the watermark passes its end, so sessions ending
    inside the final watermark horizon are deliberately withheld at
    end-of-stream. The oracle encodes that contract EXACTLY: batch
    gaps-and-islands sessions filtered to session_end ≤ final watermark,
    where the watermark is max event time floored to MILLISECONDS (Spark's
    event-time stats granularity; emission itself compares at full µs —
    both probed empirically, end == watermark emits) minus the 2h delay."""
    from ..session import ensure_utc

    ensure_utc(spark)
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    src = stream_source(
        spark, sf_dir, schema, watermark=None, path_glob_filter="events.parquet"
    )
    src = with_ts_from_nanos(src, "ts").withWatermark("ts", "2 hours")
    agg = (
        src.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    sink_name = "streaming_session_agg_mem"
    with sized_state_partitions(spark, table_path(sf_dir, "events")):
        (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(sink_name)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.table(sink_name)


# --- similarity search: the IVF scale path --------------------------------


@query("ivf_ann_topk", oracle=None)
def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (k-means coarse quantizer, 8 lists, probe 5):
    the classic ANN index shape (FAISS IVF-Flat) as pure DataFrame ops —
    train once, assign in one pass, bucket-join queries to probed lists only.
    k-means output is not SQL-reproducible → rows-only here; recall vs the
    exact baseline is pinned in tests/test_scale_ops.py AND surfaced as
    registry values by `ann_recall_report` (measured 0.92-0.98 at these
    parameters on the 500-vector testdata — a toy corpus where 64-dim
    clusters separate weakly, hence the high probe fraction; at real corpus
    sizes use ~√N lists and probe a few percent)."""
    (emb,) = _t(spark, sf_dir, "embeddings")
    out = ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, n_clusters=8, n_probe=5
    )
    return out.withColumn("rk", F.col("rk").cast("bigint"))


@query("ann_recall_report", oracle=None)
def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured top-10 recall of the approximate ANN paths against the
    exact brute-force baseline, in one plan: for each of `lsh_ann_topk`,
    `lsh_multiprobe_ann_topk`, `ivf_ann_topk` and `ivf_int8_ann_topk`
    (IDENTICAL parameters to those registry entries), the fraction of the
    exact top-10 neighbor set the approximate method retrieves. Makes the
    quality of the rows-only approximate queries visible as registry
    VALUES — tests/test_scale_ops.py pins the per-method floors, and that
    multi-probe recall ≥ single-probe recall — instead of living only in
    test output. rows-only by necessity (the measured methods themselves
    are hash/k-means-dependent).

    Plan: four top-k subplans (each the sanctioned broadcast-query shape),
    one left join + 1-row aggregate per method, union — negligible cost
    beyond the retrievers themselves."""
    from ..operators.clustering import ivf_int8_topk, ivf_pq_topk
    from ..operators.similarity import brute_force_topk, hyperplane_lsh_topk

    (emb,) = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, qs, k=10).select("query_id", "vec_id")
    approx = {
        "ivf_ann_topk": ivf_topk(
            emb, qs, k=10, n_clusters=8, n_probe=5
        ).select("query_id", "vec_id"),
        "ivf_int8_ann_topk": ivf_int8_topk(
            emb, qs, k=10, n_probe=4, km_k=32
        ).select("query_id", "vec_id"),
        "ivf_pq_ann_topk": ivf_pq_topk(
            emb, qs, k=10, n_probe=12, km_k=32, m_subspaces=16, refine=100
        ).select("query_id", "vec_id"),
        "lsh_ann_topk": hyperplane_lsh_topk(emb, qs, k=10).select(
            "query_id", "vec_id"
        ),
        "lsh_multiprobe_ann_topk": hyperplane_lsh_topk(
            emb, qs, k=10, multi_probe=True
        ).select("query_id", "vec_id"),
    }
    parts = []
    for method in sorted(approx):
        j = exact.join(
            approx[method].withColumn("__hit", F.lit(1)),
            ["query_id", "vec_id"],
            "left",
        )
        parts.append(
            j.agg(
                F.count(F.lit(1)).alias("n_exact"),
                F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                .cast("bigint")
                .alias("n_hits"),
            ).select(
                F.lit(method).alias("method"),
                "n_exact",
                "n_hits",
                (F.col("n_hits").cast("double") / F.col("n_exact").cast("double")).alias(
                    "recall_at_10"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("method")


# --- approximate aggregates ------------------------------------------------


@query("approx_agg", oracle=None)
def q_approx_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based aggregates per event_type: HyperLogLog++ distinct users
    and KLL-style approximate quantiles of value — the O(1)-memory versions
    of countDistinct/percentile that stay cheap at 100 TB (mergeable partial
    sketches, no giant shuffle of raw values). Sketch internals differ across
    engines → rows-only; tests pin the error envelope against exact results."""
    (events,) = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", 0.5, 10000).alias("p50_value"),
        F.percentile_approx("value", 0.95, 10000).alias("p95_value"),
    )


# --- deep multi-way star join ---------------------------------------------


@query(
    "star_join_agg",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6)))
                AS DOUBLE) AS revenue,
           COUNT(*) AS n_lineitems
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q_star_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-table local-supplier revenue rollup (TPC-H Q5 shape): the deepest
    join tree in the suite. Region/nation/supplier broadcast; the date filter
    is pushed into the orders parquet scan before the fact join; the revenue
    sum uses exact decimal partials for bit-determinism. Exercises Catalyst
    join reordering + AQE on a plan the reference could never express."""
    customer, orders, lineitem, supplier, nation, region = _t(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    asia = (
        F.broadcast(region.filter(F.col("r_name") == "ASIA"))
        .join(nation, region.r_regionkey == nation.n_regionkey)
        .select("n_nationkey", "n_name")
    )
    sup = supplier.join(
        F.broadcast(asia), supplier.s_nationkey == asia.n_nationkey
    ).select("s_suppkey", "s_nationkey", "n_name")
    ord96 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    ).select("o_orderkey", "o_custkey")
    fact = (
        lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(ord96, F.col("l_orderkey") == ord96.o_orderkey)
        .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .join(
            customer.select("c_custkey", "c_nationkey"),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
    )
    revenue = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(27,6)"
    )
    return fact.groupBy("n_name").agg(
        F.sum(revenue).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


# --- TPC-H classics --------------------------------------------------------
# The canonical OLAP shapes (pricing summary, shipping priority, forecast
# revenue, large-volume customers, priority semi-join) on the driver's
# TPC-H-ish tables — each one exercises a distinct plan family at scale.
# Money math follows the bit-determinism rule: per-row double products are
# identical IEEE ops in any engine; sums go through DECIMAL(27,6) partials
# (order-independent), and only the final value returns to double.


def _dec(c: Column) -> Column:
    return c.cast("decimal(27,6)")


@query(
    "tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE)
             AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(27,6))) AS DOUBLE)
             AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report): the wide-aggregate benchmark
    classic. One scan, one shuffle on a 6-value grouping key, 8 aggregates
    computed in a single HashAggregate with map-side partials — the shape
    every OLAP engine is judged on first."""
    from ..operators.skew import fan_out

    (lineitem,) = _t(spark, sf_dir, "lineitem")
    # 8 decimal aggregates make the map side CPU-bound: fan the scan out to
    # full parallelism first (no-op on a cluster whose scan is already wide).
    li = fan_out(
        lineitem.select(
            "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
            "l_discount", "l_tax", "l_shipdate",
        )
    ).filter(F.col("l_shipdate") <= F.lit("2001-09-02"))
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = disc_price * (F.lit(1) + F.col("l_tax"))
    n = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
        F.sum(_dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
        F.sum(_dec(disc_price)).cast("double").alias("sum_disc_price"),
        F.sum(_dec(charge)).cast("double").alias("sum_charge"),
        (F.sum(_dec(F.col("l_quantity"))).cast("double") / n).alias("avg_qty"),
        (F.sum(_dec(F.col("l_extendedprice"))).cast("double") / n).alias("avg_price"),
        (F.sum(_dec(F.col("l_discount"))).cast("double") / n).alias("avg_disc"),
        n.alias("count_order"),
    )


@query(
    "tpch_q3",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE)
             AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority, adapted: o_orderpriority stands in for
    the missing o_shippriority): selective dimension filter → fact join →
    top-10 by revenue. The BUILDING-segment customer slice broadcasts; both
    date filters push into the parquet scans; the final top-10 runs as
    TakeOrderedAndProject, never a global sort."""
    customer, orders, lineitem = _t(spark, sf_dir, "customer", "orders", "lineitem")
    bld = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ord_open = orders.filter(F.col("o_orderdate") < F.lit("1998-01-01")).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = lineitem.filter(F.col("l_shipdate") > F.lit("1998-01-01")).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    revenue = _dec(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
    return (
        li.join(ord_open, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(bld), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "tpch_q4",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking, adapted: `l_shipdate >
    o_orderdate` stands in for the missing commit/receipt dates): the
    EXISTS-correlated-subquery classic, planned as a LEFT SEMI join with a
    non-equi residual — each qualifying order counts once no matter how many
    lineitems match."""
    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    q1_97 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = lineitem.select("l_orderkey", "l_shipdate")
    return (
        q1_97.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "tpch_q6",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(27,6))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the pure scan-filter-aggregate
    — every predicate reaches the parquet reader (PushedFilters), so at
    100 TB this reads only row groups whose min/max statistics overlap the
    year, then one map-side-combined global sum."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(_dec(F.col("l_extendedprice") * F.col("l_discount")))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "tpch_q18",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    HAVING SUM(CAST(l_quantity AS DECIMAL(27,6))) > 300
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): the aggregate-then-join
    discipline. The lineitem rollup happens FIRST (one shuffle on
    l_orderkey), the >300 filter kills ~99% of groups, and only the
    surviving handful of orderkeys join to orders and customer — the
    join input is thousands of rows, not the full fact table. Grouping by
    the customer attributes afterward (the literal SQL shape) would drag
    c_name through the fact shuffle instead."""
    customer, orders, lineitem = _t(spark, sf_dir, "customer", "orders", "lineitem")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(_dec(F.col("l_quantity"))).alias("__sq"))
        .filter(F.col("__sq") > 300)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("__sq").cast("double").alias("sum_qty"),
        )
    )


@query(
    "exact_quantiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.25) AS p25,
           quantile_cont(l_extendedprice, 0.5)  AS p50,
           quantile_cont(l_extendedprice, 0.9)  AS p90,
           quantile_cont(l_extendedprice, 0.99) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group quantiles (linear interpolation): Spark's
    `percentile` and DuckDB's `quantile_cont` share the (1-h)·lo + h·hi
    definition, so values hash-match bit-for-bit — verified, not assumed.
    This is the exact twin of `approx_agg`'s sketch percentiles: at 100 TB
    you run the sketch; exact quantiles are for the gate checks where the
    answer must be reproducible (the sort is per-group, bounded by the
    largest group, one shuffle)."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    qs = F.expr(
        "percentile(l_extendedprice, array(0.25, 0.5, 0.9, 0.99))"
    )
    return (
        lineitem.groupBy("l_returnflag")
        .agg(qs.alias("__q"))
        .select(
            "l_returnflag",
            F.col("__q")[0].alias("p25"),
            F.col("__q")[1].alias("p50"),
            F.col("__q")[2].alias("p90"),
            F.col("__q")[3].alias("p99"),
        )
    )


# --- time-series -----------------------------------------------------------


@query(
    "asof_join",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id, c.user_id, c.ts, p.ts AS asof_ts, p.value AS asof_value
    FROM clicks c
    ASOF LEFT JOIN purchases p ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators/timeseries.py): each click event picks
    up the user's most recent purchase at-or-before it. Spark has no ASOF
    join; the union+running-last plan does it with ONE shuffle on the key and
    no pair explosion — the oracle is DuckDB's native ASOF LEFT JOIN."""
    from ..operators.timeseries import asof_join

    (events,) = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        clicks, purchases, on="user_id", left_time="ts", right_time="ts",
        payload_cols=["value"],
    ).select("event_id", "user_id", "ts", "asof_ts", "asof_value")


@query(
    "asof_join_tolerance",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id, c.user_id, c.ts,
           CASE WHEN p.ts >= c.ts - INTERVAL 1 HOUR THEN p.ts END AS asof_ts,
           CASE WHEN p.ts >= c.ts - INTERVAL 1 HOUR THEN p.value END AS asof_value
    FROM clicks c
    ASOF LEFT JOIN purchases p ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def q_asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-lookback as-of join (pandas merge_asof `tolerance`): the most
    recent purchase counts only within a 1-hour window before the click —
    stale state must not leak forward indefinitely. Same one-shuffle plan as
    asof_join plus a post-predicate on the selected match (if the newest
    match is too old, every match is)."""
    from ..operators.timeseries import asof_join

    (events,) = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        clicks, purchases, on="user_id", left_time="ts", right_time="ts",
        payload_cols=["value"], tolerance_seconds=3600,
    ).select("event_id", "user_id", "ts", "asof_ts", "asof_value")


@query(
    "sliding_window_agg",
    oracle="""
    WITH w AS (
      SELECT unnest([date_trunc('hour', ts),
                     date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS window_start,
             value
      FROM events
    )
    SELECT window_start, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
    FROM w GROUP BY 1
    """,
)
def q_sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour windows sliding every hour (each event lands in two windows):
    Spark's window() generates the window replicas JVM-side; the oracle
    expands them explicitly with unnest. Exact decimal partial sums keep the
    double output bit-stable under any partitioning."""
    (events,) = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.window(F.col("ts"), "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


@query(
    "sessionize",
    oracle="""
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM o
    )
    SELECT user_id, session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM s GROUP BY 1, 2
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap sessionization (30-min gap) — the gaps-and-islands
    pattern behind user-journey analytics (operators/timeseries.py). One
    shuffle on user_id feeds lag, running sum, and the per-session aggregate.
    Streaming twin: F.session_window with watermark-bounded state."""
    from ..operators.timeseries import sessionize

    (events,) = _t(spark, sf_dir, "events")
    return sessionize(events, key="user_id", time_col="ts", gap_minutes=30)


@query(
    "session_window_agg",
    oracle="""
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (F.session_window, 30-min gap): the built-in
    twin of the gaps-and-islands `sessionize` — one shuffle on the grouping
    key, sessions merged by the engine's SessionWindow node, and the same
    plan runs unchanged under Structured Streaming with watermark-bounded
    state. Window end is last-event + gap by definition (the oracle adds the
    interval explicitly); a point landing exactly at the previous window's
    end starts a NEW session in both formulations (windows are half-open)."""
    (events,) = _t(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "ranking_functions",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           percent_rank() OVER w AS prnk,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           cume_dist() OVER w AS cd
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def q_ranking_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking-function family (completes §2.8's analytic surface next
    to window_functions' lag/running-sum): rank, dense_rank, percent_rank,
    ntile, cume_dist over one window spec — one shuffle on the partition
    key, every function evaluated in a single Window node. The (acctbal,
    custkey) sort is total, so ranks are engine-independent; percent_rank
    and cume_dist are exact rational formulas evaluated in double, identical
    IEEE ops in any engine."""
    from pyspark.sql import Window as W

    (customer,) = _t(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return customer.select(
        "c_custkey",
        "c_mktsegment",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.cume_dist().over(w).alias("cd"),
    )


@query(
    "salted_join_agg",
    oracle="""
    WITH dim AS (
      SELECT event_type AS et, COUNT(DISTINCT user_id) AS du
      FROM events GROUP BY 1
    )
    SELECT e.event_type, COUNT(*) AS n_rows, CAST(MAX(d.du) AS BIGINT) AS distinct_users
    FROM events e JOIN dim d ON e.event_type = d.et
    GROUP BY e.event_type
    """,
)
def q_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join, oracle-checked equal to the plain join: the
    5-value event_type key is the canonical pathological shuffle key (one
    reducer per hot key under a plain hash join). salted_join scatters each
    hot key over 8 sub-keys while replicating the 5-row dim ×8 — result
    rows identical to the unsalted join, which is exactly what the oracle's
    plain-SQL join asserts. AQE's runtime skew split handles the moderate
    cases; this operator is for keys so hot a single split still overflows
    a task (operators/skew.py)."""
    from ..operators.skew import salted_join

    (events,) = _t(spark, sf_dir, "events")
    dim = events.groupBy(F.col("event_type").alias("et")).agg(
        F.countDistinct("user_id").alias("du")
    ).withColumnRenamed("et", "event_type")
    joined = salted_join(
        events.select("event_type", "user_id"), dim, on="event_type", salt=8
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max("du").cast("bigint").alias("distinct_users"),
    )


@query(
    "json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract_string(props, '$.missing') AS BIGINT) AS missing
    FROM events
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction from the JSON props column
    (get_json_object — JVM-side JSON path evaluation, no Python). Missing
    paths are NULL in both engines. At scale, promote hot JSON fields to
    real columns at ingest; path extraction is for the long tail."""
    (events,) = _t(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        F.get_json_object("props", "$.missing").cast("bigint").alias("missing"),
    )


@query(
    "window_functions",
    oracle="""
    SELECT event_id, user_id,
           lag(value) OVER w AS prev_value,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER
                (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window suite per user in event-time order: lag, running sum
    (exact decimal accumulation → bit-stable double), row_number. One
    shuffle on user_id shared by all three functions (same window spec).
    event_id in the sort pins total order → deterministic output."""
    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return events.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.sum(F.col("value").cast("decimal(27,6)")).over(run).cast("double").alias("running_value"),
        F.row_number().over(w).cast("bigint").alias("rn"),
    )


@query(
    "column_profile",
    oracle="""
    SELECT 'user_id' AS column_name,
           COUNT(*) AS n_rows,
           COUNT(user_id) AS n_nonnull,
           COUNT(DISTINCT user_id) AS n_distinct,
           CAST(MIN(user_id) AS DOUBLE) AS min_val,
           CAST(MAX(user_id) AS DOUBLE) AS max_val
    FROM events
    UNION ALL
    SELECT 'value', COUNT(*), COUNT(value), COUNT(DISTINCT value),
           MIN(value), MAX(value)
    FROM events
    UNION ALL
    SELECT 'event_id', COUNT(*), COUNT(event_id), COUNT(DISTINCT event_id),
           CAST(MIN(event_id) AS DOUBLE), CAST(MAX(event_id) AS DOUBLE)
    FROM events
    """,
)
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table statistics profile (the ANALYZE TABLE pass a cost-based
    optimizer feeds on): per column — row/non-null/distinct counts, min,
    max. One scan per column group, partial aggregation map-side; at 100 TB
    swap COUNT(DISTINCT) for approx_count_distinct and persist the profile
    next to the table so broadcast decisions and skew detection read stats,
    not data."""
    (events,) = _t(spark, sf_dir, "events")

    def profile(col: str) -> DataFrame:
        return events.agg(
            F.lit(col).alias("column_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(col).alias("n_nonnull"),
            F.countDistinct(col).alias("n_distinct"),
            F.min(col).cast("double").alias("min_val"),
            F.max(col).cast("double").alias("max_val"),
        )

    return profile("user_id").unionByName(profile("value")).unionByName(
        profile("event_id")
    )


@query(
    "range_join",
    oracle="""
    WITH RECURSIVE o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM o
    ),
    sessions AS (
      SELECT user_id, session_id,
             MIN(ts) AS session_start, MAX(ts) AS session_end
      FROM s GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id, x.session_id
    FROM events e
    JOIN sessions x
      ON e.user_id = x.user_id
     AND e.ts BETWEEN x.session_start AND x.session_end
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join (operators/timeseries.py): every event
    matched back to the session interval containing it. Spark would plan the
    raw BETWEEN join as a nested loop; the bucketed plan equi-joins on
    (user, hour-bucket) and filters exact containment — one hash shuffle,
    zero recall loss. Oracle: DuckDB's native BETWEEN join over the same
    sessionization."""
    from ..operators.timeseries import range_join, sessionize

    (events,) = _t(spark, sf_dir, "events")
    sessions = sessionize(events, key="user_id", time_col="ts", gap_minutes=30).select(
        "user_id", "session_id", "session_start", "session_end"
    )
    out = range_join(
        events.select("event_id", "user_id", "ts"),
        sessions,
        point_col="ts",
        start_col="session_start",
        end_col="session_end",
        keys=["user_id"],
    )
    return out.select("event_id", "user_id", "session_id")


# --- TPC-H shape suite, round 2 additions ----------------------------------


@query(
    "tpch_q13",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                       AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution, adapted: the priority
    exclusion stands in for the missing o_comment filter): LEFT OUTER join
    with the filter INSIDE the join condition (pushing it below the outer
    join would drop zero-order customers), then a double aggregation —
    per-customer count, then a histogram of counts. First shuffle on
    custkey, second on the tiny c_count domain; customers without orders
    survive as c_count = 0."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    c = customer.select("c_custkey")
    o = orders.select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "tpch_q15",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): an aggregate view consumed twice — once for
    the per-supplier quarterly revenue, once for its global max — joined
    back on equality. The revenue frame is computed once and reused (Spark
    plans the 1-row max as a broadcast nested-loop join, not a rescan when
    cached; at this size recompute is cheaper than a shuffle-wide persist).
    Revenue is a decimal sum cast to double once, so the equality against
    MAX is bit-exact in both engines — no epsilon needed."""
    supplier, lineitem = _t(spark, sf_dir, "supplier", "lineitem")
    revenue = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(_dec(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))))
            .cast("double")
            .alias("total_revenue")
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("__mx"))
    return (
        revenue.join(F.broadcast(mx), F.col("total_revenue") == F.col("__mx"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "tpch_q17",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n_small
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN (SELECT l_partkey AS pk,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS avg_qty
          FROM lineitem GROUP BY l_partkey) pq
      ON pk = l_partkey
    WHERE p_brand = 'Brand#23' AND l_quantity < 0.2 * avg_qty
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue, adapted: brand-only filter —
    no p_container in the schema): the correlated scalar-AVG subquery
    decorrelated into an aggregate-then-join. Per-part average quantity is
    ONE shuffle on l_partkey; the brand slice of part broadcasts; the
    residual `l_quantity < 0.2*avg` applies after the equi-join. The
    average is a decimal sum over COUNT — bit-stable, so the 0.2 threshold
    comparison is engine-exact."""
    lineitem, part = _t(spark, sf_dir, "lineitem", "part")
    brand = part.filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    per_part = lineitem.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.sum(_dec(F.col("l_quantity"))).cast("double") / F.count(F.lit(1))).alias(
            "avg_qty"
        )
    )
    return (
        lineitem.join(F.broadcast(brand), F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(_dec(F.col("l_extendedprice"))).cast("double") / 7.0).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


@query(
    "tpch_q19",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue, adapted to the available part
    columns): the disjunctive-predicate benchmark. Catalyst splits the OR
    across the join: single-side conjuncts (`p_brand IN (…)`,
    `p_size <= 15`, `l_quantity <= 30`) are derived and pushed into BOTH
    parquet scans, while the cross-side residual evaluates after the
    broadcast join — .explain shows PushedFilters on each scan even though
    the predicate names both tables."""
    lineitem, part = _t(spark, sf_dir, "lineitem", "part")
    j = lineitem.join(
        F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    qty, brand, size = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    pred = (
        ((brand == "Brand#12") & size.between(1, 5) & qty.between(1, 11))
        | ((brand == "Brand#23") & size.between(1, 10) & qty.between(10, 20))
        | ((brand == "Brand#34") & size.between(1, 15) & qty.between(20, 30))
    )
    return j.filter(pred).agg(
        F.sum(_dec(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "tpch_q22",
    oracle="""
    WITH pos AS (SELECT c_acctbal FROM customer WHERE c_acctbal > 0),
    ab AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)
             AS avg_bal FROM pos)
    SELECT c_nationkey, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS DOUBLE) AS totacctbal
    FROM customer, ab
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_nationkey
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity, adapted: nationkey stands in
    for the phone country code, and "never placed an order" becomes "no
    order since 2000" — every sf0.01 customer has some order): a scalar
    aggregate broadcast against the fact side (1-row nested-loop join, the
    decorrelated form of the scalar subquery), then a LEFT ANTI join against
    the recent-orders keys, then the per-nation rollup. The anti join's
    right side is pre-filtered by the pushed date predicate before the
    shuffle. The average is a decimal sum / count — bit-identical across
    engines, so the > threshold slices identically."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(_dec(F.col("c_acctbal"))).cast("double") / F.count(F.lit(1))).alias(
            "avg_bal"
        )
    )
    recent = orders.filter(F.col("o_orderdate") >= F.lit("2000-01-01")).select(
        "o_custkey"
    )
    rich = customer.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    return (
        rich.join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec(F.col("c_acctbal"))).cast("double").alias("totacctbal"),
        )
    )


@query(
    "streaming_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
           c.ts AS click_ts, p.ts AS purchase_ts
    FROM events c JOIN events p ON c.user_id = p.user_id
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
      AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def q_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (attribution: each purchase joined to the
    same user's clicks in the preceding hour) executed by Structured
    Streaming — two watermarked file-source streams, inner join whose
    condition carries BOTH the user equi-key and the event-time range, append
    mode. The time bound + 2h watermarks let the engine expire join state:
    a buffered click can only match purchases ≤1h ahead, so state is
    O(watermark window) per executor, not O(stream history) — the property
    that makes this runnable forever at 100 TB/day. Over a finite source the
    append-mode result equals the batch interval join, so the oracle check
    is exact (same discipline as streaming_window_agg)."""
    from ..session import ensure_utc

    ensure_utc(spark)
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema

    def side(event_type: str, id_alias: str, ts_alias: str, user_alias: str):
        src = stream_source(
            spark, sf_dir, schema, watermark=None, path_glob_filter="events.parquet"
        )
        src = with_ts_from_nanos(src, "ts")
        return (
            src.filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(id_alias),
                F.col("user_id").alias(user_alias),
                F.col("ts").alias(ts_alias),
            )
            .withWatermark(ts_alias, "2 hours")
        )

    clicks = side("click", "click_id", "click_ts", "user_id")
    purchases = side("purchase", "purchase_id", "purchase_ts", "p_user")
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts")
    sink_name = "streaming_join_mem"
    with sized_state_partitions(spark, table_path(sf_dir, "events")):
        (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(sink_name)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.table(sink_name)


@query(
    "streaming_outer_join",
    oracle="""
    WITH c AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT event_id AS purchase_id, user_id AS p_user, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
      -- multipleWatermarkPolicy=min: a side with ZERO rows pins the global
      -- watermark at epoch, withholding every null-extended row. DuckDB's
      -- least() IGNORES NULLs (it would fall back to the non-empty side's
      -- max), so the CASE forces w to NULL when either side is empty; the
      -- unmatched filter's `< w` then evaluates to NULL and drops all rows
      -- — exactly Spark's behavior.
      SELECT CASE
        WHEN cmax IS NULL OR pmax IS NULL THEN NULL
        ELSE least(cmax, pmax) - INTERVAL 2 HOUR
      END AS w
      FROM (
        SELECT
          (SELECT make_timestamp((MAX(epoch_us(ts)) // 1000) * 1000)
           FROM events WHERE event_type = 'click') AS cmax,
          (SELECT make_timestamp((MAX(epoch_us(ts)) // 1000) * 1000)
           FROM events WHERE event_type = 'purchase') AS pmax
      )
    ),
    matched AS (
      SELECT c.click_id, p.purchase_id, c.user_id, c.click_ts, p.purchase_ts
      FROM c JOIN p ON c.user_id = p.p_user
        AND p.purchase_ts >= c.click_ts
        AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
    ),
    unmatched AS (
      SELECT c.click_id, CAST(NULL AS BIGINT) AS purchase_id, c.user_id,
             c.click_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts
      FROM c
      WHERE NOT EXISTS (
          SELECT 1 FROM p WHERE p.p_user = c.user_id
            AND p.purchase_ts >= c.click_ts
            AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR)
        AND c.click_ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
    )
    SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
)
def q_streaming_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the missing outer member of
    the §2.10 join family. Matched pairs emit as produced (the inner part);
    a click with NO purchase in its hour emits null-extended only once the
    engine can prove no future match, i.e. when the global watermark passes
    the click's match bound. The oracle encodes that contract exactly:
    batch left join, null rows filtered to click_ts + 1h STRICTLY below
    the final watermark, where the watermark is the MIN of both sides'
    (each side's max event time floored to Spark's ms event-time-stats
    granularity, minus the 2h delay) — the multipleWatermarkPolicy=min
    default. Strict-<, ms flooring, and the min policy (an empty side pins
    the watermark at epoch and withholds every null row — encoded in the
    oracle as a NULL-propagating CASE over least(), since DuckDB's least()
    skips NULLs) are probed empirically and pinned in
    tests/test_streaming_outer_join.py, including an oracle-vs-Spark
    empty-side parity test running THIS oracle SQL on a click-only corpus."""
    from ..session import ensure_utc

    ensure_utc(spark)
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema

    def side(event_type: str, id_alias: str, ts_alias: str, user_alias: str):
        src = stream_source(
            spark, sf_dir, schema, watermark=None, path_glob_filter="events.parquet"
        )
        src = with_ts_from_nanos(src, "ts")
        return (
            src.filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(id_alias),
                F.col("user_id").alias(user_alias),
                F.col("ts").alias(ts_alias),
            )
            .withWatermark(ts_alias, "2 hours")
        )

    clicks = side("click", "click_id", "click_ts", "user_id")
    purchases = side("purchase", "purchase_id", "purchase_ts", "p_user")
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts")
    sink_name = "streaming_outer_join_mem"
    with sized_state_partitions(spark, table_path(sf_dir, "events")):
        (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(sink_name)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.table(sink_name)


@query(
    "streaming_full_outer_join",
    oracle="""
    WITH c AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT event_id AS purchase_id, user_id AS p_user, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
      -- NULL-propagating min watermark: see streaming_outer_join (an empty
      -- side pins the global watermark at epoch; w = NULL then drops every
      -- null-extended row on BOTH sides, matching Spark's min policy)
      SELECT CASE
        WHEN cmax IS NULL OR pmax IS NULL THEN NULL
        ELSE least(cmax, pmax) - INTERVAL 2 HOUR
      END AS w
      FROM (
        SELECT
          (SELECT make_timestamp((MAX(epoch_us(ts)) // 1000) * 1000)
           FROM events WHERE event_type = 'click') AS cmax,
          (SELECT make_timestamp((MAX(epoch_us(ts)) // 1000) * 1000)
           FROM events WHERE event_type = 'purchase') AS pmax
      )
    ),
    matched AS (
      SELECT c.click_id, p.purchase_id, c.user_id AS join_user,
             c.click_ts, p.purchase_ts
      FROM c JOIN p ON c.user_id = p.p_user
        AND p.purchase_ts >= c.click_ts
        AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
    ),
    unmatched_c AS (
      SELECT c.click_id, CAST(NULL AS BIGINT) AS purchase_id,
             c.user_id AS join_user, c.click_ts,
             CAST(NULL AS TIMESTAMP) AS purchase_ts
      FROM c
      WHERE NOT EXISTS (
          SELECT 1 FROM p WHERE p.p_user = c.user_id
            AND p.purchase_ts >= c.click_ts
            AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR)
        AND c.click_ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
    ),
    unmatched_p AS (
      SELECT CAST(NULL AS BIGINT) AS click_id, p.purchase_id,
             p.p_user AS join_user, CAST(NULL AS TIMESTAMP) AS click_ts,
             p.purchase_ts
      FROM p
      WHERE NOT EXISTS (
          SELECT 1 FROM c WHERE c.user_id = p.p_user
            AND p.purchase_ts >= c.click_ts
            AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR)
        AND p.purchase_ts < (SELECT w FROM wm)
    )
    SELECT * FROM matched
    UNION ALL SELECT * FROM unmatched_c
    UNION ALL SELECT * FROM unmatched_p
    """,
)
def q_streaming_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the §2.10 join
    family (inner / left-outer / full-outer). Matched pairs emit as
    produced; each side's unmatched rows emit null-extended only once the
    watermark proves no future partner can arrive. The two sides have
    ASYMMETRIC emission bounds, both derived from the interval condition
    purchase_ts ∈ [click_ts, click_ts + 1h]:

      * a click's null row needs watermark > click_ts + 1h (a future
        purchase could match until then) — same bound as the left-outer;
      * a purchase's null row needs only watermark > purchase_ts (any
        future click has click_ts > watermark ≥ purchase_ts, violating
        click_ts ≤ purchase_ts) — it flushes a full hour earlier.

    Both bounds are strict-< at Spark's ms event-time-stats granularity
    under the multipleWatermarkPolicy=min global watermark (NULL-propagated
    in the oracle for the empty-side case), probed empirically and pinned
    in tests/test_streaming_outer_join.py."""
    from ..session import ensure_utc

    ensure_utc(spark)
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema

    def side(event_type: str, id_alias: str, ts_alias: str, user_alias: str):
        src = stream_source(
            spark, sf_dir, schema, watermark=None, path_glob_filter="events.parquet"
        )
        src = with_ts_from_nanos(src, "ts")
        return (
            src.filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(id_alias),
                F.col("user_id").alias(user_alias),
                F.col("ts").alias(ts_alias),
            )
            .withWatermark(ts_alias, "2 hours")
        )

    clicks = side("click", "click_id", "click_ts", "user_id")
    purchases = side("purchase", "purchase_id", "purchase_ts", "p_user")
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "full_outer",
    ).select(
        "click_id",
        "purchase_id",
        F.coalesce(F.col("user_id"), F.col("p_user")).alias("join_user"),
        "click_ts",
        "purchase_ts",
    )
    sink_name = "streaming_full_outer_join_mem"
    with sized_state_partitions(spark, table_path(sf_dir, "events")):
        (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(sink_name)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.table(sink_name)


@query(
    "streaming_enrich_join",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           date_trunc('hour', e.ts) AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def q_streaming_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join — the third member of the §2.10 join
    family (beside the stream-stream interval join and stateful dedup): the
    event stream joins a static dimension table (customer, broadcast) to
    attach the market segment, then aggregates per (segment, 1h window).
    Stream-static inner joins are STATELESS — the dimension is a snapshot
    re-resolvable per micro-batch, so no join state accumulates and the
    only stateful operator is the windowed aggregate (bounded by the 2h
    watermark). This is the streaming twin of the engine's batch star-join
    flagship; complete mode over the finite source equals the batch join,
    so the oracle check is exact."""
    from ..session import ensure_utc

    ensure_utc(spark)
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    src = stream_source(
        spark, sf_dir, schema, watermark=None, path_glob_filter="events.parquet"
    )
    src = with_ts_from_nanos(src, "ts").withWatermark("ts", "2 hours")
    dim = spark.read.parquet(table_path(sf_dir, "customer")).select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("mktsegment")
    )
    enriched = src.join(
        F.broadcast(dim), src.user_id == dim.c_custkey, "inner"
    )
    agg = (
        enriched.groupBy(
            "mktsegment", F.window(F.col("ts"), "1 hour").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("total_value"),
        )
        .select(
            "mktsegment",
            F.col("w.start").alias("window_start"),
            "n_events",
            "total_value",
        )
    )
    sink_name = "streaming_enrich_join_mem"
    with sized_state_partitions(spark, table_path(sf_dir, "events")):
        (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(sink_name)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.table(sink_name)


@query(
    "streaming_dedup",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once delivery collapsed to effectively-once by STATEFUL
    streaming dedup: the same events file feeds TWO file-source streams whose
    union delivers every event twice (the redelivery the reference's 2-hour
    S3 re-listing produces — extract_stream_data.py:124-168), then
    dropDuplicatesWithinWatermark(event_id) keeps exactly one copy before a
    per-type aggregate. The oracle is the batch answer over the events read
    ONCE — equality proves the dedup state machine removed every redelivery,
    not just that the plumbing ran.

    Scale: dedup state is bounded by the watermark (2h of event_ids, evicted
    after), never by stream length; the aggregate downstream sees
    exactly-once rows, so its state is per-group, O(|event_type|)."""
    from ..session import ensure_utc

    ensure_utc(spark)
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    s1 = stream_source(
        spark, sf_dir, schema, watermark=None, path_glob_filter="events.parquet"
    )
    s2 = stream_source(
        spark, sf_dir, schema, watermark=None, path_glob_filter="events.parquet"
    )
    u = with_ts_from_nanos(s1.unionByName(s2), "ts").withWatermark("ts", "2 hours")
    deduped = u.dropDuplicatesWithinWatermark(["event_id"])
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("total_value"),
    )
    sink_name = "streaming_dedup_mem"
    with sized_state_partitions(spark, table_path(sf_dir, "events")):
        (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(sink_name)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.table(sink_name)


from .registry import _SQL_CDC_SCD2 as _SQL_CDC_SCD2_ORACLE  # noqa: E402


@query("streaming_cdc_scd2", oracle=_SQL_CDC_SCD2_ORACLE)
def q_streaming_cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING changelog → SCD2 dimension pipeline: the events file
    streamed as an I/U/D op log into a foreachBatch sink
    (streaming.pipeline.foreach_batch_cdc_scd2) that compacts each epoch
    to its net per-key delta and merges it into the parquet-stored
    dimension via cdc_to_scd2 — the shape a Debezium/Delta-CDF consumer
    actually runs, per-epoch MERGE INTO included (write-then-swap here;
    a transactional format at 100 TB).

    Correctness: an availableNow run over one file is a single epoch, so
    the stored dimension this returns is bit-equal to the batch
    cdc_scd2_pipeline — which is why this STREAMING query carries that
    pipeline's exact DuckDB oracle verbatim, and additionally asserts the
    same-engine equality inside the plan on every run (the multi-epoch
    semantics — one recorded version per epoch — are pinned in
    tests/test_streaming.py). Initial dimension state is built batch-side
    and written before the stream starts, exactly how a production
    backfill seeds a CDC consumer."""
    import tempfile

    from ..session import ensure_utc
    from ..streaming.pipeline import foreach_batch_cdc_scd2
    from .registry import _CDC_EFF, _CDC_T0, _cdc_dim_open, _cdc_log

    ensure_utc(spark)
    (events_batch,) = _t(spark, sf_dir, "events")
    log_batch = _cdc_log(events_batch)
    target = tempfile.mkdtemp(prefix="stream_scd2_") + "/dim"
    _cdc_dim_open(log_batch, _CDC_T0).write.parquet(target)

    schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    src = stream_source(
        spark, sf_dir, schema, watermark=None, path_glob_filter="events.parquet"
    )
    t0 = F.lit(_CDC_T0).cast("timestamp")
    ops = _cdc_log(with_ts_from_nanos(src, "ts")).filter(F.col("ts") >= t0)
    sink = foreach_batch_cdc_scd2(
        target,
        keys=["user_id"],
        attrs=["state_value"],
        order_cols=["ts", "event_id"],
        effective_for=lambda _e: _CDC_EFF,
    )
    (
        ops.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_scd2_"))
        .start()
        .awaitTermination()
    )
    got = spark.read.parquet(target)
    # single-epoch equality vs the exact-oracle batch pipeline, executed
    # on every run of this query (see docstring)
    from .registry import q_cdc_scd2_pipeline

    want = q_cdc_scd2_pipeline(spark, sf_dir)
    sym_diff = got.exceptAll(want).count() + want.exceptAll(got).count()
    if sym_diff != 0:
        raise AssertionError(
            f"streaming CDC-SCD2 diverged from the batch pipeline by "
            f"{sym_diff} rows"
        )
    return got.orderBy("user_id", "valid_from")


@query("streaming_cdc_scd2_bucketed", oracle=_SQL_CDC_SCD2_ORACLE)
def q_streaming_cdc_scd2_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming_cdc_scd2 with the per-epoch write amplification BOUNDED
    (VERDICT r7 #4): the stored dimension is hash-bucketed by key
    (pmod(xxhash64(key), 64) directory partitions), and each epoch reads,
    merges, and REWRITES ONLY the buckets its delta touches — per-epoch
    I/O is O(delta's bucket coverage), not O(|dimension|), the
    parquet-native stand-in for MERGE INTO on Delta/Iceberg. Slice-wise
    application equals whole-table because cdc_to_scd2 is strictly
    per-key and every version of a key lives in its key's bucket —
    which is why this query carries the batch pipeline's exact oracle
    VERBATIM and additionally asserts row-identity against the
    unbucketed streaming consumer's own oracle target in tests.
    Untouched-buckets-not-rewritten is pinned by a part-file-identity
    test (tests/test_streaming_index_maintain.py); a measured
    rewrite-bytes point is recorded in PERF.md."""
    import tempfile

    from ..session import ensure_utc
    from ..streaming.pipeline import (
        foreach_batch_cdc_scd2_bucketed,
        read_bucketed_store,
        write_bucketed_store,
    )
    from .registry import _CDC_EFF, _CDC_T0, _cdc_dim_open, _cdc_log

    ensure_utc(spark)
    (events_batch,) = _t(spark, sf_dir, "events")
    log_batch = _cdc_log(events_batch)
    target = tempfile.mkdtemp(prefix="stream_scd2b_") + "/dim"
    write_bucketed_store(
        _cdc_dim_open(log_batch, _CDC_T0), target, keys=["user_id"], n_buckets=64
    )

    schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    src = stream_source(
        spark, sf_dir, schema, watermark=None, path_glob_filter="events.parquet"
    )
    t0 = F.lit(_CDC_T0).cast("timestamp")
    ops = _cdc_log(with_ts_from_nanos(src, "ts")).filter(F.col("ts") >= t0)
    sink = foreach_batch_cdc_scd2_bucketed(
        target,
        keys=["user_id"],
        attrs=["state_value"],
        order_cols=["ts", "event_id"],
        n_buckets=64,
        effective_for=lambda _e: _CDC_EFF,
    )
    (
        ops.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_scd2b_"))
        .start()
        .awaitTermination()
    )
    return read_bucketed_store(spark, target).orderBy("user_id", "valid_from")


# point-lookup store cache: the bucketed SCD2 dimension is built once
# per sf_dir (batch pipeline output, bucketed by user_id); the row times
# the PURE keyed serve
_SCD2_PL_STORE: dict[str, str] = {}


@query(
    "scd2_dim_point_lookup",
    oracle=f"""
    WITH base AS ({_SQL_CDC_SCD2_ORACLE})
    SELECT base.* FROM base
    JOIN (
      SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
      ORDER BY user_id LIMIT 5
    ) k USING (user_id)
    ORDER BY user_id, valid_from
""",
)
def q_scd2_dim_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT LOOKUP into the bucketed SCD2 dimension — "this user's
    version history, now", the per-entity query a 100 TB CDC-maintained
    dimension exists to answer: five requested keys route through the
    store's own bucket_expr (`_layout` sidecar), ONLY the touched bucket
    dirs are read by explicit path, the keys broadcast left-semi into
    the slice (streaming.pipeline.read_bucketed_store_keyed). Per-lookup
    I/O is O(touched buckets), never O(dimension). The store is the
    batch CDC→SCD2 pipeline's output bucketed by user_id (built once per
    sf_dir — the maintainer itself is streaming_cdc_scd2_bucketed's
    contract); oracle: the full SCD2 recompute restricted to the same
    five smallest user ids — bucket routing loses nothing."""
    from ..streaming.pipeline import read_bucketed_store_keyed, write_bucketed_store
    from .registry import q_cdc_scd2_pipeline

    if sf_dir not in _SCD2_PL_STORE:
        import tempfile

        target = tempfile.mkdtemp(prefix="scd2_pl_") + "/dim"
        write_bucketed_store(
            q_cdc_scd2_pipeline(spark, sf_dir), target, ["user_id"], 64
        )
        _SCD2_PL_STORE[sf_dir] = target
    (events,) = _t(spark, sf_dir, "events")
    wanted = (
        events.filter(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
        .orderBy("user_id")
        .limit(5)
    )
    return (
        read_bucketed_store_keyed(spark, _SCD2_PL_STORE[sf_dir], wanted)
        .orderBy("user_id", "valid_from")
    )


@query(
    "incremental_agg_merge",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS avg_value
    FROM events
    GROUP BY event_type
    """,
)
def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance by PARTIAL-AGGREGATE MERGE: the events
    table is split into an "already aggregated" slice and a "new batch"
    (first vs second half of the time range), each reduced to mergeable
    state (count, exact decimal sum) per group, then the two states are
    merged — count adds, sum adds — and derived measures (avg) are
    reconstructed from the merged state. The oracle is the full recompute;
    equality proves merge(state(A), state(B)) == state(A ∪ B), which is the
    algebraic property every incremental pipeline at 100 TB relies on
    (recompute only the new day's partition, merge into the rollup).

    Plan: each slice aggregates behind its own scan filter (partial maps +
    one shuffle each at |groups| cardinality), the merge groupBy runs over
    2·|groups| rows — data volume touches only the two slice aggregates,
    never a re-scan of history. avg is ONE double division of exact decimal
    state — bit-identical to the recompute's."""
    (events,) = _t(spark, sf_dir, "events")
    cutoff = "2024-06-01"
    dec_val = F.col("value").cast("decimal(27,6)")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(dec_val).alias("sm"),
        )

    old_state = partial(events.filter(F.col("ts") < F.lit(cutoff)))
    new_state = partial(events.filter(F.col("ts") >= F.lit(cutoff)))
    merged = (
        old_state.unionByName(new_state)
        .groupBy("event_type")
        .agg(F.sum("cnt").alias("n_events"), F.sum("sm").alias("total_sum"))
    )
    return merged.select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("total_sum").cast("double").alias("total_value"),
        (F.col("total_sum").cast("double") / F.col("n_events").cast("double")).alias(
            "avg_value"
        ),
    )


_RETRACT_CUTOFF = "2024-06-01"


@query(
    "incremental_agg_retract",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
    FROM events
    WHERE NOT (ts < TIMESTAMP '{_RETRACT_CUTOFF}' AND event_id % 7 = 0)
    GROUP BY event_type
    ORDER BY event_type
""",
)
def q_incremental_agg_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance WITH RETRACTIONS
    (operators/relational.apply_weighted_delta) — the z-set/DBSP rule
    that closes the delete gap in the incremental family: the standing
    view aggregates the pre-cutoff history; the changelog then both
    INSERTS the post-cutoff slice (w=+1) and RETRACTS a deterministic
    subset of already-aggregated history (event_id % 7 == 0, w=-1 — an
    upstream correction/GDPR-delete shape). cnt adds weights, the exact
    decimal sum adds weighted values, zero-weight groups disappear.
    The oracle is the FULL recompute over the surviving multiset:
    equality proves maintain(state, Δ) == recompute(apply(Δ, data)) with
    deletes in play — the identity insert-only merge cannot express.

    Plan: the delta aggregates behind its own scan filters (map-side
    combine), the merge groupBy runs at |groups| cardinality — history
    is scanned once to seed the view (self-containment), never again
    for maintenance."""
    from ..operators.relational import apply_weighted_delta

    (events,) = _t(spark, sf_dir, "events")
    cutoff = F.lit(_RETRACT_CUTOFF).cast("timestamp")
    dec_val = F.col("value").cast("decimal(27,6)")
    state = (
        events.filter(F.col("ts") < cutoff)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum(dec_val).alias("sm"))
    )
    inserts = events.filter(F.col("ts") >= cutoff).select(
        "event_type", "value", F.lit(1).alias("w")
    )
    retractions = events.filter(
        (F.col("ts") < cutoff) & (F.col("event_id") % 7 == 0)
    ).select("event_type", "value", F.lit(-1).alias("w"))
    maintained = apply_weighted_delta(
        state, inserts.unionByName(retractions), ["event_type"], "value"
    )
    return maintained.select(
        "event_type",
        F.col("cnt").alias("n_events"),
        F.col("sm").cast("double").alias("total_value"),
    ).orderBy("event_type")


@query(
    "streaming_agg_retract_maintain",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
    FROM events
    WHERE NOT (ts < TIMESTAMP '{_RETRACT_CUTOFF}' AND event_id % 7 = 0)
    GROUP BY event_type
    ORDER BY event_type
""",
)
def q_streaming_agg_retract_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING z-set view maintenance — the eighth stored-artifact
    foreachBatch consumer (streaming.pipeline.
    foreach_batch_weighted_agg_maintain): the stored aggregate view is
    seeded batch-side over the pre-cutoff history, then a WEIGHTED
    changelog streams through — inserts of the post-cutoff slice (w=+1)
    interleaved with retractions of already-aggregated history (w=-1,
    the correction/GDPR-delete shape) — and the maintained view must
    equal the batch recompute over the surviving multiset, the same
    exact oracle as the batch twin (incremental_agg_retract). The epoch
    ledger is load-bearing (additive weighted merges would double-count
    a replay); zero-weight groups disappear per the z-set rule."""
    import tempfile

    from ..session import ensure_utc
    from ..sources.readers import table_path
    from ..streaming.pipeline import (
        foreach_batch_weighted_agg_maintain,
        stream_source,
    )

    ensure_utc(spark)
    (events,) = _t(spark, sf_dir, "events")
    cutoff = F.lit(_RETRACT_CUTOFF).cast("timestamp")
    dec_val = F.col("value").cast("decimal(27,6)")
    target = tempfile.mkdtemp(prefix="stream_wagg_") + "/state"
    (
        events.filter(F.col("ts") < cutoff)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(dec_val).cast("decimal(38,6)").alias("sm"),
        )
        .write.parquet(target)
    )
    # stage the weighted changelog, then stream it through the sink
    staging = tempfile.mkdtemp(prefix="wagg_delta_")
    inserts = events.filter(F.col("ts") >= cutoff).select(
        "event_type", "value", F.lit(1).cast("int").alias("w")
    )
    retractions = events.filter(
        (F.col("ts") < cutoff) & (F.col("event_id") % 7 == 0)
    ).select("event_type", "value", F.lit(-1).cast("int").alias("w"))
    changelog = inserts.unionByName(retractions)
    changelog.write.parquet(f"{staging}/delta.parquet")
    src = stream_source(
        spark,
        f"{staging}/delta.parquet",
        changelog.schema,
        watermark=None,
    )
    sink = foreach_batch_weighted_agg_maintain(
        target, ["event_type"], "value"
    )
    (
        src.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_wagg_"))
        .start()
        .awaitTermination()
    )
    return (
        spark.read.parquet(target)
        .select(
            "event_type",
            F.col("cnt").alias("n_events"),
            F.col("sm").cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


@query(
    "streaming_agg_retract_maintain_bucketed",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
    FROM events
    WHERE NOT (ts < TIMESTAMP '{_RETRACT_CUTOFF}' AND event_id % 7 = 0)
    GROUP BY event_type
    ORDER BY event_type
""",
)
def q_streaming_agg_retract_maintain_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The bucketed twin of streaming_agg_retract_maintain
    (streaming.pipeline.foreach_batch_weighted_agg_maintain_bucketed):
    the stored z-set aggregate state is hash-bucketed by key and each
    epoch rewrites ONLY the buckets its weighted delta touches — the
    bounded-rewrite treatment a per-user-grain state (billions of groups
    at 100 TB) needs, with the z-set-specific twist that a bucket
    emptied by the zero-weight rule is DELETED rather than skipped.
    Same exact oracle as the unbucketed twin: the full recompute over
    the surviving multiset."""
    import tempfile

    from ..session import ensure_utc
    from ..streaming.pipeline import (
        foreach_batch_weighted_agg_maintain_bucketed,
        read_bucketed_store,
        stream_source,
        write_bucketed_store,
    )

    ensure_utc(spark)
    (events,) = _t(spark, sf_dir, "events")
    cutoff = F.lit(_RETRACT_CUTOFF).cast("timestamp")
    dec_val = F.col("value").cast("decimal(27,6)")
    target = tempfile.mkdtemp(prefix="stream_waggb_") + "/state"
    state = (
        events.filter(F.col("ts") < cutoff)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(dec_val).cast("decimal(38,6)").alias("sm"),
        )
    )
    write_bucketed_store(state, target, ["event_type"], 16)
    staging = tempfile.mkdtemp(prefix="waggb_delta_")
    changelog = (
        events.filter(F.col("ts") >= cutoff)
        .select("event_type", "value", F.lit(1).cast("int").alias("w"))
        .unionByName(
            events.filter(
                (F.col("ts") < cutoff) & (F.col("event_id") % 7 == 0)
            ).select("event_type", "value", F.lit(-1).cast("int").alias("w"))
        )
    )
    changelog.write.parquet(f"{staging}/delta.parquet")
    sink = foreach_batch_weighted_agg_maintain_bucketed(
        target, ["event_type"], "value", n_buckets=16
    )
    (
        stream_source(spark, f"{staging}/delta.parquet", changelog.schema, watermark=None)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_waggb_"))
        .start()
        .awaitTermination()
    )
    return (
        read_bucketed_store(spark, target)
        .select(
            "event_type",
            F.col("cnt").alias("n_events"),
            F.col("sm").cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


@query(
    "trailing_window_features",
    oracle="""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER w AS DOUBLE) AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(epoch(ts) AS BIGINT)
                 RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
    """,
)
def q_trailing_window_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-hour features (count + exact sum of the user's
    events in the preceding 3600 s) — the RANGE-frame window every
    feature-engineering pipeline computes for "activity in the last N
    minutes" signals. The frame is anchored on epoch SECONDS in both engines
    (sub-second timestamps truncate identically), so the peer sets match
    bit-for-bit; RANGE frames include all peers, making the result
    independent of tie order.

    Scale: ONE shuffle on user_id, then a sort within each user's partition
    and a sliding frame — state is O(events inside the frame), never the
    whole history; skewed users split by AQE. This is the batch twin of the
    streaming sliding-window aggregate (sliding_window_agg)."""
    (events,) = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("timestamp").cast("long"))
        .rangeBetween(-3599, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(F.col("value").cast("decimal(27,6)")).over(w).cast("double").alias("sum_1h"),
    )


@query(
    "running_distinct_users",
    oracle="""
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    fs AS (SELECT user_id, CAST(MIN(ts) AS DATE) AS first_day FROM events GROUP BY 1),
    nu AS (SELECT first_day AS day, COUNT(*) AS new_users FROM fs GROUP BY 1)
    SELECT CAST(d.day AS VARCHAR) AS day,
           CAST(COALESCE(nu.new_users, 0) AS BIGINT) AS new_users,
           CAST(SUM(COALESCE(nu.new_users, 0)) OVER (ORDER BY d.day) AS BIGINT)
             AS cum_users
    FROM days d LEFT JOIN nu USING (day)
    """,
)
def q_running_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day — the growth-curve query. The naive
    form (COUNT(DISTINCT user) over an expanding window) re-scans every
    prefix: O(days × users) state. The scale form used here is the
    FIRST-SEEN transform: distinct-so-far == count of users whose first
    event is ≤ day, so one user-level min(ts) aggregate + a per-day count +
    a running sum over |days| rows replaces the expanding distinct
    entirely — the standard trick for cumulative-unique metrics at 100 TB
    (state collapses from users×days to users once).

    Plan: one shuffle on user_id (first-seen), one tiny shuffle on day, and
    a window over |days| rows (single partition of ~hundreds of rows — fine
    because cardinality is bounded by the calendar, not the data)."""
    (events,) = _t(spark, sf_dir, "events")
    # dates travel as ISO strings (registry convention — engine-neutral dtype)
    days = events.select(F.to_date("ts").alias("day")).distinct()
    fs = events.groupBy("user_id").agg(F.to_date(F.min("ts")).alias("first_day"))
    nu = fs.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        days.join(nu, "day", "left")
        .select("day", F.coalesce(F.col("new_users"), F.lit(0)).alias("new_users"))
        .select(
            F.col("day").cast("string").alias("day"),
            F.col("new_users").cast("bigint").alias("new_users"),
            F.sum("new_users").over(w).cast("bigint").alias("cum_users"),
        )
    )


@query(
    "audio_chunk_features",
    oracle="""
    WITH c AS (
      SELECT doc_id AS media_id,
             CAST(u.i AS BIGINT) AS chunk_index,
             CAST(u.i * 2000 AS BIGINT) AS offset_ms,
             text
      FROM documents,
           UNNEST(range(0, least((n_chars * 10) // 2000 + 1, 12))) AS u(i)
    )
    SELECT media_id, chunk_index, offset_ms,
           md5(text || '|' || CAST(offset_ms AS VARCHAR)) AS chunk_digest,
           CAST((octet_length(encode(text)) + offset_ms) % 1000 AS BIGINT) AS energy
    FROM c
    """,
)
def q_audio_chunk_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunking + per-chunk feature decode through the multimodal
    plumbing (operators/multimodal.py:decode_audio_chunks): 2 s chunks (cap
    12) explode JVM-side from duration metadata, the Arrow mapInPandas
    'decode' computes deterministic fake features (digest + pseudo-energy)
    that the oracle reproduces exactly — so the Python batch path itself is
    value-verified, like multimodal_features. duration_ms = n_chars*10
    (same synthesis as video_frame_sample)."""
    from ..operators.multimodal import decode_audio_chunks

    (docs,) = _t(spark, sf_dir, "documents")
    return decode_audio_chunks(_as_media(docs, "audio"), chunk_ms=2000, max_chunks=12)


@query(
    "training_shards",
    oracle="""
    WITH h AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents
    ),
    s AS (
      SELECT doc_id, hx,
             CAST(((instr('0123456789abcdef', substring(hx, 1, 1)) - 1) * 16
                   + (instr('0123456789abcdef', substring(hx, 2, 1)) - 1)) % 8
                  AS BIGINT) AS shard
      FROM h
    )
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hx, doc_id)
                AS BIGINT) AS pos
    FROM s
    """,
)
def q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard assignment — the export step of
    a training pipeline: every document gets a pseudo-random but
    key-reproducible (shard, position) so the shuffled order is identical
    across runs, engines, and incremental rebuilds (no RAND(): a doc's slot
    is a pure function of its id). Shard = first byte of md5(doc_id) mod 8,
    position = rank of the md5 within the shard.

    Scale: this IS repartition-by-hash + sort-within-partitions — the
    window's PARTITION BY shard hashes docs to shard-sized groups (one
    shuffle) and ORDER BY sorts each shard locally; no global sort, no
    single-partition window. At 100 TB you raise the shard count so each
    sorted run fits an executor, then write shards as files in `pos` order.
    The hex→int arithmetic uses only instr/substring so Spark and DuckDB
    evaluate the byte identically."""
    (docs,) = _t(spark, sf_dir, "documents")
    hx = "0123456789abcdef"
    d = docs.select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("__h")
    )
    d = d.withColumn(
        "shard",
        (
            (F.expr(f"instr('{hx}', substring(__h, 1, 1))") - 1) * 16
            + (F.expr(f"instr('{hx}', substring(__h, 2, 1))") - 1)
        ).cast("bigint") % 8,
    )
    w = Window.partitionBy("shard").orderBy("__h", "doc_id")
    return d.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


@query(
    "corr_stats",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(value AS DECIMAL(18,6)) AS x,
             CAST(hour(ts) AS DECIMAL(18,6)) AS y
      FROM events
    ),
    a AS (
      -- decimal→double goes through VARCHAR: DuckDB's direct cast divides
      -- double(unscaled)/double(10^scale), which double-rounds once the
      -- scale-12 unscaled value exceeds 2^53; the text path is correctly
      -- rounded, matching the JVM's BigDecimal conversion bit-for-bit.
      SELECT event_type,
             COUNT(*) AS n_events,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(x * y) AS VARCHAR) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE) AS syy
      FROM e GROUP BY event_type
    )
    SELECT event_type, n_events,
           CASE WHEN sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy) > 0
                THEN (n * sxy - sx * sy)
                       / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                ELSE NULL END AS value_hour_corr
    FROM a
    """,
)
def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation (value vs hour-of-day) computed the
    bit-deterministic way: the five moment sums accumulate as EXACT decimals
    (order-independent), and floating point appears only in one final scalar
    expression evaluated identically by both engines — the same discipline
    as _exact_avg, extended to second moments. The built-in F.corr would
    give an order-DEPENDENT double whose hash flaps across partitionings.

    Scale: one scan, one map-side-combined shuffle on the group key; the
    correlation itself is arithmetic on a 6-number-per-group table.

    Overflow bound: x*x and x*y accumulate as decimal(37,12), so their sums
    (decimal(38,12)) overflow once a group's Σx² exceeds ~1e26 — e.g. ~1e14
    rows of |value| ≈ 1e6. Under spark.sql.ansi.enabled=false that overflow
    is a SILENT NULL sum (and a NULL correlation); run with ANSI enabled
    (this repo's session default) so it fails loudly instead, or pre-scale
    `value` if a corpus can plausibly cross the bound."""
    (events,) = _t(spark, sf_dir, "events")
    x = F.col("value").cast("decimal(18,6)")
    y = F.hour(F.col("ts")).cast("decimal(18,6)")
    a = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    # degenerate groups (n=1 or constant x/y) make the denominator 0 (or
    # NaN via a tiny negative under sqrt): emit NULL in BOTH engines rather
    # than relying on engine-specific /0 semantics
    den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    return a.select(
        "event_type",
        "n_events",
        F.when(den > 0, (n * sxy - sx * sy) / den).alias("value_hour_corr"),
    )


@query(
    "cohort_retention",
    oracle="""
    WITH f AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ),
    a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
    SELECT CAST(f.cohort_day AS VARCHAR) AS cohort_day,
           CAST(datediff('day', f.cohort_day, a.day) AS BIGINT) AS day_offset,
           COUNT(*) AS n_users
    FROM a JOIN f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-seen day, counted on
    each later active day as (cohort_day, day_offset) — the
    product-analytics classic the reference's KPI layer points toward
    (first-seen logic shared with running_distinct_users). COUNT(*) is
    already distinct-per-user because activity rows are deduped to
    (user, day) first — no count-distinct expansion in the final aggregate.

    Scale: first-seen and the (user, day) dedup both shuffle on user_id, so
    the join runs on co-partitioned inputs; the retention aggregate is over
    |users|·|active days| rows at most, heavily map-side combined."""
    (events,) = _t(spark, sf_dir, "events")
    first = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    act = events.select("user_id", F.to_date("ts").alias("day")).distinct()
    return (
        act.join(first, "user_id")
        .groupBy(
            F.col("cohort_day").cast("string").alias("cohort_day"),
            F.datediff("day", "cohort_day").cast("bigint").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "zscore_normalize",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type, CAST(value AS DECIMAL(18,6)) AS x
      FROM events
    ),
    m AS (
      -- VARCHAR-mediated decimal→double: see corr_stats
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx
      FROM e GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           CASE WHEN sqrt(m.sxx / m.n - (m.sx / m.n) * (m.sx / m.n)) > 0
                THEN (CAST(CAST(e.x AS VARCHAR) AS DOUBLE) - m.sx / m.n)
                       / sqrt(m.sxx / m.n - (m.sx / m.n) * (m.sx / m.n))
                ELSE NULL END AS zscore
    FROM e JOIN m ON e.event_type = m.event_type
    """,
)
def q_zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature standardization (z-score): every event's value
    rescaled by its group's mean/std — the normalization pass in front of
    any model that eats numeric features. Moments follow the corr_stats
    discipline (exact decimal sums, floats only in one final per-row
    expression both engines evaluate identically), so every z-score is
    bit-deterministic under any partitioning.

    Scale: one map-side-combined shuffle for the 5-row moment table, then a
    broadcast join back onto the stream — the corpus is scanned twice but
    never shuffled; population (not sample) variance, n in the
    denominator."""
    (events,) = _t(spark, sf_dir, "events")
    x = F.col("value").cast("decimal(18,6)")
    m = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(x * x).cast("double").alias("sxx"),
    )
    mean = F.col("sx") / F.col("n")
    std = F.sqrt(F.col("sxx") / F.col("n") - mean * mean)
    return (
        events.select("event_id", "event_type", x.alias("x"))
        .join(F.broadcast(m), "event_type")
        .select(
            "event_id",
            "event_type",
            # constant-valued groups → std == 0 (or NaN): NULL in both
            # engines instead of engine-specific /0 behavior
            F.when(std > 0, (F.col("x").cast("double") - mean) / std).alias(
                "zscore"
            ),
        )
    )


@query(
    "funnel_stages",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT 'view' AS stage, 1 AS stage_order, COUNT(*) AS n_users FROM v
    UNION ALL
    SELECT 'click', 2, COUNT(*) FROM c
    UNION ALL
    SELECT 'purchase', 3, COUNT(*) FROM p
    """,
)
def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase): a user advances
    a stage only with an event strictly AFTER their previous stage's
    timestamp — the sequence-matching analytics classic, not three
    independent existence checks. Each stage is a filtered min-aggregate
    joined against the previous stage's survivors.

    Scale: all three aggregates and joins hash on user_id, so the stages
    reuse one co-partitioning; each stage's input shrinks monotonically
    (funnel property). Event-type pushdown reaches the scan per stage —
    no stage reads the whole table."""
    (events,) = _t(spark, sf_dir, "events")

    def stage(event_type: str, prev, prev_t: str, t_alias: str):
        e = events.filter(F.col("event_type") == event_type).select(
            "user_id", "ts"
        )
        if prev is not None:
            e = e.join(prev, "user_id").filter(F.col("ts") > F.col(prev_t))
        return e.groupBy("user_id").agg(F.min("ts").alias(t_alias))

    v = stage("view", None, "", "t_view")
    c = stage("click", v, "t_view", "t_click")
    p = stage("purchase", c, "t_click", "t_purchase")

    def row(name: str, order: int, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.lit(order).cast("int").alias("stage_order"),
            F.count(F.lit(1)).alias("n_users"),
        )

    return row("view", 1, v).unionAll(row("click", 2, c)).unionAll(
        row("purchase", 3, p)
    )


@query(
    "quantile_buckets",
    oracle="""
    SELECT event_id, event_type,
           CAST(NTILE(10) OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS BIGINT) AS decile
    FROM events
    """,
)
def q_quantile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile bucketing (feature discretization): every event assigned its
    within-group value decile — the binning step before hashed/categorical
    feature crosses. NTILE is rank-arithmetic on a totally ordered
    partition ((value, event_id) breaks ties), so bucket boundaries are
    deterministic and both engines agree exactly — no float thresholds
    involved.

    Scale: one shuffle on the group key + an in-partition sort (AQE splits
    skewed groups); at 100 TB with heavy groups, swap NTILE for a join
    against approx-percentile boundaries — same output schema, sketch
    accuracy."""
    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return events.select(
        "event_id",
        "event_type",
        F.ntile(10).over(w).cast("bigint").alias("decile"),
    )


@query(
    "behavior_ngrams",
    oracle="""
    WITH s AS (
      SELECT user_id, list(event_type ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT unnest(list_transform(range(1, greatest(len(seq) - 2, 0) + 1),
                    i -> seq[i] || '>' || seq[i + 1] || '>' || seq[i + 2]))
               AS pattern
      FROM s
    )
    SELECT pattern, COUNT(*) AS n
    FROM g GROUP BY pattern
    """,
)
def q_behavior_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral sequence mining: corpus-wide counts of per-user
    event-type trigrams (e.g. 'view>click>purchase') — the pattern-features
    step of churn/propensity models and the histogram funnel analyses read.
    Each user's ordered sequence is assembled ONCE (sort_array over
    (ts, event_id, type) structs makes the order total and deterministic),
    trigrams explode JVM-side, counts combine map-side.

    Scale: one shuffle on user_id to build sequences (state = one user's
    events, AQE-splittable), one combined count shuffle over the
    |event_type|³-bounded pattern space."""
    (events,) = _t(spark, sf_dir, "events")
    seq = (
        events.groupBy("user_id")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("ts"), F.col("event_id"), F.col("event_type")
                        )
                    )
                ),
                lambda s: s.getField("event_type"),
            ).alias("seq")
        )
    )
    tris = (
        seq.filter(F.size("seq") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(seq) - 2),"
                    " i -> concat_ws('>', element_at(seq, i),"
                    " element_at(seq, i + 1), element_at(seq, i + 2)))"
                )
            ).alias("pattern")
        )
    )
    return tris.groupBy("pattern").agg(F.count(F.lit(1)).alias("n"))


@query(
    "heavy_hitters",
    oracle="""
    WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
    r AS (
      SELECT user_id, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, user_id ASC) AS rk
      FROM c
    )
    SELECT r.user_id, r.n, CAST(r.rk AS BIGINT) AS rk,
           CAST(r.n AS DOUBLE) / CAST(t.total AS DOUBLE) AS frac
    FROM r, t WHERE r.rk <= 20
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics: the 20 heaviest user_id keys with their
    row share — the report you run BEFORE deciding to salt a join or rely
    on AQE skew splitting (operators/skew.py is the treatment; this is the
    diagnosis). frac is one division of exact longs — deterministic.

    Scale: one map-side-combined count shuffle; ranking runs on the
    |keys|-row count table and the 1-row total broadcasts. The exact
    count-per-key is itself skew-safe (partial aggregation absorbs the hot
    keys map-side); at extreme cardinality swap in a count-min sketch, same
    output shape."""
    (events,) = _t(spark, sf_dir, "events")
    c = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").cast("bigint").alias("total"))
    # TakeOrderedAndProject cuts to 20 rows first; the rank window then
    # runs over those 20, never the full |keys| table on one partition
    top = c.orderBy(F.col("n").desc(), F.col("user_id").asc()).limit(20)
    w = Window.orderBy(F.col("n").desc(), F.col("user_id").asc())
    return (
        top.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .crossJoin(F.broadcast(t))
        .select(
            "user_id",
            "n",
            "rk",
            (F.col("n").cast("double") / F.col("total").cast("double")).alias(
                "frac"
            ),
        )
    )


# --- Spark 4 engine surface: recursive CTEs and the VARIANT type -----------

_CHAIN_GAP_US = 60_000_000  # 60 s
_CHAIN_DEPTH_CAP = 20

_RCTE_BODY = f"""
    WITH lk AS (
      SELECT event_id, user_id, ts,
             lead(event_id) OVER w AS nxt_id,
             lead(ts) OVER w AS nxt_ts,
             lag(ts) OVER w AS prev_ts
      FROM {{src}}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    link AS (
      SELECT event_id, nxt_id FROM lk
      WHERE nxt_id IS NOT NULL
        AND {{us}}(nxt_ts) - {{us}}(ts) <= {_CHAIN_GAP_US}
    ),
    heads AS (
      SELECT event_id, user_id FROM lk
      WHERE prev_ts IS NULL OR {{us}}(ts) - {{us}}(prev_ts) > {_CHAIN_GAP_US}
    ),
    c AS (
      SELECT h.event_id AS head_id, h.user_id, h.event_id AS cur_id,
             0 AS depth
      FROM heads h
      UNION ALL
      SELECT c.head_id, c.user_id, l.nxt_id, c.depth + 1
      FROM c JOIN link l ON l.event_id = c.cur_id
      WHERE c.depth < {_CHAIN_DEPTH_CAP}
    )
    SELECT head_id, user_id,
           CAST(COUNT(*) AS BIGINT) AS chain_len
    FROM c GROUP BY head_id, user_id
"""


@query(
    "recursive_event_chains",
    oracle="WITH RECURSIVE "
    + _RCTE_BODY.format(src="events", us="epoch_us").lstrip()[len("WITH ") :],
)
def q_recursive_event_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst-chain lengths via Spark 4's RECURSIVE CTE: per user, events
    form a linked list ordered by time; links connect events ≤ 60 s apart,
    chain heads are events with no link in, and the recursion walks each
    chain (UNION ALL — the only supported recursive form — is safe here
    because the per-user next-pointer list is ACYCLIC and linear, so every
    row extends exactly one way: no path multiplicity, no cycle risk,
    unlike undirected closure which stays with connected_components).
    Depth is capped at 20 on BOTH engines, making truncation part of the
    contract. Scale shape: the recursion executes as O(depth) shuffle
    rounds over the shrinking frontier — the same iteration cost model as
    connected_components, now expressed in SQL-standard form."""
    (events,) = _t(spark, sf_dir, "events")
    events.createOrReplaceTempView("events_rcte_src")
    return spark.sql(
        "WITH RECURSIVE "
        + _RCTE_BODY.format(src="events_rcte_src", us="unix_micros").lstrip()[
            len("WITH ") :
        ]
    )


@query(
    "variant_json_stats",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def q_variant_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through Spark 4's VARIANT type: props JSON
    is parsed ONCE into a variant column (parse_json — the open-format
    binary encoding that scans ~8× faster than repeated string JSON-path
    evaluation and supports shredded columnar storage at scale), then
    typed fields come out with variant_get. The aggregate is an exact
    integer rollup per event_type. The oracle reads the same fields with
    DuckDB's JSON functions — value parity proves the variant path decodes
    identically to string JSON-path extraction (`json_extract`'s
    get_json_object baseline)."""
    (events,) = _t(spark, sf_dir, "events")
    v = events.select(
        "event_type", F.parse_json("props").alias("v")
    ).select(
        "event_type",
        F.try_variant_get(F.col("v"), "$.k", "bigint").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.min("k").cast("bigint").alias("min_k"),
        F.max("k").cast("bigint").alias("max_k"),
    )


@query("sketch_rollup", oracle=None)
def q_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level HLL sketch rollup (Spark 4 native DataSketches): per
    (event_type, day) user sketches built in one pass, then MERGED per
    event_type with hll_union_agg — the pattern that makes distinct-count
    rollups cheap at 100 TB (store the per-partition sketches, never
    re-scan raw data to re-aggregate at a coarser grain; a sketch is ~KB
    regardless of cardinality). Rows-only by necessity: the estimate is a
    DataSketches value DuckDB cannot reproduce — but it IS deterministic
    (the sketch is a pure function of the hashed value set, order- and
    partition-independent), so tests/test_scale_ops.py pins the estimate's
    merge-associativity (union-of-days == direct sketch, exact equality)
    and its error vs exact distinct. The two stages are the composable
    operators in operators/sketches.py; the daily stage is a PERSISTABLE
    parquet table — tests prove the rollup read from the stored sketches
    (raw events deleted) is bit-identical to this live composition."""
    from ..operators.sketches import daily_user_sketches, rollup_user_sketches

    (events,) = _t(spark, sf_dir, "events")
    return rollup_user_sketches(daily_user_sketches(events))


_HIST_WIDTH = 8.0  # power of two: value/width is exact in binary FP
_HIST_QS = [50, 95, 99]

_SQL_HIST_DAILY = f"""
    SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           CAST(floor(value / {_HIST_WIDTH}) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2, 3
"""


@query("value_histogram_daily", oracle=_SQL_HIST_DAILY)
def q_value_histogram_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persistable QUANTILE sketch's build stage
    (operators/sketches.value_histogram — the fourth sketch family after
    HLL distinct counts, CMS point frequencies and Bloom membership):
    per (event_type, day, bucket) value counts with bucket =
    floor(value/8) — at most range/width rows per grain-day however large
    the input. Write THIS table to parquet and serve every later quantile
    or rollup from it (histogram_quantile_rollup); unlike HLL/t-digest
    blobs the sketch content is exact integers over deterministic
    bucketing, so the stored table itself carries an exact value oracle
    and merge-of-days == direct-build is an EQUALITY, not an estimate.
    One map-side-combined groupBy pass."""
    from ..operators.sketches import value_histogram

    (events,) = _t(spark, sf_dir, "events")
    hist = value_histogram(
        events, value_col="value", grain_cols=["event_type"], width=_HIST_WIDTH
    )
    # dates travel as ISO strings (registry convention — engine-neutral dtype)
    return hist.withColumn("day", F.col("day").cast("string"))


_SQL_HIST_QUANTILES = (
    "WITH h AS ("
    + _SQL_HIST_DAILY
    + f"""),
    m AS (
      SELECT event_type, bucket, CAST(SUM(n) AS BIGINT) AS n
      FROM h GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, bucket,
             CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY bucket ASC
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS n_total
      FROM m
    )
    """
    + " UNION ALL ".join(
        f"""
    SELECT event_type, CAST({q} AS BIGINT) AS q_pct, MIN(n_total) AS n_total,
           CAST(MIN(bucket) + 1 AS DOUBLE) * {_HIST_WIDTH} AS est_value
    FROM c WHERE cum * 100 >= {q} * n_total GROUP BY event_type"""
        for q in _HIST_QS
    )
)


@query("histogram_quantile_rollup", oracle=_SQL_HIST_QUANTILES)
def q_histogram_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles served from the stored histogram table
    (operators/sketches.histogram_quantiles): per-day buckets merged
    across days (one map-side sum), a cumulative window over BUCKET
    granularity (≤ range/width rows per grain — constant in corpus size),
    and p50/p95/p99 picked by the exact integer predicate
    cum·100 ≥ q·total — estimate = the covering bucket's upper boundary,
    so the true quantile is within one bucket width below it (pinned vs
    exact percentile in tests, along with the merge-equals-direct and
    delete-the-raw-data persistence contracts). No float percentile math
    anywhere, hence the exact oracle — the property HLL's rows-only
    sketch_rollup can never have."""
    from ..operators.sketches import histogram_quantiles, value_histogram

    (events,) = _t(spark, sf_dir, "events")
    hist = value_histogram(
        events, value_col="value", grain_cols=["event_type"], width=_HIST_WIDTH
    )
    return histogram_quantiles(
        hist, grain_cols=["event_type"], q_pcts=_HIST_QS, width=_HIST_WIDTH
    )


def _zorder_oracle() -> str:
    from ..operators.layout import zorder_key_sql

    return zorder_key_sql(
        "lineitem",
        ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"],
        ["l_partkey", "l_suppkey"],
    )


@query("zorder_layout", oracle=_zorder_oracle())
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order locality keys over (l_partkey, l_suppkey) — the
    Delta/Iceberg OPTIMIZE ZORDER BY layout primitive
    (operators/layout.py): min-max normalize each column to 16 bits with
    exact floor division (one 1-row stats broadcast), then Morton-
    interleave so range-partitioned files get tight min/max bounds in BOTH
    columns at once — file skipping works for queries on either key, which
    single-column sorting cannot give. All-integer, so the LAYOUT KEY
    carries an exact DuckDB value oracle; the pruning win itself is pinned
    in tests/test_layout.py (second-column point queries scan 5.25/16
    Z-order files on average vs 16/16 under lexicographic sort)."""
    from ..operators.layout import zorder_key

    (li,) = _t(spark, sf_dir, "lineitem")
    return zorder_key(
        li.select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        ["l_partkey", "l_suppkey"],
    )


@query(
    "streaming_join_window_agg",
    oracle="""
    WITH c AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT event_id AS purchase_id, user_id AS p_user, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
      -- NULL-propagating min watermark (see streaming_outer_join)
      SELECT CASE
        WHEN cmax IS NULL OR pmax IS NULL THEN NULL
        ELSE least(cmax, pmax) - INTERVAL 2 HOUR
      END AS w
      FROM (
        SELECT
          (SELECT make_timestamp((MAX(epoch_us(ts)) // 1000) * 1000)
           FROM events WHERE event_type = 'click') AS cmax,
          (SELECT make_timestamp((MAX(epoch_us(ts)) // 1000) * 1000)
           FROM events WHERE event_type = 'purchase') AS pmax
      )
    ),
    m AS (
      SELECT c.click_ts, p.purchase_ts, c.user_id
      FROM c JOIN p ON c.user_id = p.p_user
        AND p.purchase_ts >= c.click_ts
        AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
    ),
    wa AS (
      SELECT time_bucket(INTERVAL 1 HOUR, click_ts) AS window_start,
             CAST(COUNT(*) AS BIGINT) AS n_conversions,
             CAST(SUM(epoch_us(purchase_ts) - epoch_us(click_ts)) AS BIGINT)
               AS total_lag_us
      FROM m GROUP BY 1
    )
    SELECT window_start, n_conversions, total_lag_us
    FROM wa
    -- the chained-stateful emission bound: the join retains click rows
    -- until watermark > click_ts + 1h, so the downstream window
    -- finalizes only when watermark passes window_end + 1h, STRICTLY
    WHERE window_start + INTERVAL 1 HOUR + INTERVAL 1 HOUR < (SELECT w FROM wm)
    """,
)
def q_streaming_join_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful streaming (Spark 3.5+/4 multiple-stateful-operator
    support): stream-stream inner interval join feeding an append-mode
    tumbling-window aggregate — per-hour conversion counts and total
    click→purchase lag, the composition a real funnel pipeline runs. The
    subtle contract is the DOWNSTREAM watermark: the join holds click rows
    until the global watermark passes click_ts + 1h (its state retention,
    derived from the interval condition), so the window over click_ts
    finalizes only when watermark > window_end + 1h — strictly, at ms
    granularity, probed empirically at the exact bound and pinned in
    tests/test_streaming_outer_join.py. The oracle encodes precisely that:
    batch join → hourly bucket → filter window_end + 1h < the
    NULL-propagating min-policy watermark. Lag sums are integer µs —
    exact."""
    from ..session import ensure_utc

    ensure_utc(spark)
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema

    def side(event_type: str, id_alias: str, ts_alias: str, user_alias: str):
        src = stream_source(
            spark, sf_dir, schema, watermark=None, path_glob_filter="events.parquet"
        )
        src = with_ts_from_nanos(src, "ts")
        return (
            src.filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(id_alias),
                F.col("user_id").alias(user_alias),
                F.col("ts").alias(ts_alias),
            )
            .withWatermark(ts_alias, "2 hours")
        )

    clicks = side("click", "click_id", "click_ts", "user_id")
    purchases = side("purchase", "purchase_id", "purchase_ts", "p_user")
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    agg = (
        joined.groupBy(F.window("click_ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_conversions"),
            F.sum(
                F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
            ).cast("bigint").alias("total_lag_us"),
        )
        .select(F.col("w.start").alias("window_start"), "n_conversions", "total_lag_us")
    )
    sink_name = "streaming_join_window_agg_mem"
    with sized_state_partitions(spark, table_path(sf_dir, "events")):
        (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(sink_name)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.table(sink_name)


@query(
    "gap_fill_hourly",
    oracle="""
    WITH b AS (
      SELECT user_id, date_trunc('hour', ts) AS hour_ts,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS level_value
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT user_id,
             unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour_ts
      FROM (SELECT user_id, MIN(hour_ts) AS mn, MAX(hour_ts) AS mx
            FROM b GROUP BY 1)
    ),
    j AS (
      SELECT g.user_id, g.hour_ts, b.n_events, b.level_value
      FROM g LEFT JOIN b ON b.user_id = g.user_id AND b.hour_ts = g.hour_ts
    )
    SELECT user_id, hour_ts,
           n_events IS NOT NULL OR level_value IS NOT NULL AS observed,
           COALESCE(n_events, 0)::BIGINT AS n_events,
           last_value(level_value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY hour_ts
             ROWS UNBOUNDED PRECEDING) AS level_value
    FROM j
    """,
)
def q_gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill (operators/timeseries.gap_fill — the
    resample().ffill() twin): the per-user hourly series densified onto a
    regular grid; missing hours get n_events = 0 (additive) and the last
    observed hourly value carried forward (level), with `observed`
    marking synthesized rows. Grid = sequence() explode of per-key
    min/max; observations left-join on (key, hour); ffill =
    last(ignoreNulls) window — the join and the window share the user_id
    partitioning. Hourly sums go through exact decimals so the carried
    level is bit-deterministic."""
    from ..operators.timeseries import gap_fill

    (events,) = _t(spark, sf_dir, "events")
    hourly = events.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("level_value"),
    )
    return gap_fill(
        hourly,
        key="user_id",
        time_col="hour_ts",
        value_cols={"n_events": "zero", "level_value": "ffill"},
    )


@query(
    "ohlc_bars",
    oracle="""
    WITH r AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_start, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts ASC, event_id ASC) AS rn_a,
             ROW_NUMBER() OVER (
               PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT event_type, bucket_start,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM r GROUP BY 1, 2
    """,
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event_type (operators/timeseries.ohlc_bars) —
    the canonical time-series downsample: first/max/min/last value + row
    count per bucket. Open/close are min_by/max_by over the
    (ts, event_id) struct, so ties on the timestamp are broken by the
    unique event id and the whole bar table is engine-portable (values
    pass through untouched — no float accumulation). ONE
    map-side-combined groupBy shuffle whose volume is O(buckets), never
    O(rows) — min_by partials carry a single (ord, value) pair. The
    oracle replays first/last with ROW_NUMBER windows, which must agree
    with min_by/max_by exactly because the order tuple is total."""
    from ..operators.timeseries import ohlc_bars

    (events,) = _t(spark, sf_dir, "events")
    return ohlc_bars(
        events,
        ts_col="ts",
        value_col="value",
        group_cols=["event_type"],
        bucket="hour",
        seq_col="event_id",
    )


@query(
    "rollup_kpis",
    oracle="""
    SELECT event_type,
           CASE WHEN GROUPING(event_type) = 0 THEN date_trunc('hour', ts) END
             AS hour_ts,
           CAST(GROUPING(event_type) * 2 + GROUPING(date_trunc('hour', ts))
                AS BIGINT) AS grp,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY ROLLUP (event_type, date_trunc('hour', ts))
    """,
)
def q_rollup_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain aggregation in ONE pass: ROLLUP(event_type, hour)
    produces the (type, hour), (type), and grand-total grains together —
    at 100 TB this replaces three scans with one (Spark expands grouping
    sets map-side and the partial aggregates still combine before the
    shuffle). `grp` is the GROUPING_ID disambiguating real NULLs from
    subtotal rows — the contract consumers key on; value sums go through
    exact decimals. One subtlety the oracle mirrors: GROUPING() masks the
    rolled-up hour column with NULL at coarser grains on both engines."""
    (events,) = _t(spark, sf_dir, "events")
    hour = F.date_trunc("hour", "ts")
    return (
        events.rollup(F.col("event_type"), hour.alias("hour_ts"))
        .agg(
            F.grouping_id().cast("bigint").alias("grp"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double")
            .alias("total_value"),
        )
        .select("event_type", "hour_ts", "grp", "n_events", "total_value")
    )


@query(
    "pivot_kpis",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_ts,
           CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS click,
           CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS view,
           CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase
    FROM events
    GROUP BY 1
    """,
)
def q_pivot_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: hourly event counts spread into one column per event type —
    the wide KPI table dashboards read. The value list is EXPLICIT
    (pivot(col, values)): without it Spark runs an extra distinct scan to
    discover values and the output schema becomes data-dependent — both
    wrong at 100 TB. Pivot compiles to conditional aggregation (exactly
    the oracle's FILTER form), so the partials combine map-side like any
    groupBy."""
    (events,) = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.date_trunc("hour", "ts").alias("hour_ts"))
        .pivot("event_type", ["click", "view", "purchase"])
        .agg(F.count(F.lit(1)).cast("bigint"))
        .na.fill(0, ["click", "view", "purchase"])
    )


@query(
    "streaming_right_outer_join",
    oracle="""
    WITH c AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT event_id AS purchase_id, user_id AS p_user, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
      -- NULL-propagating min watermark (see streaming_outer_join)
      SELECT CASE
        WHEN cmax IS NULL OR pmax IS NULL THEN NULL
        ELSE least(cmax, pmax) - INTERVAL 2 HOUR
      END AS w
      FROM (
        SELECT
          (SELECT make_timestamp((MAX(epoch_us(ts)) // 1000) * 1000)
           FROM events WHERE event_type = 'click') AS cmax,
          (SELECT make_timestamp((MAX(epoch_us(ts)) // 1000) * 1000)
           FROM events WHERE event_type = 'purchase') AS pmax
      )
    ),
    matched AS (
      SELECT c.click_id, p.purchase_id, p.p_user AS join_user,
             c.click_ts, p.purchase_ts
      FROM c JOIN p ON c.user_id = p.p_user
        AND p.purchase_ts >= c.click_ts
        AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
    ),
    unmatched_p AS (
      SELECT CAST(NULL AS BIGINT) AS click_id, p.purchase_id,
             p.p_user AS join_user, CAST(NULL AS TIMESTAMP) AS click_ts,
             p.purchase_ts
      FROM p
      WHERE NOT EXISTS (
          SELECT 1 FROM c WHERE c.user_id = p.p_user
            AND p.purchase_ts >= c.click_ts
            AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR)
        AND p.purchase_ts < (SELECT w FROM wm)
    )
    SELECT * FROM matched UNION ALL SELECT * FROM unmatched_p
    """,
)
def q_streaming_right_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream RIGHT OUTER interval join — the last member of the
    §2.10 join family (inner / left / right / full). Only the purchase
    side null-extends, with the EARLY bound the full-outer query derives:
    a purchase's null row needs just watermark > purchase_ts (any future
    click has click_ts > watermark ≥ purchase_ts, violating click_ts ≤
    purchase_ts), strict at ms granularity under the NULL-propagating
    min-policy watermark — the purchase-side bounds probed and pinned in
    tests/test_streaming_outer_join.py."""
    from ..session import ensure_utc

    ensure_utc(spark)
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema

    def side(event_type: str, id_alias: str, ts_alias: str, user_alias: str):
        src = stream_source(
            spark, sf_dir, schema, watermark=None, path_glob_filter="events.parquet"
        )
        src = with_ts_from_nanos(src, "ts")
        return (
            src.filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(id_alias),
                F.col("user_id").alias(user_alias),
                F.col("ts").alias(ts_alias),
            )
            .withWatermark(ts_alias, "2 hours")
        )

    clicks = side("click", "click_id", "click_ts", "user_id")
    purchases = side("purchase", "purchase_id", "purchase_ts", "p_user")
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "right_outer",
    ).select(
        "click_id", "purchase_id",
        F.col("p_user").alias("join_user"),
        "click_ts", "purchase_ts",
    )
    sink_name = "streaming_right_outer_join_mem"
    with sized_state_partitions(spark, table_path(sf_dir, "events")):
        (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(sink_name)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.table(sink_name)


@query(
    "streaming_temporal_enrich",
    oracle="""
    WITH dim AS (
      SELECT c_custkey AS k, c_mktsegment AS seg,
             TIMESTAMP '1970-01-01 00:00:00' AS valid_from,
             TIMESTAMP '2024-01-15 00:00:00' AS valid_to
      FROM customer
      UNION ALL
      SELECT c_custkey, c_mktsegment || '_v2',
             TIMESTAMP '2024-01-15 00:00:00', NULL
      FROM customer
    )
    SELECT d.seg AS segment,
           date_trunc('hour', e.ts) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events e
    JOIN dim d ON e.user_id = d.k
      AND e.ts >= d.valid_from
      AND (d.valid_to IS NULL OR e.ts < d.valid_to)
    GROUP BY 1, 2
    """,
)
def q_streaming_temporal_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (SCD2 as-of) stream enrichment: each event resolves the
    dimension VERSION valid at its event time — the pattern that makes
    slowly-changing attributes correct in streaming pipelines, where a
    plain key join would retroactively re-label history with today's
    attributes. The versioned dimension is built deterministically from
    `customer` (version 1 until the mid-corpus pivot, a '_v2' segment
    after), and the stream joins it with the standard interval predicate
    (valid_from ≤ ts < valid_to, open version NULL-bounded). Stream-STATIC
    non-equi joins are stateless — the dimension snapshot broadcasts per
    micro-batch, no join state accumulates — so the only stateful operator
    is the windowed count (watermark-bounded). Complete-mode over the
    finite source equals the batch join: exact oracle."""
    from ..session import ensure_utc

    ensure_utc(spark)
    pivot = "2024-01-15 00:00:00"
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    src = stream_source(
        spark, sf_dir, schema, watermark=None, path_glob_filter="events.parquet"
    )
    src = with_ts_from_nanos(src, "ts").withWatermark("ts", "2 hours")
    cust = spark.read.parquet(table_path(sf_dir, "customer"))
    v1 = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit("1970-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(pivot).cast("timestamp").alias("valid_to"),
    )
    v2 = cust.select(
        F.col("c_custkey").alias("k"),
        F.concat(F.col("c_mktsegment"), F.lit("_v2")).alias("seg"),
        F.lit(pivot).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    dim = v1.unionByName(v2)
    enriched = src.join(
        F.broadcast(dim),
        (src.user_id == dim.k)
        & (src.ts >= dim.valid_from)
        & (dim.valid_to.isNull() | (src.ts < dim.valid_to)),
        "inner",
    )
    agg = (
        enriched.groupBy(
            F.col("seg").alias("segment"),
            F.window(F.col("ts"), "1 hour").alias("w"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select("segment", F.col("w.start").alias("window_start"), "n_events")
    )
    sink_name = "streaming_temporal_enrich_mem"
    with sized_state_partitions(spark, table_path(sf_dir, "events")):
        (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(sink_name)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.table(sink_name)


_CMS_D, _CMS_W = 4, 1024
_CMS_HASH_SQL = (
    "CAST(('0x' || substr(md5('cms:' || d || ':' || CAST(user_id AS VARCHAR)),"
    f" 1, 15))::UBIGINT % {_CMS_W} AS BIGINT)"
)


@query(
    "cms_point_queries",
    oracle=f"""
    WITH dd AS (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS d),
    keyed AS (SELECT e.user_id, dd.d, {_CMS_HASH_SQL} AS bucket
              FROM events e, dd),
    cms AS (
      SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM keyed GROUP BY d, bucket
    ),
    top AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
      FROM events GROUP BY user_id
      ORDER BY exact_n DESC, user_id ASC LIMIT 20
    ),
    probes AS (SELECT t.user_id, t.exact_n, dd.d, {_CMS_HASH_SQL.replace("e.user_id", "t.user_id").replace("user_id AS VARCHAR", "t.user_id AS VARCHAR")} AS bucket
               FROM top t, dd)
    SELECT p.user_id, p.exact_n,
           CAST(MIN(c.cnt) AS BIGINT) AS cms_est
    FROM probes p JOIN cms c ON c.d = p.d AND c.bucket = p.bucket
    GROUP BY p.user_id, p.exact_n
    """,
)
def q_cms_point_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode-Muthukrishnan) point queries — the
    frequency sketch for cardinalities where an exact per-key count table
    no longer fits: d=4 md5 hash rows × w=1024 buckets, estimate =
    min over rows of the bucket count (never underestimates). Unlike the
    HLL rollup (whose DataSketches binary DuckDB cannot reproduce), the
    CMS CONTENT is plain integer counts under the engine-portable md5
    hash, so the whole sketch AND its estimates carry an exact DuckDB
    value oracle. Build = one groupBy over a 4× explode (map-side
    combined, ≤ d·w groups); the 4096-row sketch broadcasts against the
    20 probe keys. Output (user_id, exact_n, cms_est) with
    cms_est ≥ exact_n by construction — the one-sided error bound a test
    also pins."""
    from ..operators.classify import _md5_int60

    (events,) = _t(spark, sf_dir, "events")
    ev = events.select("user_id")
    hashes = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (
                    _md5_int60(
                        F.concat(
                            F.lit(f"cms:{d}:"), F.col("user_id").cast("string")
                        )
                    )
                    % _CMS_W
                ).alias("bucket"),
            )
            for d in range(_CMS_D)
        ]
    )
    cms = (
        ev.select(F.explode(hashes).alias("h"))
        .select("h.d", "h.bucket")
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("user_id").asc())
        .limit(20)
    )
    probes = top.select(
        "user_id", "exact_n", F.explode(hashes).alias("h")
    ).select("user_id", "exact_n", "h.d", "h.bucket")
    return (
        probes.join(F.broadcast(cms), ["d", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").cast("bigint").alias("cms_est"))
    )


@query(
    "state_store_audit",
    oracle="""
    WITH wm AS (
      SELECT make_timestamp((MAX(epoch_us(ts)) // 1000) * 1000)
             - INTERVAL 2 HOUR AS w
      FROM events
    ),
    h AS (
      SELECT date_trunc('hour', ts) AS window_start,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    )
    SELECT h.window_start, h.n_events
    FROM h, wm
    WHERE h.window_start + INTERVAL 1 HOUR > wm.w
    """,
)
def q_state_store_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming STATE introspection (Spark 4 state-store data source):
    run the watermarked hourly aggregate to a checkpoint, then read the
    live aggregation state back as a DataFrame with
    `spark.read.format("statestore")` — the operational audit that lets
    you inspect (or debug, or migrate) checkpointed state without
    replaying the stream. The state after an availableNow run is exactly
    the append-mode emission COMPLEMENT: windows whose end > the final
    watermark (emission itself uses end ≤ w — probed at the exact bound:
    a window whose end equals the watermark is emitted and leaves state),
    so even the state contents carry an exact batch oracle. The temp
    checkpoint is left in place — the returned DataFrame reads it
    lazily."""
    import tempfile

    from ..session import ensure_utc

    ensure_utc(spark)
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    src = stream_source(
        spark, sf_dir, schema, watermark=None, path_glob_filter="events.parquet"
    )
    src = with_ts_from_nanos(src, "ts").withWatermark("ts", "2 hours")
    agg = src.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).alias("n")
    )
    ck = tempfile.mkdtemp(prefix="state_audit_ck_")
    sink_name = "state_store_audit_mem"
    with sized_state_partitions(spark, table_path(sf_dir, "events")):
        (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(sink_name)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return (
        spark.read.format("statestore")
        .load(ck)
        .select(
            F.col("key.window.start").alias("window_start"),
            F.col("value.count").cast("bigint").alias("n_events"),
        )
    )


@query(
    "set_ops",
    oracle="""
    WITH clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
    buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    viewers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view')
    SELECT user_id, 'click_and_buy' AS cohort FROM
      (SELECT user_id FROM clickers INTERSECT SELECT user_id FROM buyers)
    UNION ALL
    SELECT user_id, 'view_no_buy' AS cohort FROM
      (SELECT user_id FROM viewers EXCEPT SELECT user_id FROM buyers)
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operators — cohort algebra (users who both
    clicked and purchased; viewers who never purchased). Spark compiles
    INTERSECT to a left-semi and EXCEPT to a left-anti aggregate join, so
    both are one shuffle over the DISTINCT key sets, never the raw
    events."""
    (events,) = _t(spark, sf_dir, "events")

    def ids(et):
        return events.filter(F.col("event_type") == et).select("user_id").distinct()

    both = ids("click").intersect(ids("purchase")).withColumn(
        "cohort", F.lit("click_and_buy")
    )
    lost = ids("view").exceptAll(ids("purchase")).withColumn(
        "cohort", F.lit("view_no_buy")
    )
    return both.unionByName(lost)


@query(
    "unpivot_kpis",
    oracle="""
    WITH hours AS (SELECT DISTINCT date_trunc('hour', ts) AS hour_ts FROM events),
    types AS (SELECT unnest(['click', 'view', 'purchase']) AS event_type),
    counts AS (
      SELECT date_trunc('hour', ts) AS hour_ts, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events WHERE event_type IN ('click', 'view', 'purchase')
      GROUP BY 1, 2
    )
    SELECT h.hour_ts, t.event_type,
           COALESCE(c.n_events, 0)::BIGINT AS n_events
    FROM hours h CROSS JOIN types t
    LEFT JOIN counts c ON c.hour_ts = h.hour_ts AND c.event_type = t.event_type
    """,
)
def q_unpivot_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) — the inverse of pivot_kpis: the wide hourly KPI
    table melts back to long (hour, event_type, n) form, zero cells
    included (the round-trip contract: unpivot(pivot(x)) = x densified
    onto the full hour × type grid). `melt` is pure projection+explode —
    no shuffle beyond the pivot's own aggregate."""
    wide = q_pivot_kpis(spark, sf_dir)
    return wide.melt(
        ids=["hour_ts"],
        values=["click", "view", "purchase"],
        variableColumnName="event_type",
        valueColumnName="n_events",
    ).select("hour_ts", "event_type", F.col("n_events").cast("bigint"))


@query(
    "table_diff",
    oracle="""
    WITH old AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
                 FROM orders),
    new AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 103 = 0
    )
    SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey
                      AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                      AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
                  THEN 'changed'
           END AS change_type
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE CASE WHEN o.o_orderkey IS NULL THEN 'added'
               WHEN n.o_orderkey IS NULL THEN 'removed'
               WHEN NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey
                     AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                     AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
                 THEN 'changed'
          END IS NOT NULL
    """,
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (operators/relational.diff_tables) — "what changed
    between loads": a deterministic v2 of orders (every 97th key removed,
    every 101st repriced, every 103rd re-added under a new key) diffed
    against v1 via ONE co-partitioned full-outer join; output rows ∝
    change volume, never table volume, classified added/removed/changed
    with NULL-safe comparison. The ETL-QA primitive the reference's
    load-validation step implies but computes row-by-row in pandas."""
    from ..operators.relational import diff_tables

    (orders,) = _t(spark, sf_dir, "orders")
    old = orders.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    new = (
        old.filter(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 101 == 0, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            old.filter(F.col("o_orderkey") % 103 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + 10_000_000
            )
        )
    )
    return diff_tables(old, new, keys=["o_orderkey"])


@query(
    "table_checksum_audit",
    oracle="""
    WITH r AS (
      SELECT ('0x' || substr(md5(
               COALESCE(CAST(o_orderkey AS VARCHAR), chr(0) || 'null') || '|' ||
               COALESCE(CAST(o_custkey AS VARCHAR), chr(0) || 'null') || '|' ||
               COALESCE(o_orderstatus, chr(0) || 'null') || '|' ||
               COALESCE(o_orderpriority, chr(0) || 'null')
             ), 1, 15))::UBIGINT AS h
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(h) AS BIGINT) AS checksum,
           CAST(SUM(CAST(h AS HUGEINT)) % 1152921504606846976 AS BIGINT)
             AS checksum_sum
    FROM r
    """,
)
def q_table_checksum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprint
    (operators/relational.table_checksum): 60-bit md5 per row folded TWO
    ways — bit_xor (the classic digest) and wrapping SUM mod 2^60
    (decimal-exact partials; multiplicity-sensitive, so even-multiplicity
    dup-row drift that xor cancels still trips it — ADVICE r5). Both
    folds are commutative, so the digest is identical on any engine,
    partitioning, or row order. The migration/copy tripwire: compare
    source and target (n_rows, checksum, checksum_sum) instead of
    shipping rows back. Restricted here to integer/string columns —
    float columns must be explicitly formatted (e.g. exact decimal cast)
    before hashing, because double→string rendering is NOT
    engine-portable."""
    from ..operators.relational import table_checksum

    (orders,) = _t(spark, sf_dir, "orders")
    return table_checksum(
        orders,
        cols=["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    )


@query(
    "skew_report",
    oracle="""
    WITH counts AS (
      SELECT CAST(event_type AS VARCHAR) AS key,
             CAST(COUNT(*) AS BIGINT) AS key_rows
      FROM events WHERE event_type IS NOT NULL
      GROUP BY 1
    ),
    stats AS (
      SELECT CAST(SUM(key_rows) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys
      FROM counts
    ),
    top AS (
      SELECT key, key_rows,
             CAST(ROW_NUMBER() OVER (ORDER BY key_rows DESC, key ASC)
               AS BIGINT) AS rnk
      FROM counts QUALIFY rnk <= 5
    )
    SELECT key, key_rows,
           key_rows * 10000 // n_rows AS share_bp,
           n_rows, n_keys,
           n_rows // n_keys AS mean_rows,
           key_rows // (n_rows // n_keys) AS skew_factor,
           rnk
    FROM top, stats
    """,
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic (operators/skew.skew_report): the top-5
    heaviest events.event_type keys with exact-integer distribution stats —
    share in basis points, mean rows per key, and skew_factor (how many
    average keys the heavy one weighs), which is ALSO the natural salt
    count for operators/skew.salted_join. This is the measurement step a
    100 TB pipeline runs BEFORE committing to a join strategy: one
    map-side-combined groupBy(key) pass, a 1-row stats broadcast, top-k by
    sort+limit — cheap enough to run routinely, exact enough to carry a
    value oracle."""
    from ..operators.skew import skew_report

    (events,) = _t(spark, sf_dir, "events")
    return skew_report(events, "event_type", top_k=5)


@query(
    "incremental_mv_merge",
    oracle="""
    SELECT event_type, date_trunc('day', ts) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value,
           CAST(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
                / COUNT(*) AS DOUBLE) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_incremental_mv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the per-(type, day) KPI
    view is REFRESHED by merging yesterday's stored partial aggregates
    with only the NEW day's partials — never rescanning history. The
    algebra that makes it correct: store MERGEABLE partials (count, exact
    decimal sum), combine by key-wise addition, and derive non-mergeable
    measures (avg) only at read time. This query simulates the cycle —
    "stored" partials for days before the corpus's last day, an
    "increment" from just the last day, merged by a key-wise sum — and
    the oracle is the full-history aggregate, proving merge == recompute
    bit-for-bit (decimal partials keep even the derived double avg
    deterministic). At 100 TB the stored side is a parquet table keyed by
    day, the merge touches one day's partitions, and history is never
    re-read — the same never-rescan contract as the sketch rollup, for
    exact measures."""
    (events,) = _t(spark, sf_dir, "events")
    last_day = F.to_date(F.lit("2024-01-30"))
    day = F.date_trunc("day", "ts")

    def partials(df):
        return df.groupBy(
            F.col("event_type"), day.alias("day")
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)")).alias("__sum"),
        )

    stored = partials(events.filter(day < last_day))  # the existing MV
    increment = partials(events.filter(day >= last_day))  # the new load
    merged = (
        stored.unionByName(increment)
        .groupBy("event_type", "day")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("__sum").alias("__sum"),
        )
    )
    return merged.select(
        "event_type",
        "day",
        "n_events",
        F.col("__sum").cast("double").alias("total_value"),
        (F.col("__sum").cast("double") / F.col("n_events")).cast("double").alias(
            "avg_value"
        ),
    )


@query(
    "moving_range_frame",
    oracle="""
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_ts,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, hour_ts, n_events,
           CAST(SUM(n_events) OVER (
             PARTITION BY event_type ORDER BY hour_ts
             RANGE BETWEEN INTERVAL 3 HOUR PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS rolling_4h,
           CAST(COUNT(*) OVER (
             PARTITION BY event_type ORDER BY hour_ts
             RANGE BETWEEN INTERVAL 3 HOUR PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS frame_hours
    FROM h
    """,
)
def q_moving_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-RANGE window frames — the moving aggregate real dashboards
    need: per type, each hour's count plus the rolling 4-hour sum (RANGE
    BETWEEN 3 HOURS PRECEDING, which follows EVENT TIME, not row
    position — a ROWS frame silently miscounts whenever hours are
    missing, the bug this query exists to avoid; `frame_hours` exposes
    how many observed hours the frame actually held). Spark expresses
    the interval frame as rangeBetween over epoch seconds — identical
    frame semantics, integer sums, exact oracle. One shuffle for the
    hourly rollup; the window reuses its partitioning."""
    (events,) = _t(spark, sf_dir, "events")
    h = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_timestamp("hour_ts"))
        .rangeBetween(-3 * 3600, 0)
    )
    return h.select(
        "event_type",
        "hour_ts",
        "n_events",
        F.sum("n_events").over(w).cast("bigint").alias("rolling_4h"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("frame_hours"),
    )


@query(
    "first_touch_attribution",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    first_touch AS (
      SELECT user_id, event_type AS first_channel FROM ranked WHERE rn = 1
    ),
    conv AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purchases
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT f.first_channel,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(COALESCE(c.n_purchases, 0)) AS BIGINT)
             AS attributed_purchases
    FROM first_touch f LEFT JOIN conv c ON c.user_id = f.user_id
    GROUP BY f.first_channel
    """,
)
def q_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: every user's purchases credit the channel
    of their FIRST-ever event (deterministic tie-break on (ts, event_id));
    output per channel: users acquired and purchases attributed. The
    first-touch pick is a row_number window, not a groupBy-min-join — one
    user_id shuffle shared by the window and the conversion rollup."""
    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first_touch = (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("first_channel"))
    )
    conv = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_purchases"))
    )
    return (
        first_touch.join(conv, "user_id", "left")
        .groupBy("first_channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(F.coalesce("n_purchases", F.lit(0)))
            .cast("bigint")
            .alias("attributed_purchases"),
        )
    )


# --- skyline (Pareto frontier) ----------------------------------------------


@query(
    "skyline_frontier",
    oracle="""
    WITH g AS (
      SELECT p_retailprice,
             CAST(MAX(p_size) AS BIGINT) AS best_size,
             CAST(COUNT(*) AS BIGINT) AS n_at_price
      FROM part GROUP BY p_retailprice
    ),
    r AS (
      SELECT p_retailprice, best_size, n_at_price,
             MAX(best_size) OVER (ORDER BY p_retailprice
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS prev_best
      FROM g
    )
    SELECT p_retailprice, best_size, n_at_price,
           CAST(ROW_NUMBER() OVER (ORDER BY p_retailprice ASC) AS BIGINT)
             AS rnk
    FROM r
    WHERE prev_best IS NULL OR best_size > prev_best
    """,
)
def q_skyline_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-frontier query (Börzsönyi, Kossmann & Stocker,
    ICDE'01 — the classical OLAP operator): the parts no other part
    dominates on (cheaper price, larger size) — "best value at every
    price point", the multi-criteria shortlist behind every
    price/quality trade-off screen. The naive definition is an O(N²)
    NOT-EXISTS anti-join; for a 2-dimensional skyline the frontier is
    exactly the strictly-increasing envelope of max-size per price, so
    the whole operator collapses to one aggregation plus one
    running-max window — O(N) work after the group-by, and every value
    (prices pass through untouched, sizes/counts are integers) is exact
    on both engines.

    Plan (100 TB): one map-side-combinable groupBy(price) reduces the
    part table to price-point granularity (catalog cardinality, not row
    count) BEFORE the only ordered window; the global window therefore
    sorts thousands of price points, never the raw table — same
    aggregate-then-window discipline as heavy_hitters. Dominated points
    drop with a null-safe running-max comparison; rank is assigned on
    the surviving frontier only."""
    (part,) = _t(spark, sf_dir, "part")
    g = part.groupBy("p_retailprice").agg(
        F.max("p_size").cast("bigint").alias("best_size"),
        F.count(F.lit(1)).cast("bigint").alias("n_at_price"),
    )
    w = (
        Window.orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = g.withColumn("prev_best", F.max("best_size").over(w))
    frontier = r.filter(
        F.col("prev_best").isNull() | (F.col("best_size") > F.col("prev_best"))
    )
    rw = Window.orderBy(F.col("p_retailprice").asc())
    return frontier.withColumn(
        "rnk", F.row_number().over(rw).cast("bigint")
    ).select("p_retailprice", "best_size", "n_at_price", "rnk")


# --- CUSUM changepoint detection --------------------------------------------


@query(
    "cusum_changepoint",
    oracle="""
    WITH hb AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL
      GROUP BY event_type, h
    ),
    s AS (
      SELECT event_type, h, c,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h)
               AS BIGINT) AS t,
             CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY h)
               AS BIGINT) AS cum,
             CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS total,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_buckets
      FROM hb
    ),
    scored AS (
      SELECT event_type, h, t, n_buckets, total,
             abs(n_buckets * cum - t * total) AS s_abs
      FROM s
    )
    SELECT event_type, h AS cp_hour, t AS cp_index, s_abs, total, n_buckets
    FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY s_abs DESC, t ASC) = 1
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection (Page '54) per event type: the hour
    where the cumulative deviation of hourly event counts from the
    series mean peaks — the standard "when did the rate shift?" monitor
    a pipeline runs over ingest volumes to localize a scraper break or a
    traffic regime change. The textbook statistic S_t = Σ_{i≤t}(c_i − μ)
    is fractional (μ = total/n); multiplying through by n gives
    S_t·n = n·cum_t − t·total — EXACT bigint, so the argmax hour is
    bit-reproducible on both engines (ties broken by earliest index;
    overflow needs n·total < 2^63 ≈ safe to ~3e9 buckets × 3e9 events —
    ANSI fails loudly beyond, the pagerank/kcore knob policy).

    Plan (100 TB): raw events reduce to (type, hour) granularity in one
    map-side-combinable aggregation BEFORE any window; the cumulative /
    total / rank windows and the final argmax all run partitioned by
    event_type over bucket-granularity rows (hours-per-type cardinality,
    not event cardinality). No global sort, no Python, one shuffle to
    the bucket table plus the per-type window exchange."""
    events = with_ts_from_nanos(
        _t(spark, sf_dir, "events")[0], "ts"
    )
    hb = (
        events.filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    wo = Window.partitionBy("event_type").orderBy("h")
    wa = Window.partitionBy("event_type")
    s = (
        hb.withColumn("t", F.row_number().over(wo).cast("bigint"))
        .withColumn(
            "cum",
            F.sum("c").over(wo.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
        )
        .withColumn("total", F.sum("c").over(wa).cast("bigint"))
        .withColumn("n_buckets", F.count(F.lit(1)).over(wa).cast("bigint"))
    )
    scored = s.withColumn(
        "s_abs", F.abs(F.col("n_buckets") * F.col("cum") - F.col("t") * F.col("total"))
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.col("s_abs").desc(), F.col("t").asc()
    )
    return (
        scored.withColumn("pk", F.row_number().over(pick))
        .filter(F.col("pk") == 1)
        .select(
            "event_type",
            F.col("h").alias("cp_hour"),
            F.col("t").alias("cp_index"),
            "s_abs",
            "total",
            "n_buckets",
        )
    )


# --- seasonal-naive forecast evaluation -------------------------------------


@query(
    "seasonal_naive_skill",
    oracle="""
    WITH hb AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL
      GROUP BY event_type, h
    ),
    ev AS (
      SELECT cur.event_type, cur.c,
             s.c AS c_seasonal, p.c AS c_persist
      FROM hb cur
      JOIN hb s ON s.event_type = cur.event_type
               AND s.h = cur.h - INTERVAL 24 HOUR
      JOIN hb p ON p.event_type = cur.event_type
               AND p.h = cur.h - INTERVAL 1 HOUR
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(SUM(abs(c - c_seasonal)) AS BIGINT) AS sae_seasonal,
           CAST(SUM(abs(c - c_persist)) AS BIGINT) AS sae_persist,
           CAST(SUM(abs(c - c_seasonal)) AS DOUBLE)
             / CAST(NULLIF(SUM(abs(c - c_persist)), 0) AS DOUBLE) AS skill
    FROM ev GROUP BY event_type
    """,
)
def q_seasonal_naive_skill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline evaluation (the MASE denominator discipline,
    Hyndman & Koehler '06): per event type, compare the seasonal-naive
    forecast (same hour yesterday) against the persistence forecast
    (previous hour) on hourly event counts — skill < 1 means the series
    has real daily seasonality worth modeling; ≥ 1 means yesterday's
    hour is no better than the last hour, the first question a capacity/
    anomaly pipeline asks of a new metric. Evaluated only on buckets
    where BOTH references exist (fair comparison on the identical
    bucket set). Errors are |bigint − bigint| summed exactly; skill is
    ONE double division of two exact sums (NULL when the persistence
    error is zero) — bit-deterministic on both engines.

    Plan (100 TB): events reduce to (type, hour) granularity in one
    map-side-combinable aggregation; both lag references are
    co-partitioned equi-joins of the bucket table to itself on
    (type, shifted hour) — hash-joinable, no window over sparse series
    (lag-by-row would silently misalign across MISSING buckets; the
    interval-shifted join aligns by actual time, the gap_fill_hourly
    lesson); one final per-type aggregation."""
    events = with_ts_from_nanos(_t(spark, sf_dir, "events")[0], "ts")
    hb = (
        events.filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cur = hb.alias("cur")
    s = hb.alias("s")
    p = hb.alias("p")
    ev = (
        cur.join(
            s,
            (F.col("s.event_type") == F.col("cur.event_type"))
            & (
                F.col("s.h")
                == F.col("cur.h") - F.expr("INTERVAL 24 HOURS")
            ),
        )
        .join(
            p,
            (F.col("p.event_type") == F.col("cur.event_type"))
            & (F.col("p.h") == F.col("cur.h") - F.expr("INTERVAL 1 HOURS")),
        )
        .select(
            F.col("cur.event_type").alias("event_type"),
            F.col("cur.c").alias("c"),
            F.col("s.c").alias("c_seasonal"),
            F.col("p.c").alias("c_persist"),
        )
    )
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval"),
        F.sum(F.abs(F.col("c") - F.col("c_seasonal")))
        .cast("bigint")
        .alias("sae_seasonal"),
        F.sum(F.abs(F.col("c") - F.col("c_persist")))
        .cast("bigint")
        .alias("sae_persist"),
    )
    return agg.withColumn(
        "skill",
        F.col("sae_seasonal").cast("double")
        / F.nullif(F.col("sae_persist"), F.lit(0)).cast("double"),
    )


# --- per-series OLS trend (exact rational slope) ----------------------------


@query(
    "linear_trend",
    oracle="""
    WITH hb AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL
      GROUP BY event_type, h
    ),
    s AS (
      SELECT event_type, c,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h)
               AS BIGINT) AS t
      FROM hb
    ),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_buckets,
             CAST(SUM(t) AS BIGINT) AS sx,
             CAST(SUM(t * t) AS BIGINT) AS sxx,
             CAST(SUM(c) AS BIGINT) AS sy,
             CAST(SUM(t * c) AS BIGINT) AS sxy
      FROM s GROUP BY event_type
    )
    SELECT event_type, n_buckets,
           n_buckets * sxy - sx * sy AS slope_num,
           n_buckets * sxx - sx * sx AS slope_den,
           CASE WHEN n_buckets < 2 THEN NULL
                WHEN n_buckets * sxy - sx * sy >= 0
                THEN (n_buckets * sxy - sx * sy) * 1000
                       // (n_buckets * sxx - sx * sx)
                ELSE -((sx * sy - n_buckets * sxy) * 1000
                       // (n_buckets * sxx - sx * sx))
           END AS slope_milli,
           sy * 1000 // n_buckets AS mean_milli
    FROM m
    """,
)
def q_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series least-squares trend on hourly event counts: the OLS
    slope as an EXACT bigint rational — the drift detector ("is this
    metric growing, and how fast per hour?") that complements
    cusum_changepoint's "when did it shift?" with "where is it heading?".
    With x = 1..n the bucket index and y the hourly count, the closed
    form slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) is a ratio of two
    bigint moments, so the slope ships as (slope_num, slope_den) plus a
    milli-scaled quotient for human eyes. Floor division floors toward
    −∞ in DuckDB but truncates toward zero in Spark, so the quotient is
    computed on |num| and re-signed explicitly — both engines agree
    bit-for-bit on negative slopes too (the signed-floor-div portability
    rule from the memory of hits_scores/basket_lift). n < 2 yields NULL
    (slope undefined), never a divide-by-zero. Overflow: n·Σxy <
    n²·total needs n²·total < 2^63 — safe to ~1e5 buckets × 1e12 events/
    type; beyond that ANSI fails loudly (the documented pagerank/cusum
    knob policy).

    Plan (100 TB): raw events collapse to (type, hour) granularity in
    one map-side-combinable aggregation BEFORE anything else; the
    row_number window and the moment aggregation both run on bucket-
    granularity rows hash-partitioned by event_type — the window's
    exchange is reused by the final groupBy (same key), so event rows
    shuffle once and bucket rows once. No global sort, no Python, no
    doubles anywhere in the slope itself."""
    events = with_ts_from_nanos(_t(spark, sf_dir, "events")[0], "ts")
    hb = (
        events.filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    wo = Window.partitionBy("event_type").orderBy("h")
    s = hb.withColumn("t", F.row_number().over(wo).cast("bigint"))
    m = s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("t").cast("bigint").alias("sx"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("sxx"),
        F.sum("c").cast("bigint").alias("sy"),
        F.sum(F.col("t") * F.col("c")).cast("bigint").alias("sxy"),
    )
    num = F.col("n_buckets") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_buckets") * F.col("sxx") - F.col("sx") * F.col("sx")
    return m.select(
        "event_type",
        "n_buckets",
        num.alias("slope_num"),
        den.alias("slope_den"),
        F.when(F.col("n_buckets") < 2, F.lit(None).cast("bigint"))
        .when(num >= 0, F.expr(
            "(n_buckets * sxy - sx * sy) * 1000 "
            "div (n_buckets * sxx - sx * sx)"
        ))
        .otherwise(-F.expr(
            "(sx * sy - n_buckets * sxy) * 1000 "
            "div (n_buckets * sxx - sx * sx)"
        ))
        .alias("slope_milli"),
        F.expr("sy * 1000 div n_buckets").alias("mean_milli"),
    )


# --- k-anonymity generalization ladder --------------------------------------

_KA_K, _KA_BUCKET = 5, 200


@query(
    "k_anonymity",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             COALESCE(lang, '<null>') AS lang_c,
             COALESCE(source, '<null>') AS source_c,
             COALESCE(n_chars // {_KA_BUCKET}, -1) AS len_bucket
      FROM documents
    ),
    g0 AS (SELECT lang_c, source_c, len_bucket,
                  CAST(COUNT(*) AS BIGINT) AS n0
           FROM d GROUP BY 1, 2, 3),
    g1 AS (SELECT lang_c, source_c, CAST(COUNT(*) AS BIGINT) AS n1
           FROM d GROUP BY 1, 2),
    g2 AS (SELECT lang_c, CAST(COUNT(*) AS BIGINT) AS n2
           FROM d GROUP BY 1)
    SELECT d.doc_id, d.len_bucket, g0.n0,
           CAST(CASE WHEN g0.n0 >= {_KA_K} THEN 0
                     WHEN g1.n1 >= {_KA_K} THEN 1
                     WHEN g2.n2 >= {_KA_K} THEN 2
                     ELSE 3 END AS BIGINT) AS anon_level
    FROM d
    JOIN g0 USING (lang_c, source_c, len_bucket)
    JOIN g1 USING (lang_c, source_c)
    JOIN g2 USING (lang_c)
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit with a generalization ladder (Sweeney '02 /
    the Mondrian question): for every document, the MINIMAL
    generalization of its quasi-identifier tuple (lang, source,
    length-bucket) whose equivalence class reaches k=5 — level 0 = full
    QI is already safe, 1 = drop the length bucket, 2 = keep only lang,
    3 = suppress (even the lang class is under k). This is the
    re-identification-risk gate a corpus release runs before shipping
    per-document metadata; counts and levels are all integers, so the
    audit is bit-exact on both engines. NULL QI values are coalesced to
    sentinels FIRST so a null class is a real class, never conflated
    with a rollup subtotal row.

    Plan (100 TB): Spark computes the entire ladder in ONE
    map-side-combinable rollup(lang, source, bucket) pass over the
    corpus — grouping_id() splits the single aggregate into the three
    class-size dims (the oracle states the same ladder as three GROUP
    BYs; rollup is the one-shuffle physical form). Class tables live at
    catalog granularity (≤ |langs|·|sources|·|buckets| rows), so all
    three size lookups BROADCAST back onto the corpus — the document
    table itself never shuffles at all: one rollup exchange of
    pre-aggregated partials, three broadcast hash joins, zero
    wide-row movement."""
    (docs,) = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.coalesce(F.col("lang"), F.lit("<null>")).alias("lang_c"),
        F.coalesce(F.col("source"), F.lit("<null>")).alias("source_c"),
        F.coalesce(
            F.expr(f"n_chars div {_KA_BUCKET}"), F.lit(-1).cast("bigint")
        ).alias("len_bucket"),
    )
    # Pin the ladder: three dim tables branch off it, and without the pin
    # each broadcast build would re-run the corpus rollup (3 scans). The
    # ladder is catalog-granularity KBs, and CacheManager keys the entry by
    # logical plan, so repeated runs reuse one slot — no cache growth.
    ladder = (
        d.rollup("lang_c", "source_c", "len_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.grouping_id().alias("gid"),
        )
        .persist()
    )
    g0 = ladder.filter(F.col("gid") == 0).select(
        "lang_c", "source_c", "len_bucket", F.col("n").alias("n0")
    )
    g1 = ladder.filter(F.col("gid") == 1).select(
        "lang_c", "source_c", F.col("n").alias("n1")
    )
    g2 = ladder.filter(F.col("gid") == 3).select(
        "lang_c", F.col("n").alias("n2")
    )
    joined = (
        d.join(F.broadcast(g0), ["lang_c", "source_c", "len_bucket"])
        .join(F.broadcast(g1), ["lang_c", "source_c"])
        .join(F.broadcast(g2), ["lang_c"])
    )
    return joined.select(
        "doc_id",
        "len_bucket",
        "n0",
        F.when(F.col("n0") >= _KA_K, 0)
        .when(F.col("n1") >= _KA_K, 1)
        .when(F.col("n2") >= _KA_K, 2)
        .otherwise(3)
        .cast("bigint")
        .alias("anon_level"),
    )


# --- Bloom-filter prefiltered semi-join --------------------------------------

_BF_K = 3  # hash functions
_BF_BITS = 16384  # filter size in bits
_BF_WORDS = _BF_BITS // 32  # packed as 32-bit words in non-negative bigints


def _bf_pos_sql(j: int, key_sql: str) -> str:
    """DuckDB: bloom bit position j for a key expression (engine-portable
    md5-int60 hash, same contract as operators/classify._md5_int60)."""
    return (
        f"CAST(('0x' || substr(md5('bf:{j}:' || CAST({key_sql} AS VARCHAR)),"
        f" 1, 15))::UBIGINT % {_BF_BITS} AS BIGINT)"
    )


_BF_PROBE_OK_SQL = " AND ".join(
    f"(arr[CAST({_bf_pos_sql(j, 'l.l_orderkey')} // 32 AS INTEGER) + 1]"
    f" & (CAST(1 AS BIGINT) << CAST({_bf_pos_sql(j, 'l.l_orderkey')} % 32"
    " AS INTEGER))) != 0"
    for j in range(_BF_K)
)

_SQL_BLOOM_PREFILTER = f"""
    WITH keys AS (
      SELECT DISTINCT o_orderkey AS k FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ),
    hh AS (
      SELECT {' AS pos FROM keys UNION ALL SELECT '.join(
          _bf_pos_sql(j, 'k') for j in range(_BF_K))} AS pos FROM keys
    ),
    bits AS (
      SELECT CAST(pos // 32 AS BIGINT) AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS b
      FROM hh GROUP BY 1
    ),
    bm AS (
      SELECT list(coalesce(b.b, 0) ORDER BY w.word) AS arr
      FROM range({_BF_WORDS}) AS w(word) LEFT JOIN bits b ON b.word = w.word
    ),
    probe AS (
      SELECT ({_BF_PROBE_OK_SQL}) AS bloom_ok,
             (k.k IS NOT NULL) AS is_hit
      FROM lineitem l CROSS JOIN bm
      LEFT JOIN keys k ON k.k = l.l_orderkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probe,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM keys) AS n_keys,
           CAST(SUM(CASE WHEN bloom_ok THEN 1 ELSE 0 END) AS BIGINT)
             AS bloom_pass,
           CAST(SUM(CASE WHEN is_hit THEN 1 ELSE 0 END) AS BIGINT)
             AS exact_hits,
           CAST(SUM(CASE WHEN bloom_ok AND NOT is_hit THEN 1 ELSE 0 END)
             AS BIGINT) AS false_pos,
           CAST(SUM(CASE WHEN is_hit AND NOT bloom_ok THEN 1 ELSE 0 END)
             AS BIGINT) AS missed,
           CASE WHEN CAST(COUNT(*) AS BIGINT)
                     = CAST(SUM(CASE WHEN is_hit THEN 1 ELSE 0 END) AS BIGINT)
                THEN CAST(0 AS BIGINT)
                ELSE CAST(SUM(CASE WHEN bloom_ok AND NOT is_hit THEN 1 ELSE 0 END)
                  AS BIGINT) * 10000
                  // (CAST(COUNT(*) AS BIGINT)
                      - CAST(SUM(CASE WHEN is_hit THEN 1 ELSE 0 END) AS BIGINT))
           END AS fp_rate_bp
    FROM probe
"""


@query("bloom_prefilter_join", oracle=_SQL_BLOOM_PREFILTER)
def q_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter prefiltered semi-join — the third sketch family next
    to HLL (sketch_rollup) and CMS (cms_point_queries), and THE canonical
    100 TB semi-join pattern: instead of shuffling the fact table to probe
    a filtered dimension, pack the dimension keys into a 16384-bit
    Bloom filter (k=3 engine-portable md5 hashes, 32-bit words in
    non-negative bigints so shifts never touch the sign bit), broadcast
    the KB-size bitmap as ONE row, and reject non-members map-side before
    any join runs. This is what Spark's own runtime row-group filtering
    does internally; here the filter content itself is under an exact
    DuckDB oracle because every bit position is deterministic integer
    arithmetic.

    Output is the audit row that verifies the construction end-to-end:
    bloom_pass >= exact_hits always, missed == 0 ALWAYS (Bloom filters
    have no false negatives — the test pins it), and fp_rate_bp is the
    observed false-positive rate in basis points (floor division on
    non-negative bigints, exact on both engines; ~740 bp expected at
    n=2978 keys / m=16384 / k=3 from (1-e^(-kn/m))^k).

    Plan (100 TB): build side is one groupBy(word) over a k-exploded key
    scan (<= 512 groups, map-side combined), densified against a
    range frame and collapsed to a single array row; probe side never
    shuffles — the bitmap and the verification key set both arrive by
    broadcast, and the final stats are one partial-aggregated count row.
    In production the exact-verify join only receives bloom_pass rows
    (~7% here), which is the entire point of the pattern. Implementation:
    operators/sketches.bloom_semijoin_stats (shared with the scale
    study)."""
    from ..operators.sketches import bloom_semijoin_stats
    from ..operators.skew import fan_out

    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    keys = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    # the probe side's k md5 hashes + bitmap test run above this exchange
    # (single-file scan = 1 partition at bench SF; no-op at real scale,
    # where the probe scan is already wide and fan_out does nothing)
    return bloom_semijoin_stats(
        fan_out(lineitem), "l_orderkey", keys,
        key_col="k", n_bits=_BF_BITS, k_hashes=_BF_K,
    )


_SQL_BLOOM_SEMIJOIN = """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    WHERE l_orderkey IN (
      SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
"""


@query("bloom_semijoin", oracle=_SQL_BLOOM_SEMIJOIN)
def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION shape of the Bloom prefilter (the audit-shaped
    bloom_prefilter_join verifies the construction; THIS is the operator a
    user calls): return the lineitem rows whose l_orderkey belongs to an
    urgent order, with the broadcast-bitmap membership test running
    map-side BEFORE the exact-verify left-semi join so only bloom_pass
    rows (~7% of the probe at these parameters) ever reach the join.

    Exact oracle: a plain `WHERE key IN (subquery)` semi-join — Bloom
    filters have no false negatives and the verify join removes the false
    positives, so the output is row-for-row identical to the unfiltered
    semi-join (also pinned in tests/test_scale_ops.py against a live
    left-semi join).

    Plan (100 TB): the probe side NEVER shuffles — the KB bitmap arrives
    as a one-row broadcast, rejection happens inside the probe scan's
    codegen stage, and the verify join is a broadcast semi-join over the
    surviving rows. Implementation: operators/sketches.bloom_semijoin
    (registered per VERDICT r5 next-round #2)."""
    from ..operators.sketches import bloom_semijoin
    from ..operators.skew import fan_out

    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    keys = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    # probe-side hashing runs above this exchange (1-partition scan at
    # bench SF; no-op at real scale)
    probe = fan_out(
        lineitem.select("l_orderkey", "l_linenumber", "l_extendedprice")
    )
    return bloom_semijoin(
        probe, "l_orderkey", keys, key_col="k", n_bits=_BF_BITS, k_hashes=_BF_K
    )


# --- robust (MAD) outlier detection ------------------------------------------

_MAD_K = 4.4478  # 3 sigma-equivalents: 3 x 1.4826 (normal-consistency factor)

_SQL_ROBUST_OUTLIERS = f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, quantile_cont(abs(e.value - med.med), 0.5) AS mad
      FROM events e JOIN med USING (event_type) GROUP BY e.event_type
    )
    SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n,
           any_value(med.med) AS med, any_value(mad.mad) AS mad,
           CAST(SUM(CASE WHEN abs(e.value - med.med) > {_MAD_K} * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(SUM(CASE WHEN abs(e.value - med.med) > {_MAD_K} * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) * 10000
             // CAST(COUNT(*) AS BIGINT) AS outlier_bp
    FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
    GROUP BY e.event_type
"""


@query("robust_outliers", oracle=_SQL_ROBUST_OUTLIERS)
def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection: median/MAD instead of mean/std
    (Hampel's rule, |x − med| > 3·1.4826·MAD), the estimator that survives
    the very outliers it hunts — mean/std-based z-scores (zscore_normalize)
    are dragged by heavy tails until real anomalies fall under the gate,
    which makes MAD the right quality screen for value-like telemetry
    before it poisons KPI aggregates. ~5.5% of events flag at sf0.01
    (symmetric-ish uniform values), all counts exact bigints.

    Determinism: Spark `percentile` and DuckDB `quantile_cont` share the
    (1−h)·lo + h·hi interpolation (the verified exact_quantiles
    contract), and the deviation test is elementwise double arithmetic
    with identical literals on both engines — no accumulation order
    anywhere, so even the double med/mad columns hash-match.

    Plan (100 TB): two per-group exact medians (each one groupBy(type)
    sort bounded by the largest group) + one counting pass, with the
    5-row med/mad tables broadcast back onto the stream — the canonical
    two-pass robust-statistics shape. At 100 TB you'd swap the exact
    medians for approx_percentile and keep the identical downstream plan;
    the exact version IS the gate check."""
    (events,) = _t(spark, sf_dir, "events")
    ev = events.select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    j1 = ev.join(F.broadcast(med), "event_type")
    mad = (
        j1.select("event_type", F.abs(F.col("value") - F.col("med")).alias("d"))
        .groupBy("event_type")
        .agg(F.expr("percentile(d, 0.5)").alias("mad"))
    )
    flagged = j1.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "med",
        "mad",
        (
            F.abs(F.col("value") - F.col("med")) > F.lit(_MAD_K) * F.col("mad")
        ).alias("is_out"),
    )
    return (
        flagged.groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("is_out"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            "med",
            "mad",
            "n_outliers",
            F.expr("n_outliers * 10000 div n").alias("outlier_bp"),
        )
    )


# --- KMV theta sketch: distinct set operations --------------------------------

_KMV_K = 256
_KMV_DOM = 1 << 40  # 40-bit md5 hash domain (bigint-safe estimator math)

# key = user-day ("did the same user-day that clicked also purchase"):
# ~1,600 distinct per type at sf0.01 — above k, so the estimator path
# (kp = k) actually exercises, with partial (~0.2-0.3 Jaccard) overlaps.
_KMV_KEY_SQL = (
    "CAST(user_id AS VARCHAR) || ':' || CAST(CAST(ts AS DATE) AS VARCHAR)"
)
_KMV_HASH_SQL = (
    f"CAST(('0x' || substr(md5('kmv:' || ({_KMV_KEY_SQL})), 1, 10))"
    "::UBIGINT AS BIGINT)"
)

_SQL_KMV_SET_OPS = f"""
    WITH src AS (
      SELECT * FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
    ),
    hashed AS (
      SELECT DISTINCT event_type AS g, {_KMV_HASH_SQL} AS h FROM src
    ),
    ranked AS (
      SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
      FROM hashed
    ),
    kmv AS (SELECT g, h FROM ranked WHERE rn <= {_KMV_K}),
    gs AS (SELECT DISTINCT g FROM kmv),
    pairs AS (SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b ON a.g < b.g),
    uh AS (
      SELECT p.ga, p.gb, s.h,
             MAX(CASE WHEN s.g = p.ga THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN s.g = p.gb THEN 1 ELSE 0 END) AS in_b
      FROM pairs p JOIN kmv s ON s.g = p.ga OR s.g = p.gb
      GROUP BY 1, 2, 3
    ),
    r2 AS (
      SELECT ga, gb, h, in_a, in_b,
             row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
      FROM uh
    ),
    kk AS (
      SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS kp, MAX(h) AS hk,
             CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
      FROM r2 WHERE rn <= {_KMV_K} GROUP BY ga, gb
    ),
    du AS (
      SELECT DISTINCT event_type AS g, {_KMV_KEY_SQL} AS key FROM src
    ),
    eu AS (
      SELECT p.ga, p.gb, d.key,
             MAX(CASE WHEN d.g = p.ga THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN d.g = p.gb THEN 1 ELSE 0 END) AS in_b
      FROM pairs p JOIN du d ON d.g = p.ga OR d.g = p.gb
      GROUP BY 1, 2, 3
    ),
    ex AS (
      SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS exact_union,
             CAST(SUM(in_a * in_b) AS BIGINT) AS exact_intersect
      FROM eu GROUP BY ga, gb
    )
    SELECT kk.ga AS type_a, kk.gb AS type_b, kk.kp,
      CASE WHEN kk.kp < {_KMV_K} THEN kk.kp
           ELSE ({_KMV_K} - 1) * CAST({_KMV_DOM} AS BIGINT) // kk.hk
      END AS union_est,
      CASE WHEN kk.kp < {_KMV_K} THEN kk.n_both
           ELSE kk.n_both
                * (({_KMV_K} - 1) * CAST({_KMV_DOM} AS BIGINT) // kk.hk)
                // kk.kp
      END AS intersect_est,
      kk.n_both * 1000000 // kk.kp AS jaccard_ppm,
      ex.exact_union, ex.exact_intersect
    FROM kk JOIN ex ON kk.ga = ex.ga AND kk.gb = ex.gb
    ORDER BY type_a, type_b
"""


@query("kmv_set_ops", oracle=_SQL_KMV_SET_OPS)
def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / theta) sketch set operations — the fifth
    sketch family, and the one that buys INTERSECTION: per event_type,
    keep the k=256 smallest 40-bit md5 hashes of the distinct user set
    (a persistable ≤256-bigint sketch per group, built once); then every
    pairwise audience-overlap question — union size, intersection size,
    Jaccard — is answered from the STORED sketches by exact bigint set
    algebra (Bar-Yossef et al. 2002; Beyer et al. 2007), never rescanning
    the raw events. HLL (sketch_rollup) can only union; KMV is what you
    reach for when the question is "how many signup users also purchase".

    Output: (type_a, type_b, kp, union_est, intersect_est, jaccard_ppm,
    exact_union, exact_intersect) — the exact columns are the AUDIT half
    (the bloom_prefilter_join pattern: estimates and ground truth side by
    side under one oracle); production drops them and touches only the
    KB-sized sketch table. Every estimate is deterministic integer
    arithmetic over the portable md5 hash, so the whole thing carries an
    exact DuckDB value oracle: union_est = (k-1)·2^40 div h_k,
    intersect_est = n_both·union_est div kp, jaccard_ppm = n_both·10^6
    div kp — exact (not estimated) whenever the merged sketch holds the
    full key set (kp < k).

    Plan (100 TB): sketch build = one distinct shuffle on (type, hash) +
    a per-group bottom-k over DISTINCT hashes (at scale, pre-filter with
    an adaptive hash threshold so the sort sees ~k rows/group); set ops
    run on the G-row group list crossed to G·(G-1)/2 pairs — a bounded
    group-granularity frame (the corpus_divergence sanction) fed by two
    equi broadcast joins of the ≤k·G exploded sketch rows. The exact-audit
    pass is the only part that touches raw data, and only at distinct
    (type, user) granularity. Implementation:
    operators/sketches.kmv_sketch_table + kmv_pair_ops."""
    from ..operators.sketches import kmv_pair_ops, kmv_sketch_table

    (events,) = _t(spark, sf_dir, "events")
    # NULL keys hash to NULL, and Spark windows sort NULLS FIRST while
    # DuckDB defaults to NULLS LAST — filter them out explicitly in BOTH
    # plan and oracle (matching the PPR CTE's pattern).
    keyed = events.filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    ).select(
        "event_type",
        F.concat(
            F.col("user_id").cast("string"),
            F.lit(":"),
            F.to_date("ts").cast("string"),
        ).alias("key"),
    )
    sk = kmv_sketch_table(keyed, "key", "event_type", k=_KMV_K)
    est = kmv_pair_ops(sk, k=_KMV_K)

    # exact audit: distinct (type, user-day) granularity, pairs broadcast
    du = keyed.select(F.col("event_type").alias("g"), "key").distinct()
    gs = sk.select("g")
    pairs = gs.alias("a").join(
        gs.alias("b"), F.col("a.g") < F.col("b.g")
    ).select(F.col("a.g").alias("ga"), F.col("b.g").alias("gb"))
    ea = du.withColumnRenamed("g", "ga").join(F.broadcast(pairs), "ga").select(
        "ga", "gb", "key", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    )
    eb = du.withColumnRenamed("g", "gb").join(F.broadcast(pairs), "gb").select(
        "ga", "gb", "key", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
    )
    ex = (
        ea.unionByName(eb)
        .groupBy("ga", "gb", "key")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
        .groupBy("ga", "gb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("exact_union"),
            F.sum(F.col("in_a") * F.col("in_b"))
            .cast("bigint")
            .alias("exact_intersect"),
        )
        .withColumnRenamed("ga", "type_a")
        .withColumnRenamed("gb", "type_b")
    )
    return est.join(ex, ["type_a", "type_b"]).orderBy("type_a", "type_b")


# --- CMS inner product: join-size estimation ----------------------------------

# Inner products need a wider sketch than point queries: the additive
# error is ~|A|·|B|/w (every colliding key pair contributes a cross term),
# so w=16384 holds the overestimate near 10% at any scale where
# |A|·|B|/exact stays put — still a 4x16384-count (512 KB) sketch.
_JSE_D, _JSE_W = 4, 16384

_JSE_HASH = (
    "CAST(('0x' || substr(md5('cms:' || d || ':' || CAST({key} AS VARCHAR)),"
    f" 1, 15))::UBIGINT % {_JSE_W} AS BIGINT)"
)

def _jse_cms(df: DataFrame, key: str) -> DataFrame:
    """The join-size-estimation CMS build (d×w bucket counts over `key`),
    shared by join_size_estimate and auto_join_strategy."""
    from ..operators.classify import _md5_int60

    hashes = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (
                    _md5_int60(
                        F.concat(F.lit(f"cms:{d}:"), F.col(key).cast("string"))
                    )
                    % _JSE_W
                ).alias("bucket"),
            )
            for d in range(_JSE_D)
        ]
    )
    return (
        df.select(F.explode(hashes).alias("h"))
        .select("h.d", "h.bucket")
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


_SQL_JOIN_SIZE_ESTIMATE = f"""
    WITH dd AS (SELECT unnest(generate_series(0, {_JSE_D - 1})) AS d),
    ca AS (
      SELECT d, {_JSE_HASH.format(key="user_id")} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events, dd GROUP BY 1, 2
    ),
    cb AS (
      SELECT d, {_JSE_HASH.format(key="o_custkey")} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders, dd GROUP BY 1, 2
    ),
    ip AS (
      SELECT ca.d, CAST(SUM(ca.cnt * cb.cnt) AS BIGINT) AS est
      FROM ca JOIN cb ON ca.d = cb.d AND ca.bucket = cb.bucket
      GROUP BY ca.d
    ),
    ex AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS exact_n
      FROM events e JOIN orders o ON e.user_id = o.o_custkey
    )
    SELECT ex.exact_n, CAST(MIN(ip.est) AS BIGINT) AS est_n,
           CASE WHEN ex.exact_n = 0 THEN CAST(NULL AS BIGINT)
                ELSE (CAST(MIN(ip.est) AS BIGINT) - ex.exact_n) * 1000000
                     // ex.exact_n
           END AS over_ppm
    FROM ip, ex GROUP BY ex.exact_n
"""


@query("join_size_estimate", oracle=_SQL_JOIN_SIZE_ESTIMATE)
def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from count-min sketches (the
    AMS/Alon-Matias-Szegedy inner-product estimator, Cormode &
    Muthukrishnan §4.2): |A ⋈ B| on a key equals Σ_k cntA(k)·cntB(k), and
    the CMS estimate is min over hash rows d of Σ_b cmsA[d][b]·cmsB[d][b]
    — one-sided (never underestimates, colliding keys only ADD cross
    terms) and computable from two KB-sized sketches without ever running
    or shuffling the join. This is the planner-side question ("how big
    would events ⋈ orders on user key be?") answered at sketch cost —
    what a cost-based optimizer or a pre-flight pipeline guard runs
    before committing cluster time to a 100 TB join.

    Output is ONE audit row (exact_n, est_n, over_ppm): est_n >= exact_n
    ALWAYS (a test pins the one-sided bound), over_ppm = the observed
    overestimate in parts-per-million, floor-divided on non-negative
    bigints. Both sketch builds and the estimate are deterministic integer
    arithmetic over the portable md5 hash — exact DuckDB value oracle,
    same discipline as cms_point_queries.

    Plan (100 TB): each sketch is one groupBy(d, bucket) over a d-exploded
    scan (≤ d·w = 4096 groups, map-side combined); the two 4096-row
    sketches broadcast-join on (d, bucket) and fold to d partial products,
    then one global min. The exact column is the audit half (run here
    because the testdata is small; production drops it — that is the
    point). Per-key counts fit bigint while |A|·|B| < 2^63; beyond that,
    widen the product sum to decimal(38,0) — same plan shape."""
    (events, orders) = _t(spark, sf_dir, "events", "orders")

    ca = _jse_cms(events, "user_id")
    cb = _jse_cms(orders, "o_custkey").withColumnRenamed("cnt", "cnt_b")
    est = (
        ca.join(F.broadcast(cb), ["d", "bucket"])
        .groupBy("d")
        .agg(F.sum(F.col("cnt") * F.col("cnt_b")).cast("bigint").alias("est"))
        .agg(F.min("est").cast("bigint").alias("est_n"))
    )
    exact = (
        events.join(orders, events.user_id == orders.o_custkey)
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
    )
    return (
        exact.join(F.broadcast(est))
        .select(
            "exact_n",
            "est_n",
            # NULL (not an ANSI fault) when the exact join is empty —
            # disjoint key spaces are a legitimate pre-flight answer
            F.expr(
                "if(exact_n = 0, cast(null as bigint),"
                " (est_n - exact_n) * 1000000 div exact_n)"
            ).alias("over_ppm"),
        )
    )


# --- advisor→action #2: sketch-driven join-strategy selection ------------------

# Broadcast when the build side is under this many rows (the row-count
# stand-in for spark.sql.autoBroadcastJoinThreshold's byte cap); warn when
# the estimated join output exceeds this multiple of its inputs (fan-out
# blow-up a pre-flight should flag before committing cluster time).
_AJS_BROADCAST_ROWS = 100_000
_AJS_BLOWUP_FACTOR = 3
_AJS_KMV_K = 256
_AJS_KMV_DOM = 1 << 40

_SQL_AUTO_JOIN_STRATEGY = f"""
    WITH dd AS (SELECT unnest(generate_series(0, {_JSE_D - 1})) AS d),
    ca AS (
      SELECT d, {_JSE_HASH.format(key="user_id")} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events, dd GROUP BY 1, 2
    ),
    cb AS (
      SELECT d, {_JSE_HASH.format(key="o_custkey")} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders, dd GROUP BY 1, 2
    ),
    ip AS (
      SELECT ca.d, CAST(SUM(ca.cnt * cb.cnt) AS BIGINT) AS est
      FROM ca JOIN cb ON ca.d = cb.d AND ca.bucket = cb.bucket
      GROUP BY ca.d
    ),
    est AS (SELECT CAST(MIN(est) AS BIGINT) AS est_join_n FROM ip),
    ra AS (SELECT CAST(SUM(cnt) AS BIGINT) AS big_rows FROM ca WHERE d = 0),
    rb AS (SELECT CAST(SUM(cnt) AS BIGINT) AS small_rows FROM cb WHERE d = 0),
    kh AS (
      SELECT DISTINCT
        CAST(('0x' || substr(md5('kmv:' || CAST(o_custkey AS VARCHAR)), 1, 10))
          ::UBIGINT AS BIGINT) AS h
      FROM orders WHERE o_custkey IS NOT NULL
    ),
    krk AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM kh),
    kk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS kp, MAX(h) AS hk
      FROM krk WHERE rn <= {_AJS_KMV_K}
    ),
    dec AS (
      SELECT est.est_join_n, ra.big_rows, rb.small_rows,
             CASE WHEN kk.kp < {_AJS_KMV_K} THEN kk.kp
                  ELSE ({_AJS_KMV_K} - 1) * CAST({_AJS_KMV_DOM} AS BIGINT)
                       // kk.hk
             END AS small_distinct_est,
             CASE WHEN rb.small_rows <= {_AJS_BROADCAST_ROWS}
                  THEN 'broadcast' ELSE 'shuffle' END AS decision,
             CASE WHEN est.est_join_n
                       > {_AJS_BLOWUP_FACTOR} * (ra.big_rows + rb.small_rows)
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
             END AS blowup_warn
      FROM est, ra, rb, kk
    )
    SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(dec.est_join_n) AS est_join_n,
           MIN(dec.big_rows) AS big_rows,
           MIN(dec.small_rows) AS small_rows,
           MIN(dec.small_distinct_est) AS small_distinct_est,
           MIN(dec.decision) AS decision,
           MIN(dec.blowup_warn) AS blowup_warn
    FROM events e JOIN orders o ON e.user_id = o.o_custkey, dec
    GROUP BY e.event_type ORDER BY e.event_type
"""


@query("auto_join_strategy", oracle=_SQL_AUTO_JOIN_STRATEGY)
def q_auto_join_strategy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Advisor→action #2 (VERDICT r6 next-round #5; auto_salted_join_agg
    is #1): the CMS join-size estimate and the KMV small-side distinct
    estimate CHOOSE the physical join strategy before the join runs — the
    planner pre-flight join_size_estimate's docstring advertises, wired
    to an actual decision instead of a report.

    Pre-flight (sketch cost only, raw join never executed to decide):
      * est_join_n — the AMS inner-product estimate of |A ⋈ B| from two
        d×w CMS tables (one-sided: never underestimates);
      * big_rows / small_rows — exact input cardinalities read from row
        d=0 of each sketch (a CMS row partitions the input: its counts
        sum to N — no extra scan);
      * small_distinct_est — the KMV bottom-k estimate of the build
        side's key cardinality (what a broadcast hash table would hold);
      * decision — 'broadcast' when small_rows ≤ {_AJS_BROADCAST_ROWS}
        (the row-count stand-in for autoBroadcastJoinThreshold), else
        'shuffle'; blowup_warn = 1 when est_join_n exceeds
        {_AJS_BLOWUP_FACTOR}× the summed inputs (fan-out blow-up — the
        join a pre-flight guard escalates instead of launching).
    The join then EXECUTES under the chosen strategy (broadcast hint vs
    plain shuffle join) — result rows are identical either way (the hint
    is physical-only), which the oracle's plain join asserts; every
    decision column is exact-oracled from the same sketch arithmetic.
    The decision read is one bounded collect of a 1-row frame (the same
    driver-aggregate sanction as auto_salted_join_agg's advisor read).

    Plan (100 TB): two linear sketch scans (map-side combined to ≤ d·w
    groups), KB-sized sketch joins, ONE 1-row decision collect, then the
    join you were going to run anyway — under the strategy the data (not
    a hardcoded hint) picked."""
    (events, orders) = _t(spark, sf_dir, "events", "orders")
    from ..operators.sketches import kmv_hash40

    ca = _jse_cms(events, "user_id")
    cb = _jse_cms(orders, "o_custkey").withColumnRenamed("cnt", "cnt_b")
    est = (
        ca.join(F.broadcast(cb), ["d", "bucket"])
        .groupBy("d")
        .agg(F.sum(F.col("cnt") * F.col("cnt_b")).cast("bigint").alias("est"))
        .agg(F.min("est").cast("bigint").alias("est_join_n"))
    )
    ra = ca.filter(F.col("d") == 0).agg(
        F.sum("cnt").cast("bigint").alias("big_rows")
    )
    rb = cb.filter(F.col("d") == 0).agg(
        F.sum("cnt_b").cast("bigint").alias("small_rows")
    )
    kh = (
        orders.filter(F.col("o_custkey").isNotNull())
        .select(kmv_hash40(F.col("o_custkey")).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(_AJS_KMV_K)
    )
    kk = kh.agg(
        F.count(F.lit(1)).cast("bigint").alias("kp"),
        F.max("h").alias("hk"),
    )
    dec_df = (
        est.join(F.broadcast(ra))
        .join(F.broadcast(rb))
        .join(F.broadcast(kk))
        .select(
            "est_join_n",
            "big_rows",
            "small_rows",
            F.when(F.col("kp") < _AJS_KMV_K, F.col("kp"))
            .otherwise(
                F.expr(f"({_AJS_KMV_K} - 1) * cast({_AJS_KMV_DOM} as bigint) div hk")
            )
            .cast("bigint")
            .alias("small_distinct_est"),
            F.when(
                F.col("small_rows") <= _AJS_BROADCAST_ROWS, F.lit("broadcast")
            )
            .otherwise(F.lit("shuffle"))
            .alias("decision"),
            F.when(
                F.col("est_join_n")
                > _AJS_BLOWUP_FACTOR * (F.col("big_rows") + F.col("small_rows")),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("blowup_warn"),
        )
    )
    dec = dec_df.collect()[0]  # bounded: ONE row of sketch-derived scalars

    right = orders.select("o_custkey")
    if dec["decision"] == "broadcast":
        joined = events.join(
            F.broadcast(right), events.user_id == right.o_custkey
        )
    else:
        joined = events.join(right, events.user_id == right.o_custkey)
    return (
        joined.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .select(
            "event_type",
            "n_rows",
            F.lit(dec["est_join_n"]).cast("bigint").alias("est_join_n"),
            F.lit(dec["big_rows"]).cast("bigint").alias("big_rows"),
            F.lit(dec["small_rows"]).cast("bigint").alias("small_rows"),
            F.lit(dec["small_distinct_est"])
            .cast("bigint")
            .alias("small_distinct_est"),
            F.lit(dec["decision"]).alias("decision"),
            F.lit(dec["blowup_warn"]).cast("bigint").alias("blowup_warn"),
        )
        .orderBy("event_type")
    )


# --- differentially-private-mechanism group release ---------------------------

_DP_SEED = 7
_DP_SCALE = 65536  # the fixed-point log2 scale (operators/classify.log2_fp_sql)
# two-sided geometric with p = 2^(-1/2): eps = ln(1/p) = ln(2)/2 ~ 0.347
# per unit of L1 sensitivity; magnitude = floor(2*log2(2^60/(u+1))) via the
# integer log2, so P(mag >= t) ~ 2^(-t/2).
_DP_HALF = _DP_SCALE // 2


def _dp_sql(dialect: str) -> str:
    from ..operators.classify import log2_fp_sql

    if dialect == "duck":
        # 40-bit uniform: log2_fp_sql is exact-integer only while
        # x*scale < 2^63 (x < ~1.4e14), so the 60-bit hash would overflow
        u = (
            f"CAST(('0x' || substr(md5('dp:{_DP_SEED}:' || event_type), 1, 10))"
            "::UBIGINT AS BIGINT)"
        )
        s = (
            f"CAST(('0x' || substr(md5('dpsign:{_DP_SEED}:' || event_type), 1, 15))"
            "::UBIGINT AS BIGINT) % 2"
        )
        lg = log2_fp_sql("u + 1", dialect="duck")
        return f"""
        WITH cnt AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_exact,
                 {u} AS u, {s} AS sgn
          FROM events GROUP BY event_type
        ),
        noised AS (
          SELECT event_type, n_exact,
                 (2 * sgn - 1)
                   * ((40 * {_DP_SCALE} - {lg}) // {_DP_HALF}) AS noise
          FROM cnt
        )
        SELECT event_type, n_exact, noise,
               CASE WHEN n_exact + noise < 0 THEN 0
                    ELSE n_exact + noise END AS released
        FROM noised ORDER BY event_type
        """
    raise ValueError(dialect)


@query("dp_group_release", oracle=_dp_sql("duck"))
def q_dp_group_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private-mechanism count release — the third member
    of the privacy family (pii_scrub anonymizes content, k_anonymity
    generalizes quasi-identifiers, THIS perturbs released aggregates):
    per-group counts plus two-sided geometric noise (the discrete Laplace
    mechanism of Ghosh-Roughgarden-Sundararajan), with p = 2^(-1/2), i.e.
    eps = ln(2)/2 per unit of L1 sensitivity. The geometric magnitude is
    drawn by inverse-CDF over the integer log2 primitive:
    mag = floor((40*S - log2_fp(u+1)) / (S/2)) for a 40-bit md5 uniform u,
    so P(mag >= t) ~ 2^(-t/2) — no float RNG anywhere, every value exact
    bigint arithmetic both engines replay bit-for-bit.

    Determinism disclosure: the uniform is hashed from (seed, group), so
    releases are REPRODUCIBLE — which is exactly how production systems
    pin one noise draw per (release, cell) so repeated queries can't
    average the noise away; the privacy guarantee then rests on the seed
    staying secret (swap the literal seed for a secret salt). Output
    (event_type, n_exact, noise, released) keeps the exact column as the
    audit half — a real release drops it.

    Plan (100 TB): one partial-aggregated count shuffle on the group key;
    the noise is a per-row codegen expression over the finished aggregate
    — zero extra shuffles, zero extra scans, any group cardinality."""
    from ..operators.classify import _md5_int60, log2_fp_sql

    (events,) = _t(spark, sf_dir, "events")
    cnt = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    lg = log2_fp_sql("u + 1", dialect="spark")
    return (
        cnt.select(
            "event_type",
            "n_exact",
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"dp:{_DP_SEED}:"), F.col("event_type"))),
                    1,
                    10,
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("u"),
            (
                _md5_int60(
                    F.concat(F.lit(f"dpsign:{_DP_SEED}:"), F.col("event_type"))
                )
                % 2
            ).alias("sgn"),
        )
        .select(
            "event_type",
            "n_exact",
            F.expr(
                f"(2 * sgn - 1) * ((40 * {_DP_SCALE} - {lg}) div {_DP_HALF})"
            )
            .cast("bigint")
            .alias("noise"),
        )
        .select(
            "event_type",
            "n_exact",
            "noise",
            F.greatest(F.lit(0).cast("bigint"), F.col("n_exact") + F.col("noise"))
            .alias("released"),
        )
        .orderBy("event_type")
    )


# --- small-file compaction -----------------------------------------------------

_COMPACT_TARGET = 2048
_COMPACT_SCATTER = 64

_SQL_COMPACTION_REPORT = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST({_COMPACT_SCATTER} AS BIGINT) AS n_files_in,
           (CAST(COUNT(*) AS BIGINT) + {_COMPACT_TARGET - 1})
             // {_COMPACT_TARGET} AS n_files_out,
           CAST({_COMPACT_TARGET} AS BIGINT) AS target_rows_per_file
    FROM events
"""


@query("compaction_report", oracle=_SQL_COMPACTION_REPORT)
def q_compaction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction end-to-end, with the REAL filesystem in the
    loop: scatter the events table into 64 deliberately-tiny parquet
    files (what a streaming sink or over-parallel writer leaves behind),
    run sources/writers.compact_parquet_dir to rewrite them into
    ceil(n/2048) evenly-sized files, and report what the filesystem then
    actually holds — (n_rows, n_files_in, n_files_out,
    target_rows_per_file), every number read back from the directory
    listing and the rewritten data, not from the plan.

    The exact oracle works because compaction is deterministic in count
    space: round-robin repartition(p) with p = ceil(n/target) leaves no
    empty partition, so files_out == ceil(n/target) and the scatter's 64
    partitions are all non-empty at any sf here. Table maintenance is a
    first-class operator at 100 TB — unattended streaming ingest
    fragments a table in hours, and scan cost is per-file before it is
    per-byte.

    Plan: one count, one round-robin shuffle sized by the answer, one
    write; the report row itself is driver-built from FS metadata (an
    O(#files) listing, same discipline as archive_files)."""
    import tempfile

    from ..sources.writers import compact_parquet_dir

    (events,) = _t(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="compaction_")
    scatter = f"{base}/scattered"
    compacted = f"{base}/compacted"
    events.repartition(_COMPACT_SCATTER).write.mode("overwrite").parquet(scatter)
    rep = compact_parquet_dir(
        spark, scatter, compacted, target_rows_per_file=_COMPACT_TARGET
    )
    return spark.createDataFrame(
        [
            (
                rep["n_rows"],
                rep["n_files_in"],
                rep["n_files_out"],
                rep["target_rows_per_file"],
            )
        ],
        "n_rows bigint, n_files_in bigint, n_files_out bigint, "
        "target_rows_per_file bigint",
    )


# --- schema-evolution union scan ----------------------------------------------

_SQL_SCHEMA_EVOLUTION = """
    WITH v1 AS (
      SELECT event_id, user_id, event_type,
             CAST(NULL AS DOUBLE) AS value, 'v1' AS src_version
      FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-15'
    ),
    v2 AS (
      SELECT event_id, user_id, event_type, value, 'v2' AS src_version
      FROM events WHERE CAST(ts AS DATE) > DATE '2024-01-15'
    ),
    u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT src_version, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(value) AS BIGINT) AS n_value,
           CAST(COUNT(user_id) AS BIGINT) AS n_user
    FROM u GROUP BY src_version, event_type
    ORDER BY src_version, event_type
"""


@query("schema_evolution_scan", oracle=_SQL_SCHEMA_EVOLUTION)
def q_schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union scan with REAL files in the loop: write the
    events table as two parquet generations the way a producer upgrade
    does — v1 (first half-month) with the original 3-column schema, v2
    (rest) ADDING `value` and RENAMING user_id → uid — then read both
    back through sources/readers.evolved_union_scan, which maps the
    rename, null-fills the added column for v1 rows, and unions strictly
    BY NAME with version lineage. The report aggregates per (version,
    type): n_value counts the added column's non-nulls (0 for every v1
    row — the null-fill contract), n_user counts the renamed column
    (all rows — the rename mapped, not forked).

    This is the capability Spark's own mergeSchema cannot express: a
    rename under mergeSchema forks into two half-null columns; here the
    per-version mapping keeps one. Plan: one pruned scan per generation +
    a plan-level union (no shuffle) + one aggregate."""
    import tempfile

    from ..sources.readers import evolved_union_scan

    (events,) = _t(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="schema_evo_")
    cut = F.to_date("ts") <= F.lit("2024-01-15").cast("date")
    events.filter(cut).select("event_id", "user_id", "event_type").write.mode(
        "overwrite"
    ).parquet(f"{base}/v1")
    events.filter(~cut).select(
        "event_id", F.col("user_id").alias("uid"), "event_type", "value"
    ).write.mode("overwrite").parquet(f"{base}/v2")

    u = evolved_union_scan(
        spark,
        [("v1", f"{base}/v1"), ("v2", f"{base}/v2")],
        renames={"v2": {"uid": "user_id"}},
    )
    return (
        u.groupBy("src_version", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count("value").cast("bigint").alias("n_value"),
            F.count("user_id").cast("bigint").alias("n_user"),
        )
        .orderBy("src_version", "event_type")
    )


# --- streaming KMV sketch maintenance ------------------------------------------

_SKMV_K = 64

_SQL_STREAMING_KMV = f"""
    WITH hashed AS (
      SELECT DISTINCT event_type AS g,
        CAST(('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 10))
          ::UBIGINT AS BIGINT) AS h
      FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    ranked AS (
      SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
      FROM hashed
    )
    SELECT g, h FROM ranked WHERE rn <= {_SKMV_K} ORDER BY g, h
"""


@query("streaming_kmv_maintain", oracle=_SQL_STREAMING_KMV)
def q_streaming_kmv_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING distinct-sketch maintenance: the events file streamed
    into a foreachBatch sink (streaming.pipeline.foreach_batch_kmv_maintain)
    that folds each epoch's KMV sketch into the parquet-stored sketch
    table via kmv_merge, seeded from an EMPTY table — the consumer a
    sketch-serving layer actually runs (sketch the delta, merge, swap;
    history never rescanned). Mergeability is what makes this
    oracle-exact: bottom-k of bottom-k unions == bottom-k of the union,
    so the stored sketch after ANY epoch partitioning is bit-identical to
    a batch build over all rows — this query therefore carries the BATCH
    build's ranked-hash oracle verbatim (k=64 < the 150 distinct users,
    so truncation is actually exercised). Returns the stored sketch
    re-exploded to (g, h) rows."""
    import tempfile

    from ..session import ensure_utc
    from ..streaming.pipeline import foreach_batch_kmv_maintain

    ensure_utc(spark)
    target = tempfile.mkdtemp(prefix="stream_kmv_") + "/sketch"
    spark.createDataFrame(
        [], "g string, hs array<bigint>, n_kept bigint"
    ).write.parquet(target)

    schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    src = stream_source(
        spark, sf_dir, schema, watermark=None, path_glob_filter="events.parquet"
    )
    sink = foreach_batch_kmv_maintain(
        target, key_col="user_id", group_col="event_type", k=_SKMV_K
    )
    (
        src.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_kmv_"))
        .start()
        .awaitTermination()
    )
    return (
        spark.read.parquet(target)
        .select("g", F.explode("hs").alias("h"))
        .orderBy("g", "h")
    )


# --- persisted + merged count-min sketch ---------------------------------------

from .registry import REGISTRY as _REG  # noqa: E402


@query("cms_merge_rollup", oracle=_REG["cms_point_queries"].oracle)
def q_cms_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-min family's persist-and-merge path (what HLL's
    sketch_rollup does for distinct counts, now for FREQUENCIES, and —
    because CMS cell contents are plain bigint counts — with an EQUALITY
    where HLL only has estimate-stability): build per-DAY sketch tables
    (operators/sketches.cms_sketch_table, grain=['day']), write them to
    parquet, then serve the all-time top-key frequency estimates by
    MERGING the stored daily sketches (cms_merge — literal cell-count
    addition) and probing them (cms_point_estimate). Count-min merge is
    addition, so the merged sketch is bit-identical to a direct build
    over all rows — which is why this query carries cms_point_queries'
    exact oracle VERBATIM: the store → merge → serve round trip must not
    move a single estimate. Raw events feed only the daily builds; the
    all-time rollup touches nothing but the ≤ days·d·w stored rows (a
    delete-the-raw-data test pins it, same as the HLL and KMV
    families)."""
    import tempfile

    from ..operators.sketches import (
        cms_merge,
        cms_point_estimate,
        cms_sketch_table,
    )

    (events,) = _t(spark, sf_dir, "events")
    ev = events.select("user_id", F.to_date("ts").alias("day"))
    path = tempfile.mkdtemp(prefix="cms_daily_") + "/sketches"
    cms_sketch_table(
        ev, "user_id", d=_CMS_D, w=_CMS_W, grain_cols=["day"]
    ).write.parquet(path)

    merged = cms_merge(spark.read.parquet(path), grain_cols=["day"])
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("user_id").asc())
        .limit(20)
    )
    return cms_point_estimate(
        merged, top, "user_id", d=_CMS_D, w=_CMS_W
    ).join(top, "user_id").select("user_id", "exact_n", "cms_est")


# --- Misra-Gries mergeable frequent-items summary ------------------------------

_MG_K = 20

_SQL_MG_HEAVY_HITTERS = f"""
    WITH cnt AS (
      SELECT CAST(ts AS DATE) AS day, user_id AS key,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT day, key, cnt,
             row_number() OVER (PARTITION BY day
                                ORDER BY cnt DESC, key ASC) AS rn
      FROM cnt
    ),
    t AS (
      SELECT day, key, cnt,
             COALESCE(MAX(CASE WHEN rn = {_MG_K + 1} THEN cnt END)
                        OVER (PARTITION BY day), 0) AS t
      FROM r
    ),
    summ AS (SELECT day, key, cnt - t AS counter FROM t WHERE cnt > t),
    m AS (SELECT key, CAST(SUM(counter) AS BIGINT) AS cnt FROM summ GROUP BY key),
    r2 AS (
      SELECT key, cnt, row_number() OVER (ORDER BY cnt DESC, key ASC) AS rn
      FROM m
    ),
    t2 AS (
      SELECT key, cnt,
             COALESCE(MAX(CASE WHEN rn = {_MG_K + 1} THEN cnt END) OVER (), 0)
               AS t
      FROM r2
    ),
    mg AS (SELECT key, cnt - t AS counter FROM t2 WHERE cnt > t),
    ex AS (
      SELECT user_id AS key, CAST(COUNT(*) AS BIGINT) AS exact_n
      FROM events GROUP BY 1
    )
    SELECT mg.key, CAST(mg.counter AS BIGINT) AS mg_est, ex.exact_n
    FROM mg JOIN ex USING (key)
    ORDER BY mg_est DESC, key ASC
"""


@query("mg_heavy_hitters", oracle=_SQL_MG_HEAVY_HITTERS)
def q_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries mergeable frequent-items summary (the sixth sketch
    family — DataSketches' "Frequent Items"): per-DAY ≤k-row summaries in
    the order-independent OFFSET form (count − (k+1)-th-largest; a pure
    function of the multiset, which is what lets an MG summary carry an
    exact oracle — the classic streaming formulation is arrival-order
    dependent), k-way merged across days by counter addition + one
    re-truncation (Agarwal et al., Mergeable Summaries). Output
    (key, mg_est, exact_n): mg_est ≤ exact_n ALWAYS (offsets only
    subtract), any key with frequency > n/(k+1) is GUARANTEED to survive
    (vacuous on this near-uniform testdata — stated honestly; the planted
    -skew test is where the guarantee bites), and the total undercount is
    bounded by the summed offsets. Exact audit column joined per
    bloom/kmv convention.

    Plan (100 TB): per-day summaries are one groupBy(day, key) +
    a window over the per-day KEY frame (≤ distinct keys, never rows);
    the merge touches ≤ k·days stored rows. The summary table persists
    like the HLL/CMS/KMV families (raw-deletion test).
    Implementation: operators/sketches.mg_summary + mg_merge."""
    from ..operators.sketches import mg_merge, mg_summary

    (events,) = _t(spark, sf_dir, "events")
    ev = events.select("user_id", F.to_date("ts").alias("day"))
    daily = mg_summary(ev, "user_id", k=_MG_K, grain_cols=["day"])
    merged = mg_merge(daily, k=_MG_K, grain_cols=["day"])
    exact = ev.groupBy(F.col("user_id").alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_n")
    )
    return (
        merged.withColumnRenamed("counter", "mg_est")
        .join(exact, "key")
        .select("key", F.col("mg_est").cast("bigint"), "exact_n")
        .orderBy(F.col("mg_est").desc(), F.col("key").asc())
    )


# --- exact weighted median ------------------------------------------------------

_SQL_WEIGHTED_MEDIAN = """
    WITH w AS (
      SELECT event_type, value,
             CAST(event_id % 5 + 1 AS BIGINT) AS wt
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    g AS (
      SELECT event_type, value, CAST(SUM(wt) AS BIGINT) AS wt
      FROM w GROUP BY event_type, value
    ),
    c AS (
      SELECT event_type, value, wt,
             CAST(SUM(wt) OVER (PARTITION BY event_type ORDER BY value
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(SUM(wt) OVER (PARTITION BY event_type) AS BIGINT) AS total
      FROM g
    )
    SELECT event_type,
           CAST(MIN(CASE WHEN cum * 2 >= total THEN value END) AS DOUBLE)
             AS w_median,
           CAST(MIN(total) AS BIGINT) AS total_weight
    FROM c GROUP BY event_type ORDER BY event_type
"""


@query("weighted_median", oracle=_SQL_WEIGHTED_MEDIAN)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median per group — the lower weighted median
    (smallest value whose cumulative weight reaches half the total,
    2·cum ≥ total in pure bigint — no percentile interpolation, so the
    pick is engine-exact even on double values): the estimator for
    value-weighted latencies, token-weighted document stats, or any
    place observations carry multiplicity. exact_quantiles covers the
    unweighted case; Spark has no weighted percentile builtin at all.
    Weights here are the deterministic event_id%5+1 so the oracle
    replays them; swap any non-negative bigint weight column in.

    Plan (100 TB): rows collapse to (group, value) granularity FIRST
    (one map-side-combinable sum of weights), so the ordered cumulative
    window runs over distinct values per group, never rows — the
    aggregate-then-window discipline the time-series families measure at
    lin 0.2; the pick is one conditional min over the same frame."""
    (events,) = _t(spark, sf_dir, "events")
    # NULL values would sort FIRST in Spark's ASC cumulative window but
    # LAST in DuckDB — filter them in both plan and oracle (the PPR
    # pattern); a NULL observation has no place in a median anyway.
    w = events.filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    ).select(
        "event_type",
        "value",
        (F.col("event_id") % 5 + 1).cast("bigint").alias("wt"),
    )
    g = w.groupBy("event_type", "value").agg(
        F.sum("wt").cast("bigint").alias("wt")
    )
    cw = Window.partitionBy("event_type").orderBy(F.col("value").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tw = Window.partitionBy("event_type")
    c = g.select(
        "event_type",
        "value",
        F.sum("wt").over(cw).cast("bigint").alias("cum"),
        F.sum("wt").over(tw).cast("bigint").alias("total"),
    )
    return (
        c.groupBy("event_type")
        .agg(
            F.min(F.when(F.col("cum") * 2 >= F.col("total"), F.col("value")))
            .cast("double")
            .alias("w_median"),
            F.min("total").cast("bigint").alias("total_weight"),
        )
        .orderBy("event_type")
    )


# --- interval coalescing (gaps and islands) -------------------------------------

_SQL_INTERVAL_COALESCE = """
    WITH iv AS (
      SELECT user_id, ts AS s,
             ts + INTERVAL 1 MINUTE * CAST(floor(value) AS BIGINT) AS e
      FROM events
    ),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s ASC, e ASC
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) IS NULL
                    OR s > MAX(e) OVER (PARTITION BY user_id
                                        ORDER BY s ASC, e ASC
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS ni
      FROM iv
    ),
    isl AS (
      SELECT user_id, s, e,
             SUM(ni) OVER (PARTITION BY user_id ORDER BY s ASC, e ASC
                           ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    )
    SELECT user_id, MIN(s) AS island_start, MAX(e) AS island_end,
           CAST(COUNT(*) AS BIGINT) AS n_merged
    FROM isl GROUP BY user_id, island
    ORDER BY user_id, island_start
"""


@query("interval_coalesce", oracle=_SQL_INTERVAL_COALESCE)
def q_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval coalescing: each event opens a
    floor(value)-minute activity window; overlapping or touching windows
    per user merge into maximal disjoint islands (the downtime-window /
    coverage-range primitive SQL folklore solves with the running-max-end
    island counter — operators/timeseries.interval_coalesce). Start/end
    logic is pure comparison (no float arithmetic), so the island
    boundaries and counts are engine-exact. ONE ordered window pass per
    user (running max end and the island counter share the frame) + one
    island aggregate; per-key ordering bounded by that user's events,
    hot keys split by AQE."""
    from ..operators.timeseries import interval_coalesce

    (events,) = _t(spark, sf_dir, "events")
    iv = events.select(
        "user_id",
        F.col("ts").alias("s"),
        (
            F.col("ts")
            + F.expr("make_interval(0, 0, 0, 0, 0, cast(floor(value) as int), 0)")
        ).alias("e"),
    )
    return interval_coalesce(iv, ["user_id"], "s", "e").orderBy(
        "user_id", "island_start"
    )


# --- streaming Misra-Gries maintenance ------------------------------------------

_SQL_STREAMING_MG = f"""
    WITH cnt AS (
      SELECT user_id AS key, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ),
    r AS (
      SELECT key, cnt, row_number() OVER (ORDER BY cnt DESC, key ASC) AS rn
      FROM cnt
    ),
    t AS (
      SELECT key, cnt,
             COALESCE(MAX(CASE WHEN rn = {_MG_K + 1} THEN cnt END) OVER (), 0)
               AS t
      FROM r
    )
    SELECT key, CAST(cnt - t AS BIGINT) AS counter
    FROM t WHERE cnt > t ORDER BY counter DESC, key ASC
"""


@query("streaming_mg_maintain", oracle=_SQL_STREAMING_MG)
def q_streaming_mg_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING frequent-items maintenance: the events file streamed
    into a foreachBatch sink (streaming.pipeline.foreach_batch_mg_maintain)
    that summarizes each epoch and mg_merges it into the parquet-stored
    summary, seeded empty — the heavy-hitter monitor a telemetry pipeline
    actually runs. A single-epoch availableNow run is bit-equal to the
    batch mg_summary over all rows (merging into an empty table
    re-truncates a truncated summary — a no-op), so this carries the
    batch offset-form oracle; multi-epoch runs produce a VALID summary
    with the summed-offset bound, pinned in tests — the honest contrast
    with KMV, whose merge is exactly lossless under any epoching."""
    import tempfile

    from ..session import ensure_utc
    from ..streaming.pipeline import foreach_batch_mg_maintain

    ensure_utc(spark)
    target = tempfile.mkdtemp(prefix="stream_mg_") + "/summary"
    spark.createDataFrame([], "key bigint, counter bigint").write.parquet(target)

    schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    src = stream_source(
        spark, sf_dir, schema, watermark=None, path_glob_filter="events.parquet"
    )
    sink = foreach_batch_mg_maintain(target, key_col="user_id", k=_MG_K)
    (
        src.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_mg_"))
        .start()
        .awaitTermination()
    )
    return spark.read.parquet(target).orderBy(
        F.col("counter").desc(), F.col("key").asc()
    )


# --- DP-mechanism sum release ----------------------------------------------------

_DP_CLAMP = 100  # per-row contribution bound C (the L1 sensitivity of the sum)


def _dp_sum_sql() -> str:
    from ..operators.classify import log2_fp_sql

    u = (
        f"CAST(('0x' || substr(md5('dpsum:{_DP_SEED}:' || event_type), 1, 10))"
        "::UBIGINT AS BIGINT)"
    )
    s = (
        f"CAST(('0x' || substr(md5('dpsumsign:{_DP_SEED}:' || event_type), 1, 15))"
        "::UBIGINT AS BIGINT) % 2"
    )
    lg = log2_fp_sql("u + 1", dialect="duck")
    return f"""
    WITH agg AS (
      SELECT event_type,
             CAST(SUM(LEAST(GREATEST(CAST(floor(value) AS BIGINT), 0),
                            {_DP_CLAMP})) AS BIGINT) AS sum_exact,
             {u} AS u, {s} AS sgn
      FROM events GROUP BY event_type
    ),
    noised AS (
      SELECT event_type, sum_exact,
             (2 * sgn - 1) * ((40 * {_DP_SCALE} - {lg}) // {_DP_HALF})
               * {_DP_CLAMP} AS noise
      FROM agg
    )
    SELECT event_type, sum_exact, noise,
           CASE WHEN sum_exact + noise < 0 THEN 0
                ELSE sum_exact + noise END AS released
    FROM noised ORDER BY event_type
    """


@query("dp_sum_release", oracle=_dp_sum_sql())
def q_dp_sum_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP-mechanism SUM release — dp_group_release's partner for the
    other aggregate that matters: per-row contributions are CLAMPED to
    [0, C] first (C=100; unbounded contributions have unbounded
    sensitivity — the clamp IS the privacy precondition, not an
    implementation detail), the true sum of clamped values is computed
    exactly, and the two-sided geometric noise is scaled by the
    sensitivity C (noise = C · DLap draw, the textbook
    scale-noise-to-sensitivity rule). Same fixed-point inverse-CDF draw,
    same seeded-per-cell reproducibility disclosure, same exact-bigint
    oracle as the count mechanism. Output (event_type, sum_exact, noise,
    released) — the exact column is the audit half.

    Plan (100 TB): one partial-aggregated sum shuffle; clamp and noise
    are codegen expressions — zero extra shuffles."""
    from ..operators.classify import _md5_int60, log2_fp_sql

    (events,) = _t(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(
        F.sum(
            F.least(
                F.greatest(F.floor("value").cast("bigint"), F.lit(0)),
                F.lit(_DP_CLAMP),
            )
        )
        .cast("bigint")
        .alias("sum_exact")
    )
    lg = log2_fp_sql("u + 1", dialect="spark")
    return (
        agg.select(
            "event_type",
            "sum_exact",
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"dpsum:{_DP_SEED}:"), F.col("event_type"))),
                    1,
                    10,
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("u"),
            (
                _md5_int60(
                    F.concat(F.lit(f"dpsumsign:{_DP_SEED}:"), F.col("event_type"))
                )
                % 2
            ).alias("sgn"),
        )
        .select(
            "event_type",
            "sum_exact",
            F.expr(
                f"(2 * sgn - 1) * ((40 * {_DP_SCALE} - {lg}) div {_DP_HALF})"
                f" * {_DP_CLAMP}"
            )
            .cast("bigint")
            .alias("noise"),
        )
        .select(
            "event_type",
            "sum_exact",
            "noise",
            F.greatest(
                F.lit(0).cast("bigint"), F.col("sum_exact") + F.col("noise")
            ).alias("released"),
        )
        .orderBy("event_type")
    )


# --- advisor-driven salted join ---------------------------------------------------

@query(
    "auto_salted_join_agg",
    oracle="""
    WITH dim AS (
      SELECT event_type AS et, COUNT(DISTINCT user_id) AS du
      FROM events GROUP BY 1
    )
    SELECT e.event_type, COUNT(*) AS n_rows,
           CAST(MAX(d.du) AS BIGINT) AS distinct_users
    FROM events e JOIN dim d ON e.event_type = d.et
    GROUP BY e.event_type
    """,
)
def q_auto_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The advisor→action composition: skew_report measures the join
    key's hottest-key skew_factor (key_rows div mean_rows — also, by
    construction, the number of average-key shards the hot key needs),
    the salt count is derived from it (clamped to [2, 64]), and
    salted_join runs with THAT count — the loop a production job
    actually wires instead of hard-coding salt=8. Result rows are
    identical to the plain join for ANY salt (salting is
    semantics-preserving on inner joins), which the plain-SQL oracle
    asserts; the advisor read is a bounded top-1 collect (the 1-row
    driver-aggregate sanction). On this uniform 5-key data the advisor
    measures skew_factor 1 → salt 2; on a hot-key corpus the same code
    scatters wider — the point is the derivation, not the number."""
    from ..operators.skew import salted_join, skew_report

    (events,) = _t(spark, sf_dir, "events")
    top = skew_report(
        events.select("event_type", "user_id"), "event_type", top_k=1
    ).collect()[0]
    n_salts = max(2, min(64, int(top["skew_factor"]) + 1))
    dim = (
        events.groupBy(F.col("event_type").alias("et"))
        .agg(F.countDistinct("user_id").alias("du"))
        .withColumnRenamed("et", "event_type")
    )
    joined = salted_join(
        events.select("event_type", "user_id"), dim, on="event_type",
        salt=n_salts,
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max("du").cast("bigint").alias("distinct_users"),
    )


# --- linear multi-touch attribution -----------------------------------------------

_SQL_LINEAR_ATTRIBUTION = """
    WITH touches AS (
      SELECT user_id, event_type AS channel,
             CAST(COUNT(*) AS BIGINT) AS n_ch
      FROM events WHERE event_type <> 'purchase'
      GROUP BY user_id, event_type
    ),
    tot AS (
      SELECT user_id, CAST(SUM(n_ch) AS BIGINT) AS n_touches
      FROM touches GROUP BY user_id
    ),
    conv AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purchases
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT t.channel,
           CAST(SUM(t.n_ch * c.n_purchases * 1000000 // tt.n_touches)
             AS BIGINT) AS credit_ppm
    FROM touches t
    JOIN tot tt ON tt.user_id = t.user_id
    JOIN conv c ON c.user_id = t.user_id
    GROUP BY t.channel
    ORDER BY t.channel
"""


@query("linear_attribution", oracle=_SQL_LINEAR_ATTRIBUTION)
def q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution — first_touch_attribution's
    every-touch-counts partner: each user's purchases split credit
    EQUALLY across all their non-purchase touches, channel credit =
    Σ_users n_ch·n_purchases·10^6 div n_touches in exact bigint ppm
    (floor per (user, channel) — deterministic, and Σ credits ≤
    purchases·10^6 with the remainder being the floor dust, never
    over-attribution). One user_id shuffle shared by the touch rollup,
    the per-user totals, and the conversion counts."""
    (events,) = _t(spark, sf_dir, "events")
    touches = (
        events.filter(F.col("event_type") != "purchase")
        .groupBy("user_id", F.col("event_type").alias("channel"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ch"))
    )
    tot = touches.groupBy("user_id").agg(
        F.sum("n_ch").cast("bigint").alias("n_touches")
    )
    conv = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_purchases"))
    )
    return (
        touches.join(tot, "user_id")
        .join(conv, "user_id")
        .groupBy("channel")
        .agg(
            F.sum(
                F.expr("n_ch * n_purchases * 1000000 div n_touches")
            )
            .cast("bigint")
            .alias("credit_ppm"),
        )
        .orderBy("channel")
    )


# --- stream-stream LEFT SEMI interval join ----------------------------------------

_SQL_STREAMING_SEMI = """
    SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts
    FROM events c
    WHERE c.event_type = 'click'
      AND EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase'
          AND p.user_id = c.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      )
"""


@query("streaming_semi_join", oracle=_SQL_STREAMING_SEMI)
def q_streaming_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI interval join — the membership variant
    that completes the streaming join matrix (inner / left / right / full
    outer / SEMI): clicks that converted within the hour, emitted ONCE
    with no purchase payload and no duplicate per matching purchase (the
    inner join would fan out; dropDuplicates after it would need its own
    state — the semi join IS the deduplicated form, with less state).
    Same two-sided watermark/state-expiry discipline as streaming_join.
    Emission is ON FIRST MATCH, exactly once (probed empirically: a
    matched click emits with no watermark advancement needed, unlike the
    outer joins' eviction-gated null rows), so over a finite availableNow
    source the append-mode emission equals the batch EXISTS semi-join —
    exactly the oracle, with no watermark clause required."""
    from ..session import ensure_utc

    ensure_utc(spark)
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema

    def side(event_type: str, cols: dict):
        src = stream_source(
            spark, sf_dir, schema, watermark=None, path_glob_filter="events.parquet"
        )
        src = with_ts_from_nanos(src, "ts")
        out = src.filter(F.col("event_type") == event_type).select(
            *[F.col(a).alias(b) for a, b in cols.items()]
        )
        ts_col = [b for a, b in cols.items() if a == "ts"][0]
        return out.withWatermark(ts_col, "2 hours")

    clicks = side(
        "click", {"event_id": "click_id", "user_id": "user_id", "ts": "click_ts"}
    )
    purchases = side(
        "purchase", {"event_id": "purchase_id", "user_id": "p_user", "ts": "purchase_ts"}
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_semi",
    ).select("click_id", "user_id", "click_ts")
    sink_name = "streaming_semi_join_mem"
    with sized_state_partitions(spark, table_path(sf_dir, "events")):
        (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(sink_name)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.table(sink_name)


# --- streaming value-histogram maintenance ----------------------------------------


@query("streaming_histogram_maintain", oracle=_SQL_HIST_DAILY)
def q_streaming_histogram_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING quantile-sketch maintenance — the fourth stored-artifact
    foreachBatch consumer, and the strongest merge contract of the four:
    the events file streamed into
    streaming.pipeline.foreach_batch_histogram_maintain, which histograms
    each epoch and ADDS bucket counts into the parquet-stored per-day
    histogram. Merge is pure integer addition, so the stored table after
    ANY epoch partitioning is bit-identical to the batch build — this
    query therefore carries value_histogram_daily's oracle VERBATIM, and
    the two-epoch test pins bit-equality (not just validity, MG's weaker
    multi-epoch statement). Every later quantile rollup
    (histogram_quantiles) serves from the maintained table with the raw
    stream long gone."""
    import tempfile

    from ..session import ensure_utc
    from ..streaming.pipeline import foreach_batch_histogram_maintain

    ensure_utc(spark)
    target = tempfile.mkdtemp(prefix="stream_hist_") + "/hist"
    spark.createDataFrame(
        [], "event_type string, day date, bucket bigint, n bigint"
    ).write.parquet(target)

    schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    src = stream_source(
        spark, sf_dir, schema, watermark=None, path_glob_filter="events.parquet"
    )
    src = with_ts_from_nanos(src, "ts")
    sink = foreach_batch_histogram_maintain(
        target, value_col="value", grain_cols=["event_type"], width=_HIST_WIDTH
    )
    (
        src.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_hist_"))
        .start()
        .awaitTermination()
    )
    return (
        spark.read.parquet(target)
        .select(
            "event_type", F.col("day").cast("string").alias("day"), "bucket", "n"
        )
        .orderBy("event_type", "day", "bucket")
    )


# --- conversion lag quantiles ------------------------------------------------------

_SQL_CONVERSION_LAG = """
    WITH fc AS (
      SELECT user_id, MIN(ts) AS first_click
      FROM events WHERE event_type = 'click' GROUP BY user_id
    ),
    fp AS (
      SELECT f.user_id,
             MIN(e.ts) AS first_purchase
      FROM fc f JOIN events e
        ON e.user_id = f.user_id
       AND e.event_type = 'purchase' AND e.ts >= f.first_click
      GROUP BY f.user_id
    ),
    lags AS (
      SELECT CAST(epoch_us(fp.first_purchase) // 1000000
                  - epoch_us(fc.first_click) // 1000000 AS BIGINT) AS lag_s
      FROM fc JOIN fp ON fp.user_id = fc.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           quantile_cont(lag_s, 0.5) AS p50_lag_s,
           quantile_cont(lag_s, 0.9) AS p90_lag_s
    FROM lags
"""


@query("conversion_lag_quantiles", oracle=_SQL_CONVERSION_LAG)
def q_conversion_lag_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution — the funnel family's latency half
    (funnel_stages counts WHO converts; THIS measures HOW LONG): per
    user, seconds from first click to the first purchase at-or-after it,
    then exact p50/p90 across users. Lags are exact bigint second diffs;
    the percentiles ride the verified Spark `percentile` == DuckDB
    `quantile_cont` interpolation contract (exact_quantiles /
    robust_outliers), so even the double quantiles hash-match.

    Plan (100 TB): two user-grain min-aggregates + one user-keyed join —
    all on the same shuffle key — and a 1-row exact percentile over the
    per-user lag frame (user cardinality, not events; at extreme user
    counts swap approx_percentile, same plan)."""
    (events,) = _t(spark, sf_dir, "events")
    fc = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    fp = (
        fc.join(
            events.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("ts").alias("pts")
            ),
            "user_id",
        )
        .filter(F.col("pts") >= F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("pts").alias("first_purchase"))
    )
    lags = fc.join(fp, "user_id").select(
        (
            F.unix_timestamp("first_purchase") - F.unix_timestamp("first_click")
        )
        .cast("bigint")
        .alias("lag_s")
    )
    return lags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.expr("percentile(lag_s, 0.5)").alias("p50_lag_s"),
        F.expr("percentile(lag_s, 0.9)").alias("p90_lag_s"),
    )


# --- trending rank delta -----------------------------------------------------------

_SQL_TRENDING = """
    WITH kd AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             json_extract_string(props, '$.k') AS k,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events
      WHERE json_extract_string(props, '$.k') IS NOT NULL
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT day, k, n,
             CAST(row_number() OVER (PARTITION BY day
                                     ORDER BY n DESC, k ASC) AS BIGINT) AS rnk
      FROM kd
    ),
    lagged AS (
      SELECT day, k, n, rnk,
             lag(rnk) OVER (PARTITION BY k ORDER BY day) AS prev_rnk
      FROM ranked
    )
    SELECT day, k, n, rnk, prev_rnk,
           CASE WHEN prev_rnk IS NULL THEN NULL
                ELSE prev_rnk - rnk END AS rank_delta
    FROM lagged WHERE rnk <= 10
    ORDER BY day, rnk
"""


@query("trending_rank_delta", oracle=_SQL_TRENDING)
def q_trending_rank_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily top-10 trending entities with rank movement: per-day entity
    counts (prop-key granularity) ranked with a deterministic tie-break,
    each entity's previous-day rank fetched by a LAG over ITS OWN day
    series (an equi-window, not a day self-join), delta = prev − rnk
    (positive = rising; NULL = new entrant). The leaderboard every
    analytics surface ships, as two windows over the (day, entity)
    aggregate frame — never over events.

    Plan (100 TB): one groupBy(day, k) shuffle collapses events to
    entity-day grain; both windows run on that frame (≤ days·entities
    rows). The final rnk ≤ 10 filter happens AFTER the lag so a
    yesterday-rank-40 riser still knows where it came from."""
    (events,) = _t(spark, sf_dir, "events")
    kd = (
        events.filter(F.get_json_object("props", "$.k").isNotNull())
        .groupBy(
            F.to_date("ts").cast("string").alias("day"),
            F.get_json_object("props", "$.k").alias("k"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    wd = Window.partitionBy("day").orderBy(F.col("n").desc(), F.col("k").asc())
    ranked = kd.select(
        "day", "k", "n", F.row_number().over(wd).cast("bigint").alias("rnk")
    )
    wk = Window.partitionBy("k").orderBy("day")
    lagged = ranked.select(
        "day", "k", "n", "rnk", F.lag("rnk").over(wk).alias("prev_rnk")
    )
    return (
        lagged.filter(F.col("rnk") <= 10)
        .select(
            "day",
            "k",
            "n",
            "rnk",
            "prev_rnk",
            (F.col("prev_rnk") - F.col("rnk")).alias("rank_delta"),
        )
        .orderBy("day", "rnk")
    )


# --- distribution drift: PSI from the stored histogram sketch ----------------------

_PSI_WEEK_A = ("2024-01-01", "2024-01-07")
_PSI_WEEK_B = ("2024-01-22", "2024-01-28")
_PSI_SCALE = 65536  # log2_fp's fixed-point scale
_PSI_UNIT = 1_000_000.0 * _PSI_SCALE  # ppm × fp-bits → bits


def _psi_ctes() -> str:
    """The PSI pipeline's CTEs up through the per-type aggregate `agg` —
    shared verbatim by the drift report (_psi_sql) and the drift-GATED
    selection (drift_gated_selection's oracle), so the gate's decision
    column is held to the identical arithmetic."""
    from ..operators.classify import log2_fp_sql

    lg = lambda x: log2_fp_sql(x, dialect="duck")  # noqa: E731
    a0, a1 = _PSI_WEEK_A
    b0, b1 = _PSI_WEEK_B
    return f"""
    WITH h AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(floor(value / {_HIST_WIDTH}) AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3
    ),
    wa AS (
      SELECT event_type, bucket, CAST(SUM(n) AS BIGINT) AS n_a
      FROM h WHERE day BETWEEN '{a0}' AND '{a1}' GROUP BY 1, 2
    ),
    wb AS (
      SELECT event_type, bucket, CAST(SUM(n) AS BIGINT) AS n_b
      FROM h WHERE day BETWEEN '{b0}' AND '{b1}' GROUP BY 1, 2
    ),
    ta AS (SELECT event_type, CAST(SUM(n_a) AS BIGINT) AS tot_a FROM wa GROUP BY 1),
    tb AS (SELECT event_type, CAST(SUM(n_b) AS BIGINT) AS tot_b FROM wb GROUP BY 1),
    j AS (
      SELECT COALESCE(wa.event_type, wb.event_type) AS event_type,
             COALESCE(wa.bucket, wb.bucket) AS bucket,
             COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
      FROM wa FULL OUTER JOIN wb
        ON wa.event_type = wb.event_type AND wa.bucket = wb.bucket
    ),
    f AS (
      SELECT j.event_type,
             n_a * 1000000 // tot_a AS p_ppm,
             n_b * 1000000 // tot_b AS q_ppm
      FROM j
      JOIN ta ON ta.event_type = j.event_type
      JOIN tb ON tb.event_type = j.event_type
    ),
    agg AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN p_ppm >= 1 AND q_ppm >= 1
                  THEN (p_ppm - q_ppm) * ({lg("p_ppm")} - {lg("q_ppm")})
                  ELSE 0 END) AS BIGINT) AS psi_fp,
             CAST(SUM(CASE WHEN p_ppm >= 1 AND q_ppm >= 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_buckets,
             CAST(SUM(CASE WHEN NOT (p_ppm >= 1 AND q_ppm >= 1)
                  THEN p_ppm ELSE 0 END) AS BIGINT) AS skipped_a_ppm,
             CAST(SUM(CASE WHEN NOT (p_ppm >= 1 AND q_ppm >= 1)
                  THEN q_ppm ELSE 0 END) AS BIGINT) AS skipped_b_ppm
      FROM f GROUP BY event_type
    )"""


def _psi_sql() -> str:
    return (
        _psi_ctes()
        + f"""
    SELECT event_type, psi_fp,
           CAST(psi_fp AS DOUBLE) / {_PSI_UNIT} AS psi_bits,
           n_buckets, skipped_a_ppm, skipped_b_ppm
    FROM agg ORDER BY event_type
"""
    )


@query("histogram_drift_psi", oracle=_psi_sql())
def q_histogram_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitoring from the STORED histogram sketch:
    the population stability index between two time windows' value
    distributions per event_type — the standard ML-data drift gate
    (PSI < 0.1 stable / > 0.25 drifted, at the usual ln scale; ours is
    log2-based, a constant ln2 factor, monotone-equivalent), computed
    entirely from the persisted (grain, day, bucket, n) histogram table:
    merge each window's days by bucket ADDITION (the sketch's native op),
    normalize to integer ppm, PSI_fp = Σ (p_ppm − q_ppm)·(lg₂fp(p_ppm) −
    lg₂fp(q_ppm)) over buckets populated in BOTH windows — the ratio's
    log taken as a difference of fixed-point logs of bounded ppm values
    (≤ 10⁶ at ANY corpus size — no overflow path), every term ≥ 0 because
    (p−q) and lg(p)−lg(q) share sign under a monotone lg. Buckets failing
    the both-sides floor (the ε-smoothing question every PSI
    implementation must answer) are EXCLUDED and their masses REPORTED
    (skipped_*_ppm) instead of smoothed — deterministic and honest where
    ε-hacks are neither. psi_bits is the one sanctioned IEEE division.

    Output: (event_type, psi_fp, psi_bits, n_buckets, skipped_a_ppm,
    skipped_b_ppm). An event_type must appear in both windows to have a
    drift row (inner join to both totals — a type born or retired between
    windows is a schema-level change, not drift).

    Plan (100 TB): the raw scan builds the histogram ONCE (in production
    it is already stored — value_histogram_daily's table, the raw data
    deleted); everything after runs at bucket granularity: two window
    merges (map-side combinable), a bucket-keyed full outer join of two
    ≤range/width-row frames, one aggregate. Drift monitoring at sketch
    cost, never a second raw scan — pinned by a delete-the-raw-data test
    like the rest of the sketch families."""
    from ..operators.classify import log2_fp_sql
    from ..operators.sketches import value_histogram

    lg = lambda x: log2_fp_sql(x, dialect="spark")  # noqa: E731
    (events,) = _t(spark, sf_dir, "events")
    hist = value_histogram(events, "value", ["event_type"], "ts", _HIST_WIDTH)
    return histogram_psi(hist, _PSI_WEEK_A, _PSI_WEEK_B, lg)


def histogram_psi(hist: DataFrame, week_a, week_b, lg) -> DataFrame:
    """PSI from a (event_type, day, bucket, n) histogram frame (live or
    parquet-read — tests pin that the stored table serves identically)."""
    a0, a1 = week_a
    b0, b1 = week_b

    def window(lo, hi, out):
        return (
            hist.filter(F.col("day").between(lo, hi))
            .groupBy("event_type", "bucket")
            .agg(F.sum("n").cast("bigint").alias(out))
        )

    wa = window(a0, a1, "n_a")
    wb = window(b0, b1, "n_b")
    ta = wa.groupBy("event_type").agg(F.sum("n_a").cast("bigint").alias("tot_a"))
    tb = wb.groupBy("event_type").agg(F.sum("n_b").cast("bigint").alias("tot_b"))
    j = (
        wa.join(wb, ["event_type", "bucket"], "full_outer")
        .select(
            "event_type",
            "bucket",
            F.coalesce("n_a", F.lit(0)).cast("bigint").alias("n_a"),
            F.coalesce("n_b", F.lit(0)).cast("bigint").alias("n_b"),
        )
        .join(ta, "event_type")
        .join(tb, "event_type")
        .select(
            "event_type",
            F.expr("n_a * 1000000 div tot_a").alias("p_ppm"),
            F.expr("n_b * 1000000 div tot_b").alias("q_ppm"),
        )
    )
    ok = (F.col("p_ppm") >= 1) & (F.col("q_ppm") >= 1)
    term = F.expr(f"(p_ppm - q_ppm) * ({lg('p_ppm')} - {lg('q_ppm')})")
    agg = j.groupBy("event_type").agg(
        F.sum(F.when(ok, term).otherwise(F.lit(0))).cast("bigint").alias("psi_fp"),
        F.sum(F.when(ok, 1).otherwise(0)).cast("bigint").alias("n_buckets"),
        F.sum(F.when(~ok, F.col("p_ppm")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("skipped_a_ppm"),
        F.sum(F.when(~ok, F.col("q_ppm")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("skipped_b_ppm"),
    )
    return agg.select(
        "event_type",
        "psi_fp",
        (F.col("psi_fp").cast("double") / F.lit(_PSI_UNIT)).alias("psi_bits"),
        "n_buckets",
        "skipped_a_ppm",
        "skipped_b_ppm",
    ).orderBy("event_type")


# Advisor→action #3 (VERDICT r7 next-round #6): the PSI gate WIRED TO A
# DECISION. Threshold = 0.1 nats (the standard "investigate" boundary),
# expressed in the pipeline's fixed-point log2 units: 0.1/ln2 bits ×
# _PSI_UNIT. The derivation is a module-constant integer, embedded
# identically in the Spark plan and the DuckDB oracle.
import math as _math  # noqa: E402

_DRIFT_THRESH_FP = int(0.1 / _math.log(2.0) * _PSI_UNIT)


def _drift_gate_sql() -> str:
    b0, b1 = _PSI_WEEK_B
    return (
        _psi_ctes()
        + f""",
    sel AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
      FROM events
      WHERE value IS NOT NULL AND CAST(ts AS DATE) BETWEEN '{b0}' AND '{b1}'
      GROUP BY event_type
    )
    SELECT a.event_type, a.psi_fp,
           a.psi_fp > {_DRIFT_THRESH_FP} AS drifted,
           CASE WHEN a.psi_fp > {_DRIFT_THRESH_FP} THEN 0
                ELSE COALESCE(s.n_events, 0) END AS n_selected,
           CASE WHEN a.psi_fp > {_DRIFT_THRESH_FP} THEN CAST(0.0 AS DOUBLE)
                ELSE COALESCE(s.total_value, 0.0) END AS selected_value
    FROM agg a LEFT JOIN sel s ON s.event_type = a.event_type
    ORDER BY a.event_type
"""
    )


@query("drift_gated_selection", oracle=_drift_gate_sql())
def q_drift_gated_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PSI drift gate wired to a DECISION — advisor→action #3, same
    pattern as auto_join_strategy (sketch-derived decision columns, exact
    oracle over the identical arithmetic, downstream work under the
    decision): a curation step that EXCLUDES event types whose value
    distribution drifted between the two monitoring windows (psi_fp above
    the 0.1-nat threshold, integer-compared in fixed-point units — no
    float enters the decision) from the current window's selection. Per
    type: (psi_fp, drifted, n_selected, selected_value) — gated types
    contribute zero rows downstream; with no drift anywhere the output is
    row-identical to the ungated selection (pinned in tests via a
    threshold-high twin).

    This is the pretrain-data gate a 100 TB curation pipeline runs before
    admitting a source's week into the training mix: the decision costs
    two bucket-granularity window merges of the STORED histogram sketch
    (never a second raw scan — histogram_drift_psi's plan), and the
    selection aggregate only scans the admitted window. At round-8
    sf0.01, 'purchase' (psi 0.156 bits > the 0.144-bit threshold) is
    genuinely excluded — the gate does real work in the committed
    artifact (data-dependent; the oracle holds either way)."""
    return _drift_gated_selection(spark, sf_dir, _DRIFT_THRESH_FP)


def _drift_gated_selection(
    spark: SparkSession, sf_dir: str, threshold_fp: int
) -> DataFrame:
    from ..operators.classify import log2_fp_sql
    from ..operators.sketches import value_histogram

    lg = lambda x: log2_fp_sql(x, dialect="spark")  # noqa: E731
    (events,) = _t(spark, sf_dir, "events")
    hist = value_histogram(events, "value", ["event_type"], "ts", _HIST_WIDTH)
    psi = histogram_psi(hist, _PSI_WEEK_A, _PSI_WEEK_B, lg).select(
        "event_type", "psi_fp"
    )
    b0, b1 = _PSI_WEEK_B
    sel = (
        events.filter(
            F.col("value").isNotNull()
            & F.to_date("ts").between(b0, b1)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    drifted = F.col("psi_fp") > F.lit(threshold_fp)
    return (
        psi.join(sel, "event_type", "left")
        .select(
            "event_type",
            "psi_fp",
            drifted.alias("drifted"),
            F.when(drifted, F.lit(0))
            .otherwise(F.coalesce("n_events", F.lit(0)))
            .cast("bigint")
            .alias("n_selected"),
            F.when(drifted, F.lit(0.0))
            .otherwise(F.coalesce("total_value", F.lit(0.0)))
            .alias("selected_value"),
        )
        .orderBy("event_type")
    )


# --- incremental join-view maintenance ------------------------------------

_IJV_CUTOFF = "2000-01-01"  # orders at/after this date are the "new" delta

_SQL_FULL_JOIN_VIEW = """
    SELECT o_orderkey, o_custkey, c_mktsegment,
           CAST(o_totalprice AS DOUBLE) AS total_price
    FROM orders JOIN customer ON c_custkey = o_custkey
    ORDER BY o_orderkey
"""


@query("incremental_join_view", oracle=_SQL_FULL_JOIN_VIEW)
def q_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized JOIN-view maintenance by DELTA ALGEBRA — the join
    analog of incremental_agg_merge's partial-aggregate rule: for
    V = A ⋈ B with inserts ΔA (a new day of orders) and ΔB (newly
    registered customers),

        V' = (A_old ⋈ B_old)  ∪  (ΔA ⋈ B')  ∪  (A_old ⋈ ΔB)

    — the three pieces are DISJOINT by construction (every joined pair is
    classified by which side of each split it falls on), so the union is
    a plain unionByName, and the oracle is the FULL recompute: equality
    proves maintain(V, ΔA, ΔB) == recompute(A' ⋈ B'), the identity every
    incremental view-maintenance engine (DBSP/Materialize/Delta Live)
    rests on.

    Plan (100 TB): the standing piece V is already materialized (here
    rebuilt for self-containment); the maintenance work is two joins
    whose DELTA side is small — ΔA broadcasts against B', ΔB broadcasts
    against A_old (with the base sides stored bucketed by join key, the
    delta's touched buckets prune the base scans exactly as in the
    bucketed CDC consumer). History is never rejoined."""
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    cutoff = F.lit(_IJV_CUTOFF).cast("timestamp")
    a_old = orders.filter(F.col("o_orderdate") < cutoff)
    a_new = orders.filter(F.col("o_orderdate") >= cutoff)
    b_old = customer.filter(F.col("c_custkey") % 20 != 0)
    b_new = customer.filter(F.col("c_custkey") % 20 == 0)

    def piece(a: DataFrame, b: DataFrame) -> DataFrame:
        return a.join(b, a["o_custkey"] == b["c_custkey"]).select(
            "o_orderkey",
            "o_custkey",
            "c_mktsegment",
            F.col("o_totalprice").cast("double").alias("total_price"),
        )

    view_old = piece(a_old, b_old)  # the standing materialized view
    maintained = (
        view_old.unionByName(piece(a_new, customer))
        .unionByName(piece(a_old, b_new))
    )
    return maintained.orderBy("o_orderkey")


# seed cache for the streaming-maintain bench row (VERDICT r9 #1)
_JV_SEG_SEED: dict[str, str] = {}


@query("streaming_join_view_maintain", oracle=_SQL_FULL_JOIN_VIEW)
def q_streaming_join_view_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING materialized join-view maintenance — the seventh
    stored-artifact foreachBatch consumer
    (streaming.pipeline.foreach_batch_join_view_maintain): the standing
    view (pre-cutoff orders ⋈ customer) is seeded batch-side as segment
    seg_base; the post-cutoff orders stream through the sink, which joins
    ONLY each epoch's delta against the dimension (broadcast) and
    publishes the joined rows as one immutable segment — V' = V ∪ (ΔA⋈B)
    per epoch, O(delta) writes, the segment dir as the ledger. Carries
    the FULL-recompute exact oracle: maintain-then-read must equal
    recompute(A ⋈ B), row for row.

    r10 (VERDICT r9 #1): the row measures MAINTAIN + SERVE only — the
    standing view is materialized once per sf_dir (warmup pays it) and
    each run streams its delta into a fresh copy; the mid-plan compaction
    and its serve-equality collects moved to tests (already pinned:
    test_join_view_compaction_and_replay_skip)."""
    import tempfile

    from ..session import ensure_utc
    from ..streaming.pipeline import (
        foreach_batch_join_view_maintain,
        read_join_view_segments,
        seed_join_view_segments,
        stream_source,
    )
    from .registry import _fresh_copy_of

    ensure_utc(spark)
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    cutoff = F.lit(_IJV_CUTOFF).cast("timestamp")

    def piece(a: DataFrame, b: DataFrame) -> DataFrame:
        return a.join(b, a["o_custkey"] == b["c_custkey"]).select(
            "o_orderkey",
            "o_custkey",
            "c_mktsegment",
            F.col("o_totalprice").cast("double").alias("total_price"),
        )

    if sf_dir not in _JV_SEG_SEED:
        seed = tempfile.mkdtemp(prefix="stream_jv_seed_") + "/view"
        seed_join_view_segments(
            piece(orders.filter(F.col("o_orderdate") < cutoff), customer), seed
        )
        _JV_SEG_SEED[sf_dir] = seed
    view_dir = _fresh_copy_of(_JV_SEG_SEED[sf_dir], "stream_jv_")
    schema = spark.read.parquet(table_path(sf_dir, "orders")).schema
    src = (
        stream_source(
            spark, sf_dir, schema, watermark=None,
            path_glob_filter="orders.parquet",
        )
        .filter(F.col("o_orderdate").cast("timestamp") >= cutoff)
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("double").alias("total_price"),
        )
    )
    sink = foreach_batch_join_view_maintain(
        view_dir,
        table_path(sf_dir, "customer"),
        fact_key="o_custkey",
        dim_key="c_custkey",
        dim_cols=["c_mktsegment"],
    )
    (
        src.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_jv_"))
        .start()
        .awaitTermination()
    )
    return (
        read_join_view_segments(spark, view_dir)
        .select("o_orderkey", "o_custkey", "c_mktsegment", "total_price")
        .orderBy("o_orderkey")
    )


# time-travel store cache: built once per sf_dir, never mutated by the
# row — read_at is a pure catalog-filtered serve over immutable segments
_JV_TT_STORE: dict[str, str] = {}


@query(
    "join_view_read_at",
    oracle=f"""
    SELECT o_orderkey, o_custkey, c_mktsegment,
           CAST(o_totalprice AS DOUBLE) AS total_price
    FROM orders JOIN customer ON c_custkey = o_custkey
    WHERE o_orderdate < TIMESTAMP '{_IJV_CUTOFF}' OR o_orderkey % 2 = 0
    ORDER BY o_orderkey
""",
)
def q_join_view_read_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TRAVEL serve of the maintained join view (VERDICT r10 next
    #6): the view store holds the standing seg_base (pre-cutoff orders ⋈
    customer) plus two published epochs splitting the post-cutoff delta
    by orderkey parity; `read_join_view_segments_at(view, 0)` resolves
    the `_manifest` catalog + per-segment epoch coverage to the view AS
    OF epoch 0 — seed + even-orderkey joins — while epoch 1 stays live.
    The insert-only view is a union of immutable epoch segments, so the
    as-of serve is exactly the live union over fewer segments: O(catalog)
    resolution, zero data movement. Oracle: the batch recompute over the
    prefix fact set (pre-cutoff OR even orderkey), row for row — the
    reproducible-snapshot contract for maintained views; compaction
    semantics (still-cataloged epochs exact, folded epochs raise) pinned
    in tests/test_time_travel.py."""
    from ..streaming.pipeline import (
        foreach_batch_join_view_maintain,
        read_join_view_segments_at,
        seed_join_view_segments,
    )

    orders, customer = _t(spark, sf_dir, "orders", "customer")
    cutoff = F.lit(_IJV_CUTOFF).cast("timestamp")
    if sf_dir not in _JV_TT_STORE:
        import tempfile

        view_dir = tempfile.mkdtemp(prefix="jv_tt_") + "/view"
        seed_join_view_segments(
            orders.filter(F.col("o_orderdate") < cutoff)
            .join(customer, orders["o_custkey"] == customer["c_custkey"])
            .select(
                "o_orderkey",
                "o_custkey",
                "c_mktsegment",
                F.col("o_totalprice").cast("double").alias("total_price"),
            ),
            view_dir,
        )
        sink = foreach_batch_join_view_maintain(
            view_dir,
            table_path(sf_dir, "customer"),
            fact_key="o_custkey",
            dim_key="c_custkey",
            dim_cols=["c_mktsegment"],
        )
        delta = orders.filter(F.col("o_orderdate") >= cutoff).select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("double").alias("total_price"),
        )
        sink(delta.filter(F.col("o_orderkey") % 2 == 0), 0)
        sink(delta.filter(F.col("o_orderkey") % 2 == 1), 1)
        _JV_TT_STORE[sf_dir] = view_dir
    return (
        read_join_view_segments_at(spark, _JV_TT_STORE[sf_dir], 0)
        .select("o_orderkey", "o_custkey", "c_mktsegment", "total_price")
        .orderBy("o_orderkey")
    )


_IJR_LOOKUP_KEYS = [7, 11, 13, 17, 19]


@query(
    "join_relation_point_lookup",
    oracle=f"""
    WITH survivors AS (
      SELECT o_custkey, o_orderpriority FROM orders
      WHERE NOT (o_orderdate < TIMESTAMP '{_IJV_CUTOFF}' AND o_orderkey % 7 = 0)
    )
    SELECT o_custkey, o_orderpriority, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS w
    FROM survivors JOIN customer ON c_custkey = o_custkey
    WHERE o_custkey IN ({", ".join(str(k) for k in _IJR_LOOKUP_KEYS)})
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
""",
)
def q_join_relation_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-LOOKUP serve of the maintained join relation — the per-
    entity query shape a 100 TB row-grain view exists to answer ("this
    customer's current joined rows, now"): after the full three-epoch
    stream, five requested keys are served from ONLY the bucket dirs
    they hash to (streaming.pipeline.read_weighted_relation_store_keyed
    — the store's `_layout` sidecar supplies bucket_keys/n_buckets, the
    touched dirs are read by explicit path, the requested keys broadcast
    left-semi into the slice before netting). Per-lookup I/O is
    O(touched buckets), never O(store). Oracle: the full-bag recompute
    restricted to the requested keys — bit-equal to the whole-store
    serve filtered after the fact, proving bucket routing loses
    nothing."""
    from ..streaming.pipeline import read_weighted_relation_store_keyed

    target = _run_ijr_stream(spark, sf_dir)
    wanted = spark.createDataFrame(
        [(int(k),) for k in _IJR_LOOKUP_KEYS], "o_custkey bigint"
    )
    return (
        read_weighted_relation_store_keyed(spark, target, wanted)
        .select("o_custkey", "o_orderpriority", "c_mktsegment", "w")
        .orderBy("o_custkey", "o_orderpriority", "c_mktsegment")
    )


_JV2_T0 = "1990-01-01"  # the seed dimension version's valid_from
_JV2_T2 = "1998-01-01"  # the dimension update's effective time (mid-corpus)

# the oracle is the BATCH AS-OF RECOMPUTE: every order joined against the
# dimension version whose [valid_from, valid_to) interval covers its
# order date, over the FINAL SCD2 history
_SQL_JV2_ASOF = f"""
    WITH dim AS (
      SELECT c_custkey, c_mktsegment,
             TIMESTAMP '{_JV2_T0}' AS valid_from,
             CASE WHEN c_custkey % 10 = 0 THEN TIMESTAMP '{_JV2_T2}' END
               AS valid_to
      FROM customer
      UNION ALL
      SELECT c_custkey, 'MOVED', TIMESTAMP '{_JV2_T2}',
             CAST(NULL AS TIMESTAMP)
      FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT o.o_orderkey, o.o_custkey, d.c_mktsegment,
           CAST(o.o_totalprice AS DOUBLE) AS total_price,
           d.valid_from AS dim_valid_from
    FROM orders o JOIN dim d ON d.c_custkey = o.o_custkey
      AND d.valid_from <= o.o_orderdate
      AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
    ORDER BY o_orderkey
"""


@query("streaming_join_view_scd2_maintain", oracle=_SQL_JV2_ASOF)
def q_streaming_join_view_scd2_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-view maintenance composed with a CHANGING dimension (VERDICT
    r8 #4 — the full streaming denormalization story): the dimension is
    an SCD2 history store maintained by the CDC consumer; fact epochs
    interleave with a dimension update, and each fact epoch's delta joins
    AS-OF its own event time via
    streaming.pipeline.foreach_batch_join_view_scd2_maintain, so a fact
    dated before the update carries the old attributes and one dated
    after carries the new — even though both were processed against
    different dimension states. Timeline driven here: fact epoch 0
    (pre-cutoff orders, a real availableNow stream) → dimension CDC
    epoch (customers c_custkey%10==0 move segment, effective at the
    cutoff, applied through the CDC consumer's sink) → fact epoch 1
    (post-cutoff orders, the SAME checkpoint restarted — epoch ids
    continue). Carries the batch as-of recompute over the FINAL history
    as its exact oracle: maintain-with-interleaving == recompute, row
    for row including each row's joined-version valid_from — the
    dim-before-fact ordering contract makes SCD2 closes append-only in
    version space, so earlier epochs' joins are never invalidated."""
    import glob as _glob
    import shutil as _sh
    import tempfile

    from ..session import ensure_utc
    from ..streaming.pipeline import (
        foreach_batch_cdc_scd2,
        foreach_batch_join_view_scd2_maintain,
        read_join_view_segments,
        stream_source,
    )

    ensure_utc(spark)
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    t2 = F.lit(_JV2_T2).cast("timestamp")
    base = tempfile.mkdtemp(prefix="stream_jv2_")
    dim_store, view_dir = f"{base}/dim", f"{base}/view"
    staging = tempfile.mkdtemp(prefix="jv2_facts_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_jv2_")
    # seed the SCD2 dimension: one open version per customer
    customer.select(
        "c_custkey",
        "c_mktsegment",
        F.lit(_JV2_T0).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    ).write.parquet(dim_store)
    facts = orders.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
        F.col("o_totalprice").cast("double").alias("total_price"),
    )

    def stage(df: DataFrame, name: str) -> None:
        tmpd = tempfile.mkdtemp(prefix="jv2_stage_")
        df.coalesce(1).write.parquet(f"{tmpd}/out")
        _sh.copy(_glob.glob(f"{tmpd}/out/part-*.parquet")[0], f"{staging}/{name}.parquet")

    sink = foreach_batch_join_view_scd2_maintain(
        view_dir,
        dim_store,
        fact_key="o_custkey",
        dim_key="c_custkey",
        dim_cols=["c_mktsegment"],
        event_time_col="o_orderdate",
    )

    def run_stream() -> None:
        src = stream_source(spark, staging, facts.schema, watermark=None)
        (
            src.writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
            .awaitTermination()
        )

    # fact epoch 0: pre-cutoff orders join the seed dimension version
    stage(facts.filter(F.col("o_orderdate") < t2), "epoch_a")
    run_stream()
    # dimension CDC epoch (the dim-before-fact ordering contract): movers
    # get a new version effective at the cutoff, applied through the CDC
    # consumer's own sink (its streaming drive is streaming_cdc_scd2's row)
    ops = customer.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        t2.alias("ts"),
        F.lit(1).cast("bigint").alias("event_id"),
        F.lit("MOVED").alias("c_mktsegment"),
        F.lit("U").alias("op"),
    )
    foreach_batch_cdc_scd2(
        dim_store,
        keys=["c_custkey"],
        attrs=["c_mktsegment"],
        order_cols=["ts", "event_id"],
        effective_for=lambda _e: _JV2_T2,
    )(ops, 0)
    # fact epoch 1: post-cutoff orders, SAME checkpoint — as-of their times
    stage(facts.filter(F.col("o_orderdate") >= t2), "epoch_b")
    run_stream()
    return (
        read_join_view_segments(spark, view_dir)
        .select(
            "o_orderkey", "o_custkey", "c_mktsegment", "total_price",
            "dim_valid_from",
        )
        .orderBy("o_orderkey")
    )


# --- quantiles served from the stored histogram sketch ---------------------

_HQ_PCTS = (50, 95)  # the monitoring pair every latency/value dashboard asks


@query(
    "histogram_quantiles",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             CAST(floor(value / {_HIST_WIDTH}) AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS total_n FROM h GROUP BY 1),
    c AS (
      SELECT event_type, bucket, n,
             SUM(n) OVER (PARTITION BY event_type ORDER BY bucket) AS cum
      FROM h
    ),
    q AS (SELECT UNNEST([{", ".join(str(p) for p in _HQ_PCTS)}]) AS q_pct),
    hit AS (
      SELECT c.event_type, q.q_pct, t.total_n, c.bucket,
             ROW_NUMBER() OVER (
               PARTITION BY c.event_type, q.q_pct ORDER BY c.bucket) AS rk
      FROM c JOIN t USING (event_type) CROSS JOIN q
      WHERE c.cum >= (t.total_n * q.q_pct + 99) // 100
    )
    SELECT event_type, CAST(q_pct AS BIGINT) AS q_pct, total_n, bucket,
           CAST(bucket * {_HIST_WIDTH} AS DOUBLE) AS est_lo,
           CAST((bucket + 1) * {_HIST_WIDTH} AS DOUBLE) AS est_hi
    FROM hit WHERE rk = 1
    ORDER BY event_type, q_pct
""",
)
def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles SERVED from the stored histogram sketch — the reason a
    deployment keeps the (grain, bucket, n) table at all: p50/p95 per
    event_type answered at BUCKET granularity (error bounded by the bucket
    width, reported as an [est_lo, est_hi) interval rather than a point —
    honest about the sketch's resolution where percentile_approx hides
    its error). The lower quantile rule in exact integers: the smallest
    bucket whose cumulative count reaches ceil(total·q/100) — one
    cumulative window over the ≤range/width-row histogram and a 2-row
    quantile frame, zero raw-data access in steady state (the histogram
    is the stored artifact the streaming maintainer keeps fresh; the raw
    scan here only builds it for self-containment, same discipline as
    histogram_drift_psi).

    Plan (100 TB): everything after the histogram aggregate runs at
    sketch granularity; serving N quantiles costs one window pass
    regardless of corpus size."""
    from ..operators.sketches import value_histogram

    (events,) = _t(spark, sf_dir, "events")
    hist = (
        value_histogram(events, "value", ["event_type"], "ts", _HIST_WIDTH)
        .groupBy("event_type", "bucket")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )
    t = hist.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("total_n")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = hist.withColumn("cum", F.sum("n").over(w))
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in _HQ_PCTS])).alias("q_pct")
    )
    hit = (
        c.join(t, "event_type")
        .join(F.broadcast(qs))
        .filter(
            F.col("cum")
            >= F.expr("(total_n * q_pct + 99) div 100")
        )
    )
    rw = Window.partitionBy("event_type", "q_pct").orderBy("bucket")
    return (
        hit.withColumn("rk", F.row_number().over(rw))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("q_pct").cast("bigint").alias("q_pct"),
            "total_n",
            "bucket",
            (F.col("bucket") * F.lit(_HIST_WIDTH)).cast("double").alias("est_lo"),
            ((F.col("bucket") + 1) * F.lit(_HIST_WIDTH))
            .cast("double")
            .alias("est_hi"),
        )
        .orderBy("event_type", "q_pct")
    )


@query(
    "incremental_join_view_retract",
    oracle=f"""
    WITH a_final AS (
      SELECT o_custkey, o_totalprice FROM orders
      WHERE NOT (o_orderdate < TIMESTAMP '{_IJV_CUTOFF}' AND o_orderkey % 7 = 0)
    ),
    b_final AS (
      SELECT c_custkey, c_mktsegment FROM customer
      WHERE (c_custkey % 20 = 0) OR (c_custkey % 9 <> 0)
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS total_price
    FROM a_final JOIN b_final ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
""",
)
def q_incremental_join_view_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retractions THROUGH a maintained join view (VERDICT r9 #3,
    operators/relational.weighted_join_delta + apply_weighted_delta):
    the standing view is a grouped aggregate over orders ⋈ customer;
    the changelogs then mutate BOTH sides — post-cutoff orders insert
    (w=+1) while a deterministic subset of already-joined history is
    DELETED (pre-cutoff o_orderkey % 7 == 0, w=-1), and the dimension
    simultaneously gains customers (c_custkey % 20 == 0) and loses
    standing ones (% 9 == 0). The bilinear rule ΔV = ΔA⋈B + A⋈ΔB + ΔA⋈ΔB
    (weights multiplying) turns both changelogs into ONE weighted view
    changelog, merged by the z-set aggregate rule — the composition the
    insert-only join-view family could not express. Oracle: the FULL
    recompute over the surviving relations; equality proves
    maintain == recompute with deletes interleaved on both join sides.

    Plan: the three delta-join pieces broadcast their changelog side and
    scan each standing side once (never the view); the merge groupBy
    runs at |segments| cardinality. History is never rejoined."""
    from ..operators.relational import apply_weighted_delta, weighted_join_delta

    orders, customer = _t(spark, sf_dir, "orders", "customer")
    cutoff = F.lit(_IJV_CUTOFF).cast("timestamp")
    a_cols = lambda df: df.select(  # noqa: E731
        "o_custkey", F.col("o_totalprice").alias("total_price")
    )
    a_old = a_cols(orders.filter(F.col("o_orderdate") < cutoff))
    da = (
        a_cols(orders.filter(F.col("o_orderdate") >= cutoff))
        .withColumn("w", F.lit(1))
        .unionByName(
            a_cols(
                orders.filter(
                    (F.col("o_orderdate") < cutoff) & (F.col("o_orderkey") % 7 == 0)
                )
            ).withColumn("w", F.lit(-1))
        )
    )
    b_cols = lambda df: df.select("c_custkey", "c_mktsegment")  # noqa: E731
    b_old = b_cols(customer.filter(F.col("c_custkey") % 20 != 0))
    db = (
        b_cols(customer.filter(F.col("c_custkey") % 20 == 0))
        .withColumn("w", F.lit(1))
        .unionByName(
            b_cols(
                customer.filter(
                    (F.col("c_custkey") % 20 != 0) & (F.col("c_custkey") % 9 == 0)
                )
            ).withColumn("w", F.lit(-1))
        )
    )
    state = (
        a_old.join(b_old, a_old["o_custkey"] == b_old["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(F.col("total_price").cast("decimal(27,6)"))
            .cast("decimal(38,6)")
            .alias("sm"),
        )
    )
    dv = weighted_join_delta(a_old, da, b_old, db, "o_custkey", "c_custkey")
    maintained = apply_weighted_delta(state, dv, ["c_mktsegment"], "total_price")
    return maintained.select(
        "c_mktsegment",
        F.col("cnt").alias("n_rows"),
        F.col("sm").cast("double").alias("total_price"),
    ).orderBy("c_mktsegment")


@query(
    "streaming_join_agg_retract_maintain",
    oracle=f"""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS total_price
    FROM orders JOIN customer ON c_custkey = o_custkey
    WHERE NOT (o_orderdate < TIMESTAMP '{_IJV_CUTOFF}' AND o_orderkey % 7 = 0)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
""",
)
def q_streaming_join_agg_retract_maintain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING retractions through a maintained join view — the tenth
    stored-artifact foreachBatch consumer (streaming.pipeline.
    foreach_batch_join_agg_retract_maintain): the stored aggregate-over-
    join view is seeded batch-side (pre-cutoff orders ⋈ customer,
    grouped by segment), then a weighted FACT changelog streams through
    THREE real epochs (maxFilesPerTrigger=1 over three staged files):
    an insert epoch (post-cutoff even orderkeys, w=+1), a DELETE epoch
    retracting already-joined history (pre-cutoff orderkey % 7 == 0,
    w=-1), then a second insert epoch (odd orderkeys) — deletes
    interleaved BETWEEN insert epochs, the shape VERDICT r9 #3 asked
    for. Each epoch joins only its delta against the broadcast
    dimension and merges via the z-set aggregate rule; the final stored
    view must equal the batch recompute over the surviving fact
    multiset joined to the dimension (z-set addition commutes, so the
    identity holds under ANY epoch order/batching — the hypothesis
    property the batch twin carries). Epoch ledger load-bearing
    (additive merge)."""
    import tempfile

    from ..session import ensure_utc
    from ..streaming.pipeline import (
        foreach_batch_join_agg_retract_maintain,
        stream_source,
    )

    ensure_utc(spark)
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    cutoff = F.lit(_IJV_CUTOFF).cast("timestamp")
    target = tempfile.mkdtemp(prefix="stream_jvr_") + "/state"
    a_old = orders.filter(F.col("o_orderdate") < cutoff)
    (
        a_old.join(customer, a_old["o_custkey"] == customer["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(27,6)"))
            .cast("decimal(38,6)")
            .alias("sm"),
        )
        .write.parquet(target)
    )
    fact = lambda df, w: df.select(  # noqa: E731
        "o_custkey",
        F.col("o_totalprice").alias("total_price"),
        F.lit(w).cast("int").alias("w"),
    )
    staging = tempfile.mkdtemp(prefix="jvr_delta_")
    post = orders.filter(F.col("o_orderdate") >= cutoff)
    epochs = [
        fact(post.filter(F.col("o_orderkey") % 2 == 0), 1),
        fact(
            orders.filter(
                (F.col("o_orderdate") < cutoff) & (F.col("o_orderkey") % 7 == 0)
            ),
            -1,
        ),
        fact(post.filter(F.col("o_orderkey") % 2 == 1), 1),
    ]
    # stage each epoch as ONE flat parquet FILE (the scd2 row's idiom):
    # the file stream discovers files, not dataset dirs, and
    # maxFilesPerTrigger=1 then delivers exactly one epoch per file
    _stage_epoch_files(epochs, staging)
    src = stream_source(
        spark, staging, epochs[0].schema, watermark=None, max_files_per_trigger=1
    )
    sink = foreach_batch_join_agg_retract_maintain(
        target,
        table_path(sf_dir, "customer"),
        keys=["c_mktsegment"],
        value_col="total_price",
        fact_key="o_custkey",
        dim_key="c_custkey",
        dim_cols=["c_mktsegment"],
    )
    (
        src.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_jvr_"))
        .start()
        .awaitTermination()
    )
    return (
        spark.read.parquet(target)
        .select(
            "c_mktsegment",
            F.col("cnt").alias("n_rows"),
            F.col("sm").cast("double").alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "streaming_join_agg_retract_maintain_bucketed",
    oracle=f"""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS total_price
    FROM orders JOIN customer ON c_custkey = o_custkey
    WHERE NOT (o_orderdate < TIMESTAMP '{_IJV_CUTOFF}' AND o_orderkey % 7 = 0)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
""",
)
def q_streaming_join_agg_retract_maintain_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The bucketed twin of streaming_join_agg_retract_maintain
    (streaming.pipeline.foreach_batch_join_agg_retract_maintain_bucketed):
    same three-epoch weighted fact stream (insert / DELETE / insert),
    same full-recompute exact oracle, but the stored aggregate-over-join
    state is hash-bucketed and each epoch rewrites ONLY the buckets its
    joined delta touches — the per-user-grain shape. The merge rides the
    bucketed stores' epoch commit, so the crash-at-every-fs-op guarantee
    transfers from the weighted-agg family unchanged."""
    import tempfile

    from ..session import ensure_utc
    from ..streaming.pipeline import (
        foreach_batch_join_agg_retract_maintain_bucketed,
        stream_source,
        write_bucketed_store,
    )

    ensure_utc(spark)
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    cutoff = F.lit(_IJV_CUTOFF).cast("timestamp")
    target = tempfile.mkdtemp(prefix="stream_jvrb_") + "/state"
    a_old = orders.filter(F.col("o_orderdate") < cutoff)
    seed = (
        a_old.join(customer, a_old["o_custkey"] == customer["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(27,6)"))
            .cast("decimal(38,6)")
            .alias("sm"),
        )
    )
    write_bucketed_store(seed, target, ["c_mktsegment"], 8)
    fact = lambda df, w: df.select(  # noqa: E731
        "o_custkey",
        F.col("o_totalprice").alias("total_price"),
        F.lit(w).cast("int").alias("w"),
    )
    staging = tempfile.mkdtemp(prefix="jvrb_delta_")
    post = orders.filter(F.col("o_orderdate") >= cutoff)
    epochs = [
        fact(post.filter(F.col("o_orderkey") % 2 == 0), 1),
        fact(
            orders.filter(
                (F.col("o_orderdate") < cutoff) & (F.col("o_orderkey") % 7 == 0)
            ),
            -1,
        ),
        fact(post.filter(F.col("o_orderkey") % 2 == 1), 1),
    ]
    _stage_epoch_files(epochs, staging)
    src = stream_source(
        spark, staging, epochs[0].schema, watermark=None, max_files_per_trigger=1
    )
    sink = foreach_batch_join_agg_retract_maintain_bucketed(
        target,
        table_path(sf_dir, "customer"),
        keys=["c_mktsegment"],
        value_col="total_price",
        fact_key="o_custkey",
        dim_key="c_custkey",
        dim_cols=["c_mktsegment"],
        n_buckets=8,
    )
    (
        src.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_jvrb_"))
        .start()
        .awaitTermination()
    )
    return (
        spark.read.parquet(target)
        .drop("bucket")
        .select(
            "c_mktsegment",
            F.col("cnt").alias("n_rows"),
            F.col("sm").cast("double").alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )


_IJR_ORACLE_FINAL = f"""
    WITH survivors AS (
      SELECT o_custkey, o_orderpriority FROM orders
      WHERE NOT (o_orderdate < TIMESTAMP '{_IJV_CUTOFF}' AND o_orderkey % 7 = 0)
    )
    SELECT o_custkey, o_orderpriority, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS w
    FROM survivors JOIN customer ON c_custkey = o_custkey
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
"""


@query(
    "incremental_join_relation_retract",
    oracle=f"""
    WITH a_final AS (
      SELECT o_custkey, o_orderpriority FROM orders
      WHERE NOT (o_orderdate < TIMESTAMP '{_IJV_CUTOFF}' AND o_orderkey % 7 = 0)
    ),
    b_final AS (
      SELECT c_custkey, c_mktsegment FROM customer
      WHERE (c_custkey % 20 = 0) OR (c_custkey % 9 <> 0)
    )
    SELECT o_custkey, o_orderpriority, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS w
    FROM a_final JOIN b_final ON c_custkey = o_custkey
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
""",
)
def q_incremental_join_relation_retract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The maintained join RELATION under retractions (VERDICT r10 next
    #2 — the composition weighted_join_delta's docstring names): the
    standing artifact is the join VIEW ITSELF as a weighted (row, w) bag
    — one row per distinct (o_custkey, o_orderpriority, c_mktsegment)
    with w = its multiplicity — not an aggregate over it. Both sides
    then mutate (post-cutoff orders insert, pre-cutoff orderkey % 7
    history DELETES; the dimension gains % 20 customers and loses % 9
    standing ones); the bilinear rule turns both changelogs into one
    weighted view changelog and operators.relational.
    merge_weighted_relation z-set-adds it into the stored relation —
    rows netting to zero vanish, so a retracted fact's join rows
    disappear from the served bag exactly. Oracle: the full bag
    recompute over the surviving relations (GROUP BY all columns,
    COUNT(*) = multiplicity) — the materialized-view contract the
    reference's staging layer approximates by full rewrite
    (extract_stream_data.py:24).

    Plan (100 TB): the three delta-join pieces broadcast their changelog
    side; the merge is one hash aggregate keyed on the full row,
    map-side combined — the streaming twin applies it per touched
    bucket, never the whole store."""
    from ..operators.relational import (
        merge_weighted_relation,
        served_relation,
        weighted_join_delta,
    )

    orders, customer = _t(spark, sf_dir, "orders", "customer")
    cutoff = F.lit(_IJV_CUTOFF).cast("timestamp")
    a_cols = lambda df: df.select("o_custkey", "o_orderpriority")  # noqa: E731
    a_old = a_cols(orders.filter(F.col("o_orderdate") < cutoff))
    da = (
        a_cols(orders.filter(F.col("o_orderdate") >= cutoff))
        .withColumn("w", F.lit(1))
        .unionByName(
            a_cols(
                orders.filter(
                    (F.col("o_orderdate") < cutoff) & (F.col("o_orderkey") % 7 == 0)
                )
            ).withColumn("w", F.lit(-1))
        )
    )
    b_cols = lambda df: df.select("c_custkey", "c_mktsegment")  # noqa: E731
    b_old = b_cols(customer.filter(F.col("c_custkey") % 20 != 0))
    db = (
        b_cols(customer.filter(F.col("c_custkey") % 20 == 0))
        .withColumn("w", F.lit(1))
        .unionByName(
            b_cols(
                customer.filter(
                    (F.col("c_custkey") % 20 != 0) & (F.col("c_custkey") % 9 == 0)
                )
            ).withColumn("w", F.lit(-1))
        )
    )
    state = (
        a_old.join(b_old, a_old["o_custkey"] == b_old["c_custkey"])
        .drop("c_custkey")
        .groupBy("o_custkey", "o_orderpriority", "c_mktsegment")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    dv = weighted_join_delta(a_old, da, b_old, db, "o_custkey", "c_custkey")
    return (
        served_relation(merge_weighted_relation(state, dv))
        .select("o_custkey", "o_orderpriority", "c_mktsegment", "w")
        .orderBy("o_custkey", "o_orderpriority", "c_mktsegment")
    )


def _stage_epoch_files(epochs, staging: str) -> None:
    """Stage epochs[i] -> {staging}/d{i}.parquet, each exactly ONE flat
    parquet FILE (the file-stream + maxFilesPerTrigger=1 contract), with
    ONE Spark job: the per-epoch coalesce(1) loop paid a job + output
    commit per epoch (~0.2-0.4 s each at sf0.1). Epochs are tagged,
    hash-repartitioned by the tag (every row of one epoch lands in one
    task, so each partition dir holds exactly one part file), written
    partitionBy the tag, and the part files moved to their staged names.
    An epoch with zero rows writes no dir and falls back to a limit(0)
    single-file write so the staged file still pins the schema.

    Staged mtimes are pinned strictly increasing (1 s apart): the file
    stream orders files by modification time, and the sequential-write
    loop used to guarantee distinct mtimes implicitly — the batched
    copies land within one millisecond and would tie, scrambling epoch
    order (caught by the as-of oracle rows: the final net is
    order-independent, snapshots are not)."""
    import glob as _glob
    import os as _os
    import shutil as _sh
    import tempfile
    import time as _time

    tagged = None
    for i, e in enumerate(epochs):
        t = e.withColumn("__stage_epoch", F.lit(int(i)))
        tagged = t if tagged is None else tagged.unionByName(t)
    tmpd = tempfile.mkdtemp(prefix="stage_epochs_")
    (
        tagged.repartition(F.col("__stage_epoch"))
        .write.partitionBy("__stage_epoch")
        .parquet(f"{tmpd}/out")
    )
    now = _time.time()
    for i, e in enumerate(epochs):
        parts = _glob.glob(f"{tmpd}/out/__stage_epoch={i}/part-*.parquet")
        if not parts:  # empty epoch: stage a typed empty file
            etmp = tempfile.mkdtemp(prefix=f"stage_e{i}_")
            e.limit(0).coalesce(1).write.parquet(f"{etmp}/out")
            parts = _glob.glob(f"{etmp}/out/part-*.parquet")
        if len(parts) != 1:  # ADVICE r11 #4: fail loudly, never truncate
            raise AssertionError(
                f"staged epoch {i} split into {len(parts)} part files; "
                "the one-file-per-epoch contract (hash repartition by the "
                "stage tag) no longer holds — fix the staging write"
            )
        staged = f"{staging}/d{i}.parquet"
        _sh.copy(parts[0], staged)
        _os.utime(staged, (now + i, now + i))
    _sh.rmtree(tmpd, ignore_errors=True)


def _stage_ijr_epochs(spark, sf_dir: str, orders):
    """The shared three-epoch weighted fact staging (insert / DELETE /
    insert) for the relation-store streaming rows — the
    jvr/jvrb rows' staging idiom: one flat parquet file per epoch,
    maxFilesPerTrigger=1 pins epoch order."""
    import glob as _glob
    import shutil as _sh
    import tempfile

    cutoff = F.lit(_IJV_CUTOFF).cast("timestamp")
    fact = lambda df, w: df.select(  # noqa: E731
        "o_custkey",
        "o_orderpriority",
        F.lit(w).cast("int").alias("w"),
    )
    post = orders.filter(F.col("o_orderdate") >= cutoff)
    epochs = [
        fact(post.filter(F.col("o_orderkey") % 2 == 0), 1),
        fact(
            orders.filter(
                (F.col("o_orderdate") < cutoff) & (F.col("o_orderkey") % 7 == 0)
            ),
            -1,
        ),
        fact(post.filter(F.col("o_orderkey") % 2 == 1), 1),
    ]
    staging = tempfile.mkdtemp(prefix="ijr_delta_")
    _stage_epoch_files(epochs, staging)
    return staging, epochs[0].schema


def _run_ijr_stream(spark, sf_dir: str):
    """Seed the weighted relation store (pre-cutoff orders ⋈ customer as
    a netted bag), stream the three staged weighted-fact epochs through
    foreach_batch_join_relation_retract_maintain, return the store path."""
    import tempfile

    from ..session import ensure_utc
    from ..streaming.pipeline import (
        foreach_batch_join_relation_retract_maintain,
        seed_weighted_relation_store,
        stream_source,
    )

    ensure_utc(spark)
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    cutoff = F.lit(_IJV_CUTOFF).cast("timestamp")
    target = tempfile.mkdtemp(prefix="stream_ijr_") + "/store"
    a_old = orders.filter(F.col("o_orderdate") < cutoff).select(
        "o_custkey", "o_orderpriority"
    )
    seed = (
        a_old.join(customer, a_old["o_custkey"] == customer["c_custkey"])
        .groupBy("o_custkey", "o_orderpriority", "c_mktsegment")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    seed_weighted_relation_store(seed, target, ["o_custkey"], 8)
    staging, schema = _stage_ijr_epochs(spark, sf_dir, orders)
    src = stream_source(
        spark, staging, schema, watermark=None, max_files_per_trigger=1
    )
    sink = foreach_batch_join_relation_retract_maintain(
        target,
        table_path(sf_dir, "customer"),
        fact_key="o_custkey",
        dim_key="c_custkey",
        dim_cols=["c_mktsegment"],
        bucket_keys=["o_custkey"],
        n_buckets=8,
    )
    (
        src.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_ijr_"))
        .start()
        .awaitTermination()
    )
    return target


@query("streaming_join_relation_retract_maintain", oracle=_IJR_ORACLE_FINAL)
def q_streaming_join_relation_retract_maintain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING maintenance of the join RELATION under retractions —
    the twelfth stored-artifact foreachBatch consumer
    (streaming.pipeline.foreach_batch_join_relation_retract_maintain):
    the stored artifact is the bucketed weighted ROW store (the join
    view as a bag), seeded batch-side, then maintained through THREE
    real epochs (insert / DELETE of already-joined history / insert).
    Each epoch joins only its delta against the broadcast dimension and
    APPENDS the netted changelog as an immutable `epoch=E` subdir —
    per-epoch I/O is O(|delta|), the LSM shape; the serve read nets
    weights across subdirs under a committed-snapshot epoch cap, so the
    final served relation must equal the bag recompute over the
    surviving fact multiset joined to the dimension. Manifest-rollback
    crash protocol and physical churn cancellation at compaction are
    pinned in tests/test_relation_store.py.

    FROZEN BENCH SHAPE: full 3-epoch lifecycle (staging + three
    availableNow runs + serve), the streaming-gate contract."""
    from ..streaming.pipeline import read_weighted_relation_store

    target = _run_ijr_stream(spark, sf_dir)
    return (
        read_weighted_relation_store(spark, target)
        .select("o_custkey", "o_orderpriority", "c_mktsegment", "w")
        .orderBy("o_custkey", "o_orderpriority", "c_mktsegment")
    )


@query(
    "join_relation_read_at",
    oracle=f"""
    WITH survivors AS (
      SELECT o_custkey, o_orderpriority FROM orders
      WHERE (o_orderdate < TIMESTAMP '{_IJV_CUTOFF}'
             AND NOT o_orderkey % 7 = 0)
         OR (o_orderdate >= TIMESTAMP '{_IJV_CUTOFF}' AND o_orderkey % 2 = 0)
    )
    SELECT o_custkey, o_orderpriority, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS w
    FROM survivors JOIN customer ON c_custkey = o_custkey
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
""",
)
def q_join_relation_read_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TRAVEL read of the maintained join relation (VERDICT r10
    next #6, applied to the retract-view store it said this would make
    auditable): after the full three-epoch stream (insert / delete /
    insert) the store is served AS OF EPOCH 1 — the snapshot cap is a
    partition filter over the immutable epoch subdirs, so the read is
    bit-equal to a batch build over epochs <= 1 (seed + even-orderkey
    inserts + the % 7 deletes) even though epoch 2's subdirs are
    PRESENT in the store. Reproducible training-data snapshots are the
    LLM-pipeline consumer's core audit need; reads below the compaction
    horizon refuse honestly (pinned in tests/test_relation_store.py).

    Plan (100 TB): the epoch cap prunes at the directory level before
    any file I/O — time travel costs the same as a current-snapshot
    read over the same epochs."""
    from ..streaming.pipeline import read_weighted_relation_store

    target = _run_ijr_stream(spark, sf_dir)
    return (
        read_weighted_relation_store(spark, target, as_of_epoch=1)
        .select("o_custkey", "o_orderpriority", "c_mktsegment", "w")
        .orderBy("o_custkey", "o_orderpriority", "c_mktsegment")
    )


@query(
    "join_relation_diff",
    oracle=f"""
    WITH s0 AS (
      SELECT o_custkey, o_orderpriority FROM orders
      WHERE o_orderdate < TIMESTAMP '{_IJV_CUTOFF}'
         OR (o_orderdate >= TIMESTAMP '{_IJV_CUTOFF}' AND o_orderkey % 2 = 0)
    ),
    s2 AS (
      SELECT o_custkey, o_orderpriority FROM orders
      WHERE (o_orderdate < TIMESTAMP '{_IJV_CUTOFF}'
             AND NOT o_orderkey % 7 = 0)
         OR o_orderdate >= TIMESTAMP '{_IJV_CUTOFF}'
    ),
    b0 AS (
      SELECT o_custkey, o_orderpriority, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM s0 JOIN customer ON c_custkey = o_custkey GROUP BY 1, 2, 3
    ),
    b2 AS (
      SELECT o_custkey, o_orderpriority, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM s2 JOIN customer ON c_custkey = o_custkey GROUP BY 1, 2, 3
    )
    SELECT COALESCE(b2.o_custkey, b0.o_custkey) AS o_custkey,
           COALESCE(b2.o_orderpriority, b0.o_orderpriority) AS o_orderpriority,
           COALESCE(b2.c_mktsegment, b0.c_mktsegment) AS c_mktsegment,
           CAST(COALESCE(b2.w, 0) - COALESCE(b0.w, 0) AS BIGINT) AS w
    FROM b2 FULL OUTER JOIN b0
      ON b2.o_custkey = b0.o_custkey
     AND b2.o_orderpriority = b0.o_orderpriority
     AND b2.c_mktsegment = b0.c_mktsegment
    WHERE COALESCE(b2.w, 0) <> COALESCE(b0.w, 0)
    ORDER BY 1, 2, 3
""",
)
def q_join_relation_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT DIFF of the maintained join relation — the net changelog
    between as-of(0) and as-of(2) served as a z-set
    (streaming.pipeline.read_weighted_relation_diff): the epoch subdirs
    ARE the per-epoch net deltas, so the diff is one partition-pruned
    read of exactly epochs 1..2 (the DELETE epoch's -w join bags and the
    odd-orderkey insert epoch's +w bags, netted) — neither snapshot is
    computed, standing bucket bytes outside the range never scanned.
    Oracle: the SEMANTIC contract proven independently — the full
    recompute of BOTH snapshot bags full-outer-joined and subtracted
    (diff == as_of(2) − as_of(0), row for row, including negative
    weights for departed rows). The "what changed between training-data
    version A and B" audit; the DBSP output delta downstream views chain
    on instead of re-reading the relation."""
    from ..streaming.pipeline import read_weighted_relation_diff

    target = _run_ijr_stream(spark, sf_dir)
    return (
        read_weighted_relation_diff(spark, target, 0, 2)
        .select("o_custkey", "o_orderpriority", "c_mktsegment", "w")
        .orderBy("o_custkey", "o_orderpriority", "c_mktsegment")
    )
