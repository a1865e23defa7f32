"""ETL operators exposed as oracle-checkable queries.

Each query stages a deterministic 'existing table' + 'increment' out of
the driver's test tables, applies an etl/ operator, and is mirrored by
ANSI SQL in ``ETL_ORACLES`` — so the MERGE/keep-latest/FK/hierarchy
semantics themselves are under the differential gate, not just unit
tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tinyerp_etl_spark.etl.merge import (
    keep_latest,
    merge_upsert,
    set_null_on_missing_parent,
)
from tinyerp_etl_spark.functions.materialize import materialize, sort_after_pin
from tinyerp_etl_spark.functions.exact import cents, sum_cents, sum_exact
from tinyerp_etl_spark.operators.hierarchy import ancestor_closure
from tinyerp_etl_spark.sources.catalog import load_table


def _persist_result(df: DataFrame, name: str) -> DataFrame:
    """Materialize a query result whose inputs live in a temp scratch
    dir that is deleted before the caller consumes the DataFrame.

    Distributed write to the session warehouse + read back — rows never
    round-trip through the driver (the old ``collect()`` +
    ``createDataFrame`` pattern would funnel the whole result through
    driver memory, a non-starter for anything data-scale). Overwrite
    keeps repeated runs idempotent.
    """
    spark = df.sparkSession
    wh = spark.conf.get("spark.sql.warehouse.dir")
    path = f"{wh}/_query_results/{name}"
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def merge_upsert_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE by key (op #14): incoming wins, survivors keep, inserts land.

    existing = even event_ids (gen 1); increment = event_ids divisible
    by 3, with shifted values (gen 2). Equivalent to the reference's
    ``INSERT ... ON CONFLICT DO UPDATE`` (ref tiny_api_v2_cliente.py:
    122-123) applied to a batch.
    """
    ev = load_table(spark, sf_dir, "events")
    existing = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "value", F.lit(1).alias("gen")
    )
    incoming = ev.filter(F.col("event_id") % 3 == 0).select(
        "event_id", (F.col("value") + 1000).alias("value"), F.lit(2).alias("gen")
    )
    return merge_upsert(existing, incoming, ["event_id"]).orderBy("event_id")


def keep_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keep-latest dedupe (op #14's window): newest event per user."""
    ev = load_table(spark, sf_dir, "events")
    return keep_latest(
        ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    ).select("user_id", "event_id", "ts", "event_type").orderBy("user_id")


def set_null_missing_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ON DELETE SET NULL semantics (ref :83): parent subset → FK nulled.

    Parents restricted to r_regionkey < 3 simulate deleted regions;
    nations pointing at them keep the row, lose the FK.
    """
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_regionkey") < 3)
    return (
        set_null_on_missing_parent(nation, region, "n_regionkey", "r_regionkey")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    )


def hierarchy_closure_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point ancestor closure vs a recursive-CTE oracle.

    A deterministic tree derived from part keys (parent = key/10, roots
    < 10) — the engine's recursive-hierarchy answer (category tree, ref
    :33, :83) checked against DuckDB's WITH RECURSIVE.
    """
    part = load_table(spark, sf_dir, "part")
    edges = part.select(
        F.col("p_partkey").alias("id"),
        F.when(F.col("p_partkey") >= 10, F.floor(F.col("p_partkey") / 10))
        .alias("parent_id"),
    )
    return (
        ancestor_closure(edges, "id", "parent_id")
        .select(
            "node_id",
            "root_id",
            F.col("depth").cast("int").alias("depth"),
        )
        .orderBy("node_id")
    )


def watermark_resolution_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark decision chain (ops #21-25) as one oracle-checked query.

    Stages one scenario per event_type process: stored watermark (+1s
    exclusive bound, ref tiny_api_v2_cliente.py:113), ancient stored
    watermark (60-day clamp kicks in, ref :164-167), synthetic
    bootstrap from MAX(business date) + 1 day at midnight (ref
    :146-158, :172-177), and the fixed-29-day cold start (ref
    :330-331). "now" is pinned so both engines resolve identically;
    the expression chain mirrors etl/watermark.resolve_filter_timestamp.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(F.max("ts").alias("mx"))
    # 5 control rows — the global window is deliberate (not a data path)
    staged = agg.withColumn("od", F.row_number().over(Window.orderBy("event_type")))
    now = F.lit("2024-03-15 12:00:00").cast("timestamp")
    stored = (
        F.when(F.col("od") % 4 == 0, F.col("mx"))
        .when(F.col("od") % 4 == 3, F.col("mx") - F.expr("INTERVAL 400 DAYS"))
    )
    maxb = F.when(F.col("od") % 4 == 1, F.col("mx"))
    clamp_floor = now - F.expr("INTERVAL 60 DAYS")
    resolved = (
        F.when(stored.isNotNull(), F.greatest(stored + F.expr("INTERVAL 1 SECOND"), clamp_floor))
        .when(
            maxb.isNotNull(),
            F.greatest(F.date_trunc("day", maxb) + F.expr("INTERVAL 1 DAY"), clamp_floor),
        )
        .otherwise(now - F.expr("INTERVAL 29 DAYS"))
    )
    scenario = (
        F.when(F.col("od") % 4 == 0, F.lit("stored"))
        .when(F.col("od") % 4 == 1, F.lit("synthetic"))
        .when(F.col("od") % 4 == 2, F.lit("cold_start_29"))
        .otherwise(F.lit("stored_clamped"))
    )
    return staged.select(
        F.col("event_type").alias("process"),
        scenario.alias("scenario"),
        resolved.alias("resolved_filter_ts"),
    ).orderBy("process")


def hierarchy_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over every subtree via the ancestor closure.

    The hierarchy analog of a hypertable rollup: total retail price and
    node count per root category, depth of the deepest descendant —
    closure (iterative self-join) ⋈ fact, checked against a recursive
    CTE + join oracle.
    """
    from tinyerp_etl_spark.functions.exact import sum_cents

    part = load_table(spark, sf_dir, "part")
    edges = part.select(
        F.col("p_partkey").alias("id"),
        F.when(F.col("p_partkey") >= 10, F.floor(F.col("p_partkey") / 10))
        .alias("parent_id"),
    )
    closure = ancestor_closure(edges, "id", "parent_id")
    return (
        closure.join(part, closure.node_id == part.p_partkey)
        .groupBy("root_id")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            sum_cents("p_retailprice").alias("subtree_retail"),
            F.max("depth").cast("int").alias("max_depth"),
        )
        .orderBy("root_id")
    )


def skew_salted_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation via salting + two-phase distinct (5 keys,
    100k+ rows — the skew shape).

    Results are identical to the naive groupBy (the oracle IS the
    naive SQL); what's under test is that the skew-safe formulation
    stays correct. Values aggregate in exact cents.
    """
    from tinyerp_etl_spark.functions.skew import salted_sum, two_phase_distinct

    ev = load_table(spark, sf_dir, "events")
    value_cents = F.round(F.col("value") * 100).cast("long")
    sums = salted_sum(ev, ["event_type"], value_cents, "sum_value_cents")
    distinct = two_phase_distinct(ev, ["event_type"], "user_id", "n_users")
    return (
        sums.join(distinct, "event_type")
        .select(
            "event_type",
            (F.col("sum_value_cents") / 100.0).cast("double").alias("sum_value"),
            "n_rows",
            "n_users",
        )
        .orderBy("event_type")
    )


def nested_flatten_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-flattening semantics (op #12) as a nest → explode round-trip.

    Builds the nested shape the reference's API returns (order header
    with an ``itens`` array of item structs, ref pedido.obter endpoint
    :38, README.md:11), then flattens it back with explode + struct
    field access — the exact load path of ``pedido_itens``. The oracle
    reads the flat rows directly, so the round-trip must be lossless.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    nested = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct("l_linenumber", "l_quantity", "l_extendedprice")
            )
        ).alias("itens")
    )
    return (
        nested.select("l_orderkey", F.explode("itens").alias("item"))
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("item.l_linenumber").alias("linenumber"),
            F.col("item.l_quantity").alias("quantity"),
            F.col("item.l_extendedprice").alias("extendedprice"),
        )
        .orderBy("orderkey", "linenumber")
    )


def incremental_pipeline_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL incremental sync (ops #21-29) under the hash gate.

    Runs the real pipeline — watermark resolution, page checkpoint,
    paginated source, per-page MERGE into the versioned TableStore,
    watermark commit — over three deterministic event "pages":
    page p carries the events with event_id ≡ p−1 (mod 3) plus an
    updated version (value + 1000·p) of every event_id ≡ 0 (mod 5).
    Later pages overwrite earlier ones per key, so the final table is
    SQL-expressible: id ≡ 0 (mod 5) rows end at value + 3000, all
    others keep their original value. Scratch state lives in a temp
    dir; the query returns the committed table.
    """
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from tinyerp_etl_spark.etl.checkpoint import PageCheckpoint
    from tinyerp_etl_spark.etl.pipeline import EntitySync, run_entity_sync
    from tinyerp_etl_spark.etl.table_store import TableStore
    from tinyerp_etl_spark.etl.watermark import WatermarkStore

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")

    def source(filter_ts, page):
        if page > 3:
            return None, 3
        normal = ev.filter(F.col("event_id") % 3 == page - 1).select(
            "event_id", "value", F.lit(page * 2).alias("gen")
        )
        updated = ev.filter(F.col("event_id") % 5 == 0).select(
            "event_id",
            (F.col("value") + 1000 * page).alias("value"),
            F.lit(page * 2 + 1).alias("gen"),
        )
        return normal.unionByName(updated), 3

    scratch = tempfile.mkdtemp(prefix="pipeline_q_")
    try:
        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("gen", T.IntegerType()),
            ]
        )
        store = TableStore(spark, f"{scratch}/events", schema)
        sync = EntitySync(
            name="events_demo",
            source=source,
            store=store,
            keys=["event_id"],
            order_by=[F.col("gen").desc()],
        )
        result = run_entity_sync(
            spark,
            sync,
            WatermarkStore(spark, f"{scratch}/wm.json"),
            PageCheckpoint(spark, f"{scratch}/ckpt.json"),
        )
        assert result.status == "CONCLUIDO", result
        # materialize (distributed) before the scratch dir disappears
        rows = store.read().select("event_id", "value")
        return _persist_result(rows, "incremental_pipeline_events")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: JSON string column → typed rollup.

    The reference's entire input is JSON (ref resp.json() :246); here
    the in-row variant: events.props is a JSON string, parsed with an
    EXPLICIT schema via from_json (no inference, engine policy —
    sources/catalog.py) and aggregated. Parsing is a map-side scalar
    expression; nothing extra shuffles.
    """
    from pyspark.sql import types as T

    ev = load_table(spark, sf_dir, "events")
    props_schema = T.StructType([T.StructField("k", T.LongType())])
    parsed = ev.select(
        "event_type",
        F.from_json(F.col("props"), props_schema)["k"].alias("k"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count("k").alias("n_parsed"),
            (F.sum("k") / F.count("k")).cast("double").alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction via VariantType (Spark 4).

    The schema-on-read twin of json_props_rollup: parse_json gives a
    binary variant (no up-front schema), try_variant_get extracts
    typed paths lazily. At 100 TB this is the right default for
    heterogeneous props — the variant encodes once, every downstream
    path extraction is a cheap binary probe instead of a re-parse,
    and unknown keys don't force schema migrations.
    """
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    parsed = ev.select(
        "event_type",
        F.try_variant_get(v, "$.k", "long").alias("k"),
        F.try_variant_get(v, "$.missing", "long").alias("missing"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count("k").alias("n_k"),
            F.count("missing").alias("n_missing"),
        )
        .orderBy("event_type")
    )


def asof_purchase_to_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase ↔ the same user's latest view ≤ its ts.

    Spark has no native ASOF JOIN; operators/temporal.asof_join builds
    it from union + one keyed window (single shuffle, no join
    explosion). The oracle is DuckDB's NATIVE ASOF LEFT JOIN — the
    composition must reproduce the real operator's semantics exactly.
    Views are deduped to one per (user, ts) first so tied timestamps
    are deterministic in both engines.
    """
    from tinyerp_etl_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        purchases, views, key="user_id", probe_ts="ts", ref_ts="ts",
        ref_cols=["view_id"],
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_ts").alias("view_ts"),
        F.col("asof_view_id").alias("view_id"),
        (F.unix_timestamp("ts") - F.unix_timestamp("asof_ts"))
        .cast("long")
        .alias("gap_seconds"),
    ).orderBy("event_id")


def range_join_event_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: per-user ordered event pairs within 5 minutes.

    The bucket-prejoin keeps candidate pairs equi-joinable (each row
    meets only its own and the adjacent time bucket); the oracle uses
    the plain inequality join, which only DuckDB can afford at test
    scale — at 100 TB the theta-join is exactly what this operator
    avoids.
    """
    from tinyerp_etl_spark.operators.temporal import range_join_pair_counts

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    return range_join_pair_counts(
        ev, key="user_id", ts_col="ts", id_col="event_id", window_seconds=300
    ).orderBy("user_id")


def longest_active_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's longest consecutive-day streak.

    The classic islands trick: within a user's sorted distinct active
    days, ``day − row_number()`` is constant across a consecutive run,
    so grouping on it isolates each island without self-joins or
    iteration — two aggregates and one window, all on the user_id key.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.unix_date(F.to_date("ts")).alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = act.withColumn("grp", F.col("day") - F.row_number().over(w))
    streaks = islands.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.sum("streak_len").alias("n_active_days"),
            F.max("streak_len").alias("longest_streak"),
        )
        .orderBy("user_id")
    )


def fuzzy_match_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: blocked Levenshtein matching of noisy names.

    Stages a typo'd copy of every 37th customer name (last char
    mutated), then matches it back: block on the 15-char name prefix
    so candidate pairs stay tiny (the staged side also broadcasts),
    and exact-verify with edit distance <= 1. The block-then-verify
    shape is the same candidate/verify discipline as LSH near-dup —
    the blocking key is what makes fuzzy joins feasible at scale (a
    raw levenshtein theta-join is quadratic).
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    noisy = cust.filter(F.col("c_custkey") % 37 == 0).select(
        (F.col("c_custkey") + 1_000_000).alias("noisy_key"),
        F.concat(
            F.substring("c_name", 1, 17), F.lit("X")
        ).alias("noisy_name"),
    )
    block = cust.withColumn("blk", F.substring("c_name", 1, 15))
    noisy_b = noisy.withColumn("blk", F.substring("noisy_name", 1, 15))
    return (
        block.join(F.broadcast(noisy_b), "blk")
        .withColumn("lev", F.levenshtein("c_name", "noisy_name"))
        .filter(F.col("lev") <= 1)
        .select("c_custkey", "noisy_key", "lev")
        .transform(lambda d: sort_after_pin(d, "c_custkey", "noisy_key"))
    )


def cohort_retention_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users active N days after their first day.

    The dashboard staple over an event log: cohort = a user's first
    active day (linearized as epoch days so offsets are plain integer
    subtraction — identical arithmetic in both engines), cell =
    distinct users from that cohort active at each day offset. Two
    aggregates on the user_id key plus one on the (cohort, offset)
    pair; the per-user reduction happens before the small cohort-grid
    shuffle. Day grain because the test events span one month; the
    same shape rolls up to weeks/months on longer logs.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.unix_date(F.to_date("ts")).alias("day")
    act = ev.select("user_id", day).distinct()
    first = act.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        act.join(first, "user_id")
        .groupBy(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset")
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


def copurchase_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket: top-20 part pairs co-occurring in one order.

    The co-occurrence self-join, bounded by basket size (pairs per
    order grow quadratically in its line count, not in table size):
    distinct (order, part) → equi-self-join on the order key with
    part_a < part_b to emit each unordered pair once → count, total
    order (count desc, then pair) → deterministic top-20.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(20)
    )


def attribution_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch face of the streaming attribution join: every
    (view, purchase) pair for the same user where the purchase lands
    within 1 hour after the view, with the latency in exact
    microseconds (sub-second truncation differs between a seconds
    cast and epoch(); unix_micros is exact on both engines).

    The SAME join predicate runs as a true stream-stream join in
    streaming/stream_pipeline.py:attribution_stream_stream_join
    (watermarks bound the buffered state there; the stream==batch and
    restart tests in tests/test_streaming.py pin the equivalence) —
    this is the lambda-architecture collapse: one line of SQL answers
    the backfill and the live query. Plan shape: an equi-join on
    user_id with the time-range as a post-join predicate — Spark
    hashes on the equi key, so this is NOT a theta join; the range
    only filters matched pairs.
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return (
        v.join(
            p,
            F.expr(
                "v_user = p_user AND purchase_ts > view_ts "
                "AND purchase_ts <= view_ts + INTERVAL 1 HOUR"
            ),
        )
        .select(
            F.col("v_user").alias("user_id"),
            "view_id",
            "purchase_id",
            (
                F.unix_micros("purchase_ts") - F.unix_micros("view_ts")
            ).alias("latency_us"),
        )
        .orderBy("view_id", "purchase_id")
    )


def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the co-purchase graph — the classic
    graph-motif shape (community detection, recommendation clustering)
    as three relational self-joins, no graph library.

    Edges: part pairs co-occurring in >= 2 orders (the support
    threshold sparsifies a dense co-occurrence graph the way real
    market-basket analyses do). Every edge is stored once with
    part_a < part_b, so chaining e1(a,b) ⨝ e2(b,c) ⨝ e3(a,c) yields
    each triangle exactly once with a < b < c — no permutation dedup
    needed. Scale shape: the pair join is bounded per-order by basket
    size; the triangle join's fan-out is bounded by the support
    threshold (a hub vertex of degree d contributes O(d²) wedge
    candidates — raising min support is the standard mitigation, and
    the count-window cap doctrine applies to the wedge join if a
    corpus needs it). All-integer output, deterministic total order.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
    )
    # pin the edge list: it feeds all THREE join legs below, each of
    # which replayed the lineitem self-join + support filter
    # (optimization round 14, guide §5; A/B at sf0.1 2.41 → 2.09 s
    # min-of-3, 10.9 → 4.2 cold, identical triangles)
    edges = materialize(edges)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    return (
        e1.join(e2, F.col("e1.pb") == F.col("e2.pa"))
        .join(
            e3,
            (F.col("e1.pa") == F.col("e3.pa")) & (F.col("e2.pb") == F.col("e3.pb")),
        )
        .select(
            F.col("e1.pa").alias("part_a"),
            F.col("e1.pb").alias("part_b"),
            F.col("e2.pb").alias("part_c"),
        )
        .orderBy("part_a", "part_b", "part_c")
    )


def time_travel_orders_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-table reads (time travel) + compaction under the gate.

    Stages a TableStore through three commits — base load (orders with
    o_orderkey ≡ 0..4 mod 10), an upsert (price +1000 for keys ≡ 0,1
    mod 10; new rows for keys ≡ 5,6), then a delete of keys ≡ 0 — and
    reads EVERY retained version back, emitting per-version row counts
    and exact sums. Compaction runs between reads to prove old layouts
    stay readable. The oracle recomputes each version's state closed-
    form from the staging rules, so the version pointer, MERGE, delete,
    and compaction semantics are all hash-checked (ops #14d/#14f,
    previously tests-only).
    """
    import shutil
    import tempfile

    from tinyerp_etl_spark.etl.merge import merge_upsert
    from tinyerp_etl_spark.etl.table_store import TableStore

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base = orders.filter(F.col("o_orderkey") % 10 < 5)
    updates = orders.filter(F.col("o_orderkey") % 10 < 2).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000.0
    )
    inserts = orders.filter(
        (F.col("o_orderkey") % 10 >= 5) & (F.col("o_orderkey") % 10 < 7)
    )
    scratch = tempfile.mkdtemp(prefix="timetravel_q_")
    try:
        store = TableStore(spark, f"{scratch}/orders_tt", base.schema)
        store.commit(base)
        store.commit(
            merge_upsert(store.read(), updates.unionByName(inserts), ["o_orderkey"])
        )
        store.commit(store.read().filter(F.col("o_orderkey") % 10 != 0))
        store.compact()
        out = None
        for v in store.versions():
            agg = (
                store.read_version(v)
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    sum_cents("o_totalprice").alias("sum_price"),
                )
                .select(F.lit(v).cast("int").alias("version"), "*")
            )
            out = agg if out is None else out.unionByName(agg)
        return _persist_result(out.orderBy("version"), "time_travel_orders_versions")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def zorder_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered write + 2-D predicate read-back, hash-gated.

    Stages orders into a TableStore clustered by the Morton key of
    (quantized custkey, quantized order epoch-day) —
    functions/zorder.py, pure codegen bit ops — then answers a
    two-dimensional range predicate (customer band x one year) from
    the clustered table, per order year. The oracle computes the same
    aggregate straight from the raw table, so the clustered write +
    read round-trip is hash-checked end-to-end (lossless layout,
    filter correctness); the data-SKIPPING effect itself (tight
    per-file footer stats on BOTH dimensions) is pinned by
    tests/test_zorder.py. Quantization bounds come from a 1-row
    control-plane aggregate; they shape the layout only, never the
    result.
    """
    import shutil
    import tempfile

    from tinyerp_etl_spark.etl.table_store import TableStore
    from tinyerp_etl_spark.functions.zorder import zorder_key

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    b = o.agg(
        F.min("o_custkey").alias("cmin"),
        F.max("o_custkey").alias("cmax"),
        F.min(F.unix_timestamp("o_orderdate")).alias("dmin"),
        F.max(F.unix_timestamp("o_orderdate")).alias("dmax"),
    ).first()
    qc = (
        (F.col("o_custkey") - b.cmin) * 65535 / F.lit(max(b.cmax - b.cmin, 1))
    ).cast("long")
    qd = (
        (F.unix_timestamp("o_orderdate") - b.dmin)
        * 65535
        / F.lit(max(b.dmax - b.dmin, 1))
    ).cast("long")
    scratch = tempfile.mkdtemp(prefix="zorder_q_")
    try:
        store = TableStore(spark, f"{scratch}/orders_z", o.schema)
        store.commit(o, n_files=8, cluster_by=[zorder_key(qc, qd)])
        out = (
            store.read()
            .filter(
                F.col("o_custkey").between(100, 400)
                & (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            )
            .groupBy(F.year("o_orderdate").alias("o_year"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                sum_cents("o_totalprice").alias("sum_price"),
            )
            .orderBy("o_year")
        )
        return _persist_result(out, "zorder_clustered_scan")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located fact-fact join under the hash gate.

    Stages orders and lineitem as tables bucketed (and sorted) on the
    order key — the layout that makes every future header/detail join
    shuffle-free at 100 TB (the dominant cost of the workload's
    fact-fact joins; plan-level proof that the Exchange disappears is
    tests/test_bucketing.py) — then answers a per-status revenue
    rollup from the bucketed copies. The oracle computes the same
    rollup from the raw tables, so the bucketed write + read
    round-trip (hash distribution, sorted buckets, table metadata) is
    differentially checked end-to-end, not just plan-asserted.
    """
    import shutil
    import tempfile

    scratch = tempfile.mkdtemp(prefix="bucketed_q_")
    try:
        # repartition onto the bucket hash BEFORE the bucketed write
        # (optimization round 14, guide §6): repartition(n, key) uses
        # the same Murmur3 hash pmod n as the bucket assignment, so
        # each write task owns exactly one bucket — one local sort
        # per bucket instead of every input task sorting and writing
        # its slice of all 8 buckets (measured 3.3 → 1.9 s warm for
        # the staged round-trip at sf0.1; same 8 files per table,
        # same query result — the layout is the gated artifact and
        # is unchanged)
        (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderstatus")
            .repartition(8, "o_orderkey")
            .write.mode("overwrite")
            .bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", f"{scratch}/orders_bg")
            .saveAsTable("orders_bucket_gate")
        )
        (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_extendedprice", "l_discount")
            .repartition(8, "l_orderkey")
            .write.mode("overwrite")
            .bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", f"{scratch}/lineitem_bg")
            .saveAsTable("lineitem_bucket_gate")
        )
        o = spark.table("orders_bucket_gate")
        li = spark.table("lineitem_bucket_gate")
        rev_e4 = cents("l_extendedprice") * (100 - cents("l_discount"))
        out = (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                (sum_exact(rev_e4) / F.lit(1e4)).cast("double").alias("revenue"),
            )
            .orderBy("o_orderstatus")
        )
        return _persist_result(out, "bucketed_join_revenue")
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_bucket_gate")
        spark.sql("DROP TABLE IF EXISTS lineitem_bucket_gate")
        shutil.rmtree(scratch, ignore_errors=True)


def copurchase_pagerank_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 iterations) over the co-purchase part graph.

    The iterative-algorithm showcase: edges are part pairs co-bought in
    ≥2 orders (symmetric), and operators/graph.py runs the fixed-round
    integer-tick PageRank — one shuffle per iteration, bit-exact against
    an unrolled 3-CTE SQL oracle. Top 25 parts by influence.
    """
    from tinyerp_etl_spark.operators.graph import pagerank_fixed

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
    )
    # pin the edge derivation (optimization round 14, guide §5 /
    # pagerank_fixed's own docstring): the lineitem self-join +
    # support filter is replicated into the degree, node, and every
    # iteration subtree — ~7 replays per action. materialize() here
    # runs it once; interleaved A/B at sf0.1 5.22 → 4.03 s min-of-3
    # (12.3 → 4.5 cold), identical top-25.
    edges = materialize(
        pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
            pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
        )
    )
    return (
        pagerank_fixed(edges, iterations=3)
        .orderBy(F.col("pr").desc(), "node")
        .limit(25)
    )


def incremental_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized monthly-revenue rollup maintained from 3 increments.

    etl/rollup.py: the orders table arrives as three disjoint
    increments (o_orderkey mod 3); each is folded into partial state
    (exact integer cents) and merged by key. The oracle recomputes the
    aggregate directly from the full table — the differential gate IS
    the incremental ≡ full-recompute law, at the gate's scale.
    """
    from tinyerp_etl_spark.etl.rollup import (
        merge_rollup,
        rollup_increment,
        rollup_view,
    )

    o = load_table(spark, sf_dir, "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    keys = ["o_orderstatus", "order_month"]
    state = None
    for i in range(3):
        inc = o.filter(F.col("o_orderkey") % 3 == i)
        state = merge_rollup(state, rollup_increment(inc, keys, "o_totalprice"), keys)
    return rollup_view(state).orderBy("o_orderstatus", "order_month")


def sessionize_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: 30-minute-inactivity sessions per user.

    The classic event-log idiom (the batch twin of the streaming
    session_window aggregate, which is oracle-checked separately):
    lag() marks a session boundary whenever the gap exceeds the
    timeout, a running sum of boundary markers numbers the sessions,
    then one groupBy yields per-session stats. Two windows + one agg,
    all partitioned by user_id — a single shuffle end-to-end.
    Microsecond integer arithmetic (unix_micros/epoch_us) keeps both
    engines exact.
    """
    from pyspark.sql.window import Window

    gap_us = 30 * 60 * 1_000_000
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 300)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    marked = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
    ).withColumn(
        "new_sess",
        (
            F.col("ts_us") - F.lag("ts_us").over(w) > gap_us
        ).cast("int"),
    )
    numbered = marked.withColumn(
        "session_seq",
        F.coalesce(
            F.sum(F.coalesce(F.col("new_sess"), F.lit(1))).over(
                Window.partitionBy("user_id")
                .orderBy("ts_us", "event_id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
            F.lit(1),
        ),
    )
    return (
        numbered.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts_us").alias("started_us"),
            F.max("ts_us").alias("ended_us"),
            (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
        )
        .orderBy("user_id", "session_seq")
    )


def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion: view → click → purchase per user.

    Stage k+1 only counts if it happens at-or-after the user's stage-k
    first touch, so each stage is a per-user aggregate joined back to
    the event stream — three aggregates on the same user_id key (AQE
    reuses the exchange). Output is one corpus-level row of stage
    counts + conversion ratios.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    views = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t_view")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .join(views, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        views.join(clicks, "user_id", "left")
        .join(purchases, "user_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_viewed"),
            F.count("t_click").alias("n_clicked"),
            F.count("t_purchase").alias("n_purchased"),
            (F.count("t_click") / F.count(F.lit(1)))
            .cast("double")
            .alias("view_to_click"),
            (F.count("t_purchase") / F.count("t_click"))
            .cast("double")
            .alias("click_to_purchase"),
        )
    )


def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV cardinality sketch per event_type vs exact distinct count.

    The deterministic sketch (operators/sketch.py): k=64 minimum
    md5-hashes per group; the estimate formula is pure order/integer
    arithmetic so — unlike HyperLogLog — it hash-matches across
    engines.
    """
    from tinyerp_etl_spark.operators.sketch import kmv_distinct_estimate

    ev = load_table(spark, sf_dir, "events")
    return kmv_distinct_estimate(ev, "event_type", "user_id", k=64).orderBy(
        "event_type"
    )


def scd2_user_event_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history of each user's event_type attribute.

    The reference keeps only the latest value per key (Type-1 upsert,
    ref tiny_api_v2_cliente.py:122-123); this derives the Type-2
    effectivity intervals its dashboard model would want, via
    etl/merge.py:scd2_from_changelog (two windows, one shuffle).
    Restricted to user_id < 100 to bound the differential payload; the
    operator itself is partitioned per key and scales with the log.
    """
    from tinyerp_etl_spark.etl.merge import scd2_from_changelog

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    return scd2_from_changelog(
        ev, key="user_id", attr="event_type", ts_col="ts", tiebreak="event_id"
    ).orderBy("user_id", "version")


def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasketches HLL distinct-users per event_type, hash-gated via a
    deterministic within-bound contract.

    hll_sketch_agg is JVM-native and mergeable (register-max is
    commutative, so the estimate is partition-order invariant — unit
    test pins this plus the error bound), and the sketch column itself
    can be stored per-partition and re-merged later for rollups.

    DuckDB's approx_count_distinct is a DIFFERENT HLL implementation,
    so the raw estimate can't be oracle-matched — but for a fixed input
    and lgK the Spark estimate is deterministic, so the derived boolean
    ``within_bound = |approx - exact| <= ceil(exact / 20)`` (a 5%
    envelope, integer arithmetic) is a stable value the oracle
    reproduces as TRUE. That makes the slot a real hash check instead
    of a rows-only one; kmv_distinct_users remains the fully
    exact-matched sketch twin.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("approx"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx") - F.col("exact_users"))
                <= F.expr("(exact_users + 19) div 20")
            ).alias("within_bound"),
        )
        .orderBy("event_type")
    )


def kmv_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-day KMV sketches merged per type.

    The 100 TB rollup pattern (the reference's dashboard model implies
    pre-aggregated rollups; ref tiny_api_v2_cliente.py README.md:3):
    persist one bounded sketch row per (event_type, day), then answer
    ANY coarser distinct-count grain — weekly, all-time, cross-type —
    by merging sketches, never rescanning the raw fact. KMV's merge is
    exact-reproducible (merged sketch == sketch of the union, see
    operators/sketch.py:kmv_merge_estimate), so unlike HLL this
    two-level path sits under the full hash gate: the oracle builds
    the sketch straight from raw events and must land on the same
    kth-min hash and estimate the daily-merge path produces.
    """
    from tinyerp_etl_spark.operators.sketch import (
        kmv_merge_estimate,
        kmv_sketches,
    )

    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = kmv_sketches(ev, ["event_type", "day"], "user_id", k=64)
    merged = kmv_merge_estimate(daily, ["event_type"], k=64)
    n_days = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    return (
        merged.join(n_days, "event_type")
        .select("event_type", "n_days", "n_kept", "kth_min_hash", "n_estimate")
        .orderBy("event_type")
    )


def hll_union_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native-HLL twin of kmv_sketch_rollup: daily hll_sketch_agg
    sketches re-merged with hll_union_agg, then estimated.

    Demonstrates the JVM datasketches path for the same
    persist-fine/merge-coarse pattern: register-wise max is
    associative and commutative, so the merged estimate is identical
    to the direct single-pass sketch — which is why the same
    deterministic 5% within-bound contract used by hll_distinct_users
    stays hash-checkable here (DuckDB can't reproduce the estimate,
    but it can verify the bound).
    """
    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id").alias("day_sketch")
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("day_sketch")).alias("approx")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx") - F.col("exact_users"))
                <= F.expr("(exact_users + 19) div 20")
            ).alias("within_bound"),
        )
        .orderBy("event_type")
    )


def replace_order_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detail-table replacement (ref search_pedidos_v2 contract).

    existing = all lineitems of even orders; increment = re-fetched
    items for orders ≡ 0 (mod 4) carrying ONLY line numbers ≤ 2 (the
    order shrank). replace_children must drop the stale higher line
    numbers of replaced orders — a keyed upsert would leak them — while
    orders absent from the increment (line numbers are random in this
    data; some mod-4 orders have none ≤ 2) keep their rows untouched.
    """
    from tinyerp_etl_spark.etl.merge import replace_children

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    existing = li.filter(F.col("l_orderkey") % 2 == 0).withColumn("gen", F.lit(1))
    incoming = (
        li.filter((F.col("l_orderkey") % 4 == 0) & (F.col("l_linenumber") <= 2))
        .withColumn("gen", F.lit(2))
    )
    return replace_children(existing, incoming, "l_orderkey").orderBy(
        "l_orderkey", "l_linenumber"
    )


def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC diff between two staged order snapshots.

    old = all orders; new = orders minus keys ≡ 0 (mod 3) [deletes],
    with totalprice +1 for keys ≡ 0 (mod 5) [updates], plus clones
    shifted by 10M for keys ≡ 0 (mod 7) [inserts]. The diff aggregate
    has a closed SQL form per op; sums are cents-exact.
    """
    from tinyerp_etl_spark.etl.merge import snapshot_diff

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    survivors = o.filter(F.col("o_orderkey") % 3 != 0)
    new = (
        survivors.withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 7 == 0).select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                "o_totalprice",
            )
        )
    )
    diff = snapshot_diff(o, new, ["o_orderkey"])
    return (
        diff.groupBy("op")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (
                F.sum(
                    F.round(
                        F.coalesce(
                            F.col("new_values.o_totalprice"),
                            F.col("old_values.o_totalprice"),
                        )
                        * 100
                    ).cast("long")
                )
                / 100.0
            )
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("op")
    )


def file_format_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV + JSONL + ORC round-trip under the hash gate (format parity).

    Writes orders through each flat-file format with pinned schemas
    (sources/files.py), reads it back, and aggregates per format. The
    oracle computes the same aggregate straight from parquet for both
    format labels — so any precision/timestamp/NULL loss in either
    text round-trip breaks the hash. Timestamps survive via an explicit
    microsecond format; doubles survive CSV via shortest-repr output.
    """
    import shutil
    import tempfile

    from tinyerp_etl_spark.sources.catalog import TABLES, load_table
    from tinyerp_etl_spark.sources.files import (
        read_csv,
        read_jsonl,
        read_orc,
        write_csv,
        write_jsonl,
        write_orc,
    )

    orders = load_table(spark, sf_dir, "orders")
    scratch = tempfile.mkdtemp(prefix="fmt_roundtrip_")
    try:
        write_csv(orders, f"{scratch}/orders_csv", n_files=4)
        write_jsonl(orders, f"{scratch}/orders_jsonl", n_files=4)
        write_orc(orders, f"{scratch}/orders_orc", n_files=4)
        out = None
        for fmt, df in (
            ("csv", read_csv(spark, f"{scratch}/orders_csv", TABLES["orders"])),
            ("jsonl", read_jsonl(spark, f"{scratch}/orders_jsonl", TABLES["orders"])),
            ("orc", read_orc(spark, f"{scratch}/orders_orc", TABLES["orders"])),
        ):
            agg = df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("o_custkey").alias("n_customers"),
                sum_cents("o_totalprice").alias("sum_price"),
                F.min("o_orderdate").alias("first_order"),
                F.max("o_orderdate").alias("last_order"),
            ).select(F.lit(fmt).alias("fmt"), "*")
            out = agg if out is None else out.unionByName(agg)
        # materialize (distributed) before the scratch dir disappears
        return _persist_result(out, "file_format_roundtrip_orders")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def csv_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-records quarantine: PERMISSIVE split instead of fail-or-default.

    Stages orders as CSV with deterministic corruption (every 7th
    orderkey gets an unparseable price, every 11th a mangled date),
    reads it back through read_csv_quarantine (one scan, two outputs),
    and summarizes both streams. The oracle derives the same split
    closed-form from the parquet — so quarantine must catch EXACTLY
    the corrupted keys, no more, no less, and the clean stream's
    aggregate must be untouched by the bad rows.
    """
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from tinyerp_etl_spark.sources.catalog import load_table
    from tinyerp_etl_spark.sources.files import read_csv_quarantine

    orders = load_table(spark, sf_dir, "orders")
    staged = orders.select(
        F.col("o_orderkey").cast("string"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("oops"))
        .otherwise(F.format_string("%.2f", "o_totalprice"))
        .alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("not-a-date"))
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .alias("o_orderdate"),
    )
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
        ]
    )
    scratch = tempfile.mkdtemp(prefix="quarantine_")
    try:
        (
            staged.write.mode("overwrite")
            .option("header", "true")
            .csv(f"{scratch}/orders_csv")
        )
        good, bad = read_csv_quarantine(spark, f"{scratch}/orders_csv", schema)
        out = good.agg(
            F.lit("good").alias("stream"),
            F.count(F.lit(1)).alias("n_rows"),
            sum_cents("o_totalprice").alias("sum_price"),
        ).unionByName(
            bad.agg(
                F.lit("quarantined").alias("stream"),
                F.count(F.lit(1)).alias("n_rows"),
                F.lit(None).cast("double").alias("sum_price"),
            )
        )
        # materialize (distributed) before the scratch dir disappears
        return _persist_result(out, "csv_quarantine_split")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


ETL_ORACLES: dict[str, str] = {
    "variant_props_extract": """
        SELECT event_type,
               CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
               count(CAST(props->>'$.k' AS BIGINT)) AS n_k,
               count(CAST(props->>'$.missing' AS BIGINT)) AS n_missing
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "csv_quarantine_split": """
        SELECT 'good' AS stream,
               count(*) AS n_rows,
               CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) / 100.0 AS DOUBLE)
                 AS sum_price
        FROM orders
        WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0
        UNION ALL
        SELECT 'quarantined' AS stream,
               count(*) AS n_rows,
               CAST(NULL AS DOUBLE) AS sum_price
        FROM orders
        WHERE o_orderkey % 7 = 0 OR o_orderkey % 11 = 0
    """,
    "file_format_roundtrip_orders": """
        WITH agg AS (
          SELECT
            count(*) AS n_rows,
            count(DISTINCT o_custkey) AS n_customers,
            CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) / 100.0 AS DOUBLE)
              AS sum_price,
            min(o_orderdate) AS first_order,
            max(o_orderdate) AS last_order
          FROM orders
        )
        SELECT fmt, n_rows, n_customers, sum_price, first_order, last_order
        FROM (VALUES ('csv'), ('jsonl'), ('orc')) fmts(fmt), agg
        ORDER BY fmt
    """,
    "snapshot_diff_orders": """
        WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
        tagged AS (
          -- deletes: keys % 3 = 0 (and not re-inserted)
          SELECT 'delete' AS op, o_totalprice AS price
          FROM base WHERE o_orderkey % 3 = 0
          UNION ALL
          -- inserts: shifted clones of keys % 7 = 0
          SELECT 'insert' AS op, o_totalprice AS price
          FROM base WHERE o_orderkey % 7 = 0
          UNION ALL
          -- updates: surviving keys % 5 = 0 get +1
          SELECT 'update' AS op, o_totalprice + 1.0 AS price
          FROM base WHERE o_orderkey % 3 != 0 AND o_orderkey % 5 = 0
          UNION ALL
          -- unchanged: the rest of the survivors
          SELECT 'unchanged' AS op, o_totalprice AS price
          FROM base WHERE o_orderkey % 3 != 0 AND o_orderkey % 5 != 0
        )
        SELECT op, count(*) AS n_rows,
               CAST(sum(CAST(round(price*100) AS BIGINT)) / 100.0 AS DOUBLE) AS sum_price
        FROM tagged
        GROUP BY op
        ORDER BY op
    """,
    "replace_order_items": """
        WITH inc_parents AS (
          SELECT DISTINCT l_orderkey FROM lineitem
          WHERE l_orderkey % 4 = 0 AND l_linenumber <= 2
        )
        SELECT l_orderkey, l_linenumber, l_quantity, 2 AS gen
        FROM lineitem
        WHERE l_orderkey % 4 = 0 AND l_linenumber <= 2
        UNION ALL
        SELECT l_orderkey, l_linenumber, l_quantity, 1 AS gen
        FROM lineitem
        WHERE l_orderkey % 2 = 0
          AND l_orderkey NOT IN (SELECT l_orderkey FROM inc_parents)
        ORDER BY l_orderkey, l_linenumber
    """,
    "longest_active_streaks": """
        WITH act AS (
          SELECT DISTINCT user_id,
                 CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INT) AS day
          FROM events
        ),
        islands AS (
          SELECT user_id, day,
                 day - row_number() OVER (PARTITION BY user_id ORDER BY day)
                   AS grp
          FROM act
        ),
        streaks AS (
          SELECT user_id, grp, count(*) AS streak_len
          FROM islands GROUP BY user_id, grp
        )
        SELECT user_id,
               CAST(sum(streak_len) AS BIGINT) AS n_active_days,
               max(streak_len) AS longest_streak
        FROM streaks
        GROUP BY user_id
        ORDER BY user_id
    """,
    "fuzzy_match_customers": """
        WITH noisy AS (
          SELECT c_custkey + 1000000 AS noisy_key,
                 substr(c_name, 1, 17) || 'X' AS noisy_name
          FROM customer WHERE c_custkey % 37 = 0
        )
        SELECT c.c_custkey, n.noisy_key,
               levenshtein(c.c_name, n.noisy_name) AS lev
        FROM customer c
        JOIN noisy n ON substr(c.c_name, 1, 15) = substr(n.noisy_name, 1, 15)
        WHERE levenshtein(c.c_name, n.noisy_name) <= 1
        ORDER BY c.c_custkey, n.noisy_key
    """,
    "cohort_retention_daily": """
        WITH act AS (
          SELECT DISTINCT user_id,
                 CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INT) AS day
          FROM events
        ),
        first AS (
          SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id
        )
        SELECT cohort_day, day - cohort_day AS day_offset,
               count(*) AS n_users
        FROM act JOIN first USING (user_id)
        GROUP BY cohort_day, day_offset
        ORDER BY cohort_day, day_offset
    """,
    "copurchase_part_pairs": """
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS n_orders
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY part_a, part_b
        ORDER BY n_orders DESC, part_a, part_b
        LIMIT 20
    """,
    "attribution_interval_join": """
        WITH v AS (
          SELECT user_id AS v_user, event_id AS view_id, ts AS view_ts
          FROM events WHERE event_type = 'view'
        ),
        p AS (
          SELECT user_id AS p_user, event_id AS purchase_id, ts AS purchase_ts
          FROM events WHERE event_type = 'purchase'
        )
        SELECT v_user AS user_id, view_id, purchase_id,
               CAST(epoch_us(purchase_ts) - epoch_us(view_ts) AS BIGINT)
                 AS latency_us
        FROM v JOIN p
          ON v_user = p_user
         AND purchase_ts > view_ts
         AND purchase_ts <= view_ts + INTERVAL 1 HOUR
        ORDER BY view_id, purchase_id
    """,
    "copurchase_triangles": """
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS (
          SELECT a.l_partkey AS pa, b.l_partkey AS pb
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY pa, pb
          HAVING count(*) >= 2
        )
        SELECT e1.pa AS part_a, e1.pb AS part_b, e2.pb AS part_c
        FROM edges e1
        JOIN edges e2 ON e1.pb = e2.pa
        JOIN edges e3 ON e1.pa = e3.pa AND e2.pb = e3.pb
        ORDER BY part_a, part_b, part_c
    """,
    "time_travel_orders_versions": """
        WITH v1 AS (
          SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 < 5
        ),
        v2 AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 10 < 2 THEN o_totalprice + 1000.0
                      ELSE o_totalprice END AS o_totalprice
          FROM orders WHERE o_orderkey % 10 < 7
        ),
        v3 AS (SELECT * FROM v2 WHERE o_orderkey % 10 <> 0)
        SELECT CAST(1 AS INT) AS version, count(*) AS n_rows,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
                    AS DOUBLE) AS sum_price
        FROM v1
        UNION ALL
        SELECT 2, count(*),
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS DOUBLE)
        FROM v2
        UNION ALL
        SELECT 3, count(*),
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS DOUBLE)
        FROM v3
        UNION ALL
        SELECT 4, count(*),
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS DOUBLE)
        FROM v3
        ORDER BY version
    """,
    "copurchase_pagerank_3iter": """
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (
          SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY pa, pb
          HAVING count(*) >= 2
        ),
        edges AS (
          SELECT pa AS src, pb AS dst FROM pairs
          UNION ALL
          SELECT pb AS src, pa AS dst FROM pairs
        ),
        deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes),
        it1 AS (
          SELECT n.node, 150000 + (850 * COALESCE(s.s, 0)) // 1000 AS pr
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, sum(p.pr // d.deg) AS s
            FROM edges e
            JOIN pr0 p ON p.node = e.src
            JOIN deg d ON d.src = e.src
            GROUP BY e.dst
          ) s ON s.node = n.node
        ),
        it2 AS (
          SELECT n.node, 150000 + (850 * COALESCE(s.s, 0)) // 1000 AS pr
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, sum(p.pr // d.deg) AS s
            FROM edges e
            JOIN it1 p ON p.node = e.src
            JOIN deg d ON d.src = e.src
            GROUP BY e.dst
          ) s ON s.node = n.node
        ),
        it3 AS (
          SELECT n.node, 150000 + (850 * COALESCE(s.s, 0)) // 1000 AS pr
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, sum(p.pr // d.deg) AS s
            FROM edges e
            JOIN it2 p ON p.node = e.src
            JOIN deg d ON d.src = e.src
            GROUP BY e.dst
          ) s ON s.node = n.node
        )
        SELECT node, CAST(pr AS BIGINT) AS pr FROM it3
        ORDER BY pr DESC, node
        LIMIT 25
    """,
    "incremental_rollup_orders": """
        SELECT o_orderstatus,
               strftime(o_orderdate, '%Y-%m') AS order_month,
               count(*) AS n_rows,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
                    AS DOUBLE) AS sum_value,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    / (100.0 * count(*)) AS DOUBLE) AS avg_value
        FROM orders
        GROUP BY o_orderstatus, order_month
        ORDER BY o_orderstatus, order_month
    """,
    "sessionize_user_events": """
        WITH marked AS (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                 CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
                      WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
          WHERE user_id < 300
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
          SELECT user_id, ts_us,
                 CAST(sum(new_sess) OVER (
                     PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
          FROM marked
        )
        SELECT user_id, session_seq,
               count(*) AS n_events,
               min(ts_us) AS started_us,
               max(ts_us) AS ended_us,
               max(ts_us) - min(ts_us) AS duration_us
        FROM numbered
        GROUP BY user_id, session_seq
        ORDER BY user_id, session_seq
    """,
    "funnel_view_click_purchase": """
        WITH v AS (
          SELECT user_id, min(ts) AS t_view
          FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
          SELECT e.user_id, min(e.ts) AS t_click
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts >= v.t_view
          GROUP BY e.user_id
        ),
        p AS (
          SELECT e.user_id, min(e.ts) AS t_purchase
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
          GROUP BY e.user_id
        )
        SELECT count(*) AS n_viewed,
               count(c.t_click) AS n_clicked,
               count(p.t_purchase) AS n_purchased,
               CAST(CAST(count(c.t_click) AS DOUBLE) / count(*) AS DOUBLE)
                 AS view_to_click,
               CAST(CAST(count(p.t_purchase) AS DOUBLE) / count(c.t_click) AS DOUBLE)
                 AS click_to_purchase
        FROM v
        LEFT JOIN c ON v.user_id = c.user_id
        LEFT JOIN p ON v.user_id = p.user_id
    """,
    "scd2_user_event_history": """
        WITH ordered AS (
          SELECT user_id, event_type, ts, event_id,
                 row_number() OVER w AS rn,
                 lag(event_type) OVER w AS prev
          FROM events
          WHERE user_id < 100
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        runs AS (
          SELECT user_id, event_type, ts AS effective_from, event_id
          FROM ordered
          WHERE rn = 1 OR event_type IS DISTINCT FROM prev
        )
        SELECT user_id, event_type, effective_from,
               lead(effective_from) OVER w2 AS effective_to,
               row_number() OVER w2 AS version,
               lead(effective_from) OVER w2 IS NULL AS is_current
        FROM runs
        WINDOW w2 AS (PARTITION BY user_id ORDER BY effective_from, event_id)
        ORDER BY user_id, version
    """,
    "hll_distinct_users": """
        SELECT event_type,
               count(DISTINCT user_id) AS exact_users,
               TRUE AS within_bound
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "bucketed_join_revenue": """
        SELECT o_orderstatus,
               count(*) AS n_lines,
               CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                        * (100 - CAST(round(l_discount*100) AS BIGINT))) / 1e4
                    AS DOUBLE) AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    "zorder_clustered_scan": """
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               count(*) AS n_rows,
               CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) / 100.0 AS DOUBLE)
                 AS sum_price
        FROM orders
        WHERE o_custkey BETWEEN 100 AND 400
          AND o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY o_year
        ORDER BY o_year
    """,
    "kmv_sketch_rollup": """
        WITH hashed AS (
          SELECT DISTINCT event_type,
                 CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
          FROM events
        ),
        ranked AS (
          SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
          FROM hashed
        ),
        agg AS (
          SELECT event_type,
                 count(*) AS n_kept,
                 max(CASE WHEN rn = 64 THEN h END) AS kth_min_hash
          FROM ranked
          WHERE rn <= 64
          GROUP BY event_type
        ),
        days AS (
          SELECT event_type, count(DISTINCT CAST(ts AS DATE)) AS n_days
          FROM events
          GROUP BY event_type
        )
        SELECT a.event_type, d.n_days, a.n_kept, a.kth_min_hash,
               CASE WHEN a.kth_min_hash IS NOT NULL
                    THEN round(63 / (a.kth_min_hash / 4294967296.0), 2)
                    ELSE CAST(a.n_kept AS DOUBLE) END AS n_estimate
        FROM agg a JOIN days d ON a.event_type = d.event_type
        ORDER BY a.event_type
    """,
    "hll_union_rollup": """
        SELECT event_type,
               count(DISTINCT user_id) AS exact_users,
               TRUE AS within_bound
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "kmv_distinct_users": """
        WITH hashed AS (
          SELECT DISTINCT event_type,
                 CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
          FROM events
        ),
        ranked AS (
          SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
          FROM hashed
        ),
        agg AS (
          SELECT event_type,
                 count(*) AS n_exact,
                 max(CASE WHEN rn = 64 THEN h END) AS kth_min_hash
          FROM ranked
          GROUP BY event_type
        )
        SELECT event_type, n_exact, kth_min_hash,
               CASE WHEN kth_min_hash IS NOT NULL
                    THEN round(63 / (kth_min_hash / 4294967296.0), 2)
                    ELSE CAST(n_exact AS DOUBLE) END AS n_estimate
        FROM agg
        ORDER BY event_type
    """,
    "asof_purchase_to_view": """
        WITH views AS (
          SELECT user_id, ts, max(event_id) AS view_id
          FROM events WHERE event_type = 'view'
          GROUP BY user_id, ts
        ),
        purchases AS (
          SELECT event_id, user_id, ts
          FROM events WHERE event_type = 'purchase'
        )
        SELECT p.event_id, p.user_id, p.ts,
               v.ts AS view_ts,
               v.view_id AS view_id,
               CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS gap_seconds
        FROM purchases p
        ASOF LEFT JOIN views v
          ON p.user_id = v.user_id AND v.ts <= p.ts
        ORDER BY p.event_id
    """,
    "range_join_event_bursts": """
        WITH e AS (
          SELECT user_id, event_id, epoch(ts) AS sec
          FROM events WHERE user_id < 200
        )
        SELECT a.user_id, count(*) AS n_pairs
        FROM e a JOIN e b
          ON a.user_id = b.user_id
         AND a.sec < b.sec
         AND b.sec <= a.sec + 300
        GROUP BY a.user_id
        ORDER BY a.user_id
    """,
    "json_props_rollup": """
        WITH parsed AS (
          SELECT event_type,
                 CAST(json_extract(props, '$.k') AS BIGINT) AS k
          FROM events
        )
        SELECT event_type,
               CAST(sum(k) AS BIGINT) AS sum_k,
               count(k) AS n_parsed,
               CAST(CAST(sum(k) AS DOUBLE) / count(k) AS DOUBLE) AS avg_k,
               min(k) AS min_k,
               max(k) AS max_k
        FROM parsed
        GROUP BY event_type
        ORDER BY event_type
    """,
    "incremental_pipeline_events": """
        SELECT event_id,
               CASE WHEN event_id % 5 = 0 THEN value + 3000 ELSE value END AS value
        FROM events
        ORDER BY event_id
    """,
    "nested_flatten_roundtrip": """
        SELECT
          l_orderkey AS orderkey,
          l_linenumber AS linenumber,
          l_quantity AS quantity,
          l_extendedprice AS extendedprice
        FROM lineitem
        WHERE l_orderkey % 50 = 0
        ORDER BY orderkey, linenumber
    """,
    "skew_salted_event_totals": """
        SELECT
          event_type,
          CAST(sum(CAST(round(value*100) AS BIGINT)) / 100.0 AS DOUBLE) AS sum_value,
          count(*) AS n_rows,
          count(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "watermark_resolution_matrix": """
        WITH agg AS (SELECT event_type, max(ts) AS mx FROM events GROUP BY event_type),
        idx AS (
          SELECT event_type, mx,
                 row_number() OVER (ORDER BY event_type) AS od
          FROM agg
        ),
        staged AS (
          SELECT event_type AS process, od,
                 CASE WHEN od % 4 = 0 THEN mx
                      WHEN od % 4 = 3 THEN mx - INTERVAL 400 DAY END AS stored,
                 CASE WHEN od % 4 = 1 THEN mx END AS maxb
          FROM idx
        )
        SELECT
          process,
          CASE WHEN od % 4 = 0 THEN 'stored'
               WHEN od % 4 = 1 THEN 'synthetic'
               WHEN od % 4 = 2 THEN 'cold_start_29'
               ELSE 'stored_clamped' END AS scenario,
          CASE WHEN stored IS NOT NULL
               THEN greatest(stored + INTERVAL 1 SECOND,
                             TIMESTAMP '2024-03-15 12:00:00' - INTERVAL 60 DAY)
               WHEN maxb IS NOT NULL
               THEN greatest(date_trunc('day', maxb) + INTERVAL 1 DAY,
                             TIMESTAMP '2024-03-15 12:00:00' - INTERVAL 60 DAY)
               ELSE TIMESTAMP '2024-03-15 12:00:00' - INTERVAL 29 DAY
          END AS resolved_filter_ts
        FROM staged
        ORDER BY process
    """,
    "hierarchy_subtree_rollup": """
        WITH RECURSIVE edges AS (
          SELECT p_partkey AS id,
                 CASE WHEN p_partkey >= 10
                      THEN CAST(floor(p_partkey / 10) AS BIGINT) END AS parent_id
          FROM part
        ),
        closure AS (
          SELECT id AS node_id, id AS root_id, 0 AS depth
          FROM edges WHERE parent_id IS NULL
          UNION ALL
          SELECT e.id, c.root_id, c.depth + 1
          FROM edges e JOIN closure c ON e.parent_id = c.node_id
        )
        SELECT
          c.root_id,
          count(*) AS n_nodes,
          CAST(sum(CAST(round(p.p_retailprice*100) AS BIGINT)) / 100.0 AS DOUBLE) AS subtree_retail,
          CAST(max(c.depth) AS INT) AS max_depth
        FROM closure c
        JOIN part p ON c.node_id = p.p_partkey
        GROUP BY c.root_id
        ORDER BY c.root_id
    """,
    "merge_upsert_events": """
        WITH existing AS (
          SELECT event_id, value, 1 AS gen FROM events WHERE event_id % 2 = 0
        ),
        incoming AS (
          SELECT event_id, value + 1000 AS value, 2 AS gen
          FROM events WHERE event_id % 3 = 0
        )
        SELECT e.event_id, e.value, e.gen
        FROM existing e
        WHERE NOT EXISTS (SELECT 1 FROM incoming i WHERE i.event_id = e.event_id)
        UNION ALL
        SELECT event_id, value, gen FROM incoming
        ORDER BY event_id
    """,
    "keep_latest_event_per_user": """
        SELECT user_id, event_id, ts, event_type
        FROM (
          SELECT user_id, event_id, ts, event_type,
                 row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                 ) AS rn
          FROM events
        )
        WHERE rn = 1
        ORDER BY user_id
    """,
    "set_null_missing_region": """
        SELECT
          n_nationkey,
          n_name,
          CASE WHEN r.r_regionkey IS NULL THEN NULL ELSE n_regionkey END AS n_regionkey
        FROM nation n
        LEFT JOIN (SELECT r_regionkey FROM region WHERE r_regionkey < 3) r
          ON n.n_regionkey = r.r_regionkey
        ORDER BY n_nationkey
    """,
    "hierarchy_closure_part": """
        WITH RECURSIVE edges AS (
          SELECT p_partkey AS id,
                 CASE WHEN p_partkey >= 10
                      THEN CAST(floor(p_partkey / 10) AS BIGINT) END AS parent_id
          FROM part
        ),
        closure AS (
          SELECT id AS node_id, id AS root_id, 0 AS depth
          FROM edges WHERE parent_id IS NULL
          UNION ALL
          SELECT e.id, c.root_id, c.depth + 1
          FROM edges e JOIN closure c ON e.parent_id = c.node_id
        )
        SELECT node_id, root_id, CAST(depth AS INT) AS depth
        FROM closure
        ORDER BY node_id
    """,
}


def key_skew_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution skew diagnostic for the events fact.

    The decision input for every skew mitigation this engine ships
    (salting in skew_salted_event_totals, AQE skew-join): per-key row
    counts reduced to the numbers an operator needs to choose a
    strategy — key cardinality, hottest-key share in basis points, and
    exact p50/p90/p99 of the per-key count distribution. The count
    histogram collapses per-key rows before any windowing, and the
    quantiles ride the distributed prefix sum (operators/sketch.py:
    exact_rank_quantiles) — no global-order window, no driver collect,
    so the diagnostic itself is runnable on the 100 TB fact it
    profiles. Integer basis-point arithmetic keeps the hash stable.
    """
    from tinyerp_etl_spark.operators.sketch import exact_rank_quantiles

    # per-key counts feed three consumers (summary, histogram, quantile
    # ride-along) — materialize the compacted frame once
    per_key = materialize(
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    summary = per_key.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("total_rows"),
        F.max("cnt").cast("long").alias("max_cnt"),
    )
    hist = per_key.groupBy("cnt").agg(F.count(F.lit(1)).cast("long").alias("freq"))
    q = exact_rank_quantiles(
        hist, "cnt", "freq", {"p50": 5000, "p90": 9000, "p99": 9900}
    ).agg(
        F.min(F.when(F.col("label") == "p50", F.col("q_value"))).alias("p50_cnt"),
        F.min(F.when(F.col("label") == "p90", F.col("q_value"))).alias("p90_cnt"),
        F.min(F.when(F.col("label") == "p99", F.col("q_value"))).alias("p99_cnt"),
    )
    return summary.crossJoin(F.broadcast(q)).select(
        "n_keys",
        "total_rows",
        "max_cnt",
        F.expr("(10000 * max_cnt) div total_rows").alias("top1_share_bp"),
        "p50_cnt",
        "p90_cnt",
        "p99_cnt",
    )


ETL_ORACLES["key_skew_profile_events"] = """
    WITH pk AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(cnt) AS BIGINT) AS total_rows,
             CAST(max(cnt) AS BIGINT) AS max_cnt
      FROM pk
    ),
    h AS (SELECT cnt, CAST(count(*) AS BIGINT) AS freq FROM pk GROUP BY cnt),
    o AS (
      SELECT cnt, freq,
             COALESCE(SUM(freq) OVER (
               ORDER BY cnt ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) + freq AS cum_incl
      FROM h
    )
    SELECT s.n_keys, s.total_rows, s.max_cnt,
           (10000 * s.max_cnt) // s.total_rows AS top1_share_bp,
           (SELECT min(cnt) FROM o
             WHERE cum_incl >= (5000 * s.n_keys + 9999) // 10000) AS p50_cnt,
           (SELECT min(cnt) FROM o
             WHERE cum_incl >= (9000 * s.n_keys + 9999) // 10000) AS p90_cnt,
           (SELECT min(cnt) FROM o
             WHERE cum_incl >= (9900 * s.n_keys + 9999) // 10000) AS p99_cnt
    FROM s
"""


def xml_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round-trip under the hash gate (4th format after CSV/JSONL/ORC).

    Writes orders through the built-in xml datasource with the pinned
    catalog schema, reads it back, and aggregates; the oracle computes
    the identical aggregate straight from parquet — any text-format
    loss of doubles, dates, or NULLs breaks the hash. XML is the
    format the reference's ERP world still exchanges, so the engine
    treats it as a first-class source/sink, not an afterthought.
    """
    import shutil
    import tempfile

    from tinyerp_etl_spark.sources.catalog import TABLES
    from tinyerp_etl_spark.sources.files import read_xml, write_xml

    orders = load_table(spark, sf_dir, "orders")
    scratch = tempfile.mkdtemp(prefix="xml_roundtrip_")
    try:
        write_xml(orders, f"{scratch}/orders_xml", n_files=4)
        back = read_xml(spark, f"{scratch}/orders_xml", TABLES["orders"])
        out = back.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("o_custkey").alias("n_customers"),
            sum_cents("o_totalprice").alias("sum_price"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        ).orderBy("o_orderstatus")
        return _persist_result(out, "xml_roundtrip_orders")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


ETL_ORACLES["xml_roundtrip_orders"] = """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
                AS DOUBLE) AS sum_price,
           min(o_orderdate) AS first_order,
           max(o_orderdate) AS last_order
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""
