"""The benchmark's workloads: set-up, warm-up, timed passes and output checks.

Each workload is driven by one client in a closed loop: the next
operation starts when the previous one returned. An operation is one
dashboard query, or one page for the page sync.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import gen
from perfbench.trace import Tracer
from tinyerp_etl_spark.etl.checkpoint import STATUS_DONE, PageCheckpoint
from tinyerp_etl_spark.etl.pipeline import EntitySync, run_entity_sync
from tinyerp_etl_spark.etl.table_store import TableStore
from tinyerp_etl_spark.etl.watermark import WatermarkStore
from tinyerp_etl_spark.functions.coerce import br_timestamp, safe_double
from tinyerp_etl_spark.plans.registry import all_oracles, all_queries
from tinyerp_etl_spark.sources.json_pages import read_envelope_pages
from tinyerp_etl_spark.testing import assert_matches_oracle

DASHBOARD_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q8_market_share", "q9_product_type_profit", "q18_large_volume_customers",
    "q21_sole_late_shippers", "window_latest_order_per_customer",
    "monthly_revenue_trend", "join_left_enrich", "topk_expensive_orders",
    "exists_returned_orders",
)


@dataclass
class Measured:
    """What one workload's timed phase produced."""

    ops: list[float] = field(default_factory=list)  # seconds per operation
    kinds: list[str] = field(default_factory=list)  # query name, or page number
    attempted: int = 0
    failed: int = 0
    wall_s: float = 0.0        # sum of the timed passes
    passes: int = 0
    problems: list[str] = field(default_factory=list)
    extra: dict[str, list[float]] = field(default_factory=dict)

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.problems.append(what)


class _Collected:
    """A query whose result was already collected: ``toPandas`` returns
    that result, and everything else (schema, plan) is the query's. It
    lets ``assert_matches_oracle`` check a result without running the
    query again."""

    def __init__(self, df, result):
        self._df, self._result = df, result

    def toPandas(self):
        return self._result

    def __getattr__(self, name):
        return getattr(self._df, name)


class Dashboard:
    """The 12 star-schema queries, each written to a noop sink."""

    name = "dashboard"
    pass_ops = len(DASHBOARD_QUERIES)
    #: the timed phase covers every query at least once
    min_passes = 1

    def __init__(self, spark, tracer: Tracer, tmp: str, seed: int, sf: float = 0.1):
        self.spark, self.tracer, self.tmp, self.seed, self.sf = spark, tracer, tmp, seed, sf
        self.queries = all_queries()
        self.oracles = all_oracles()
        self.rng = np.random.default_rng(seed)
        self._ops = self._op_stream()
        self.sf_dir = ""
        self._cold: dict[str, _Collected] = {}

    def generate(self) -> None:
        self.sf_dir = os.path.join(self.tmp, "star")
        gen.write_star_schema(self.sf_dir, self.sf, self.seed)

    def prepare(self) -> None:
        """Nothing to commit: the queries read the generated files."""

    def warm_up(self, m: Measured) -> None:
        """The cold pass: every query built and its result collected, as
        a dashboard reads it. The results are checked in ``final_check``."""
        for q in DASHBOARD_QUERIES:
            m.attempted += 1
            try:
                df = self.queries[q](self.spark, self.sf_dir)
                self._cold[q] = _Collected(df, df.toPandas())
            except Exception as exc:  # a failing query is a failed op
                m.fail(f"{q}: {type(exc).__name__}: {exc}"[:300])

    def _op_stream(self):
        """Query names, each pass over all twelve in a new seeded order."""
        while True:
            yield from self.rng.permutation(DASHBOARD_QUERIES)

    def measure(self, m: Measured, until: float, min_ops: int = 0) -> None:
        """Queries from the seeded stream until ``m`` holds ``until``
        seconds of query time (checked between queries) and at least
        ``min_ops`` queries."""
        t = self.tracer
        while m.wall_s < until or len(m.ops) < min_ops:
            q = next(self._ops)
            t.op = f"{len(m.ops)}:{q}"
            m.attempted += 1
            t0 = time.perf_counter()
            try:
                with t.span("bench.op", "bench"):
                    with t.span(f"plans.{q}", "plans"):
                        df = self.queries[q](self.spark, self.sf_dir)
                    with t.span("spark.noop_write", "spark"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:
                m.fail(f"{q}: {type(exc).__name__}: {exc}"[:300])
            dt = time.perf_counter() - t0
            m.ops.append(dt)
            m.kinds.append(q)
            m.wall_s += dt

    def final_check(self, m: Measured) -> None:
        """Every result of the cold pass against its DuckDB oracle (and
        the query's plan lint). Untimed."""
        for q, got in self._cold.items():
            m.attempted += 1
            try:
                assert_matches_oracle(got, self.oracles[q], self.sf_dir, name=q)
            except Exception as exc:  # a wrong result is a failed op
                m.fail(f"{q}: {type(exc).__name__}: {exc}"[:300])

    def store_dirs(self) -> list[str]:
        return []


# ---- page sync ----------------------------------------------------------------

ENTITY = "pedido_itens"
#: fixed "now" of every sync: after the pages' change times, within the
#: watermark's 60-day safety clamp
SYNC_NOW = datetime(2024, 2, 15, 8, 0, 0, tzinfo=timezone.utc)
SYNC_SCHEMA = T.StructType([
    T.StructField("id_pedido", T.LongType()),
    T.StructField("seq_item", T.IntegerType()),
    T.StructField("id_produto", T.LongType()),
    T.StructField("quantidade", T.DoubleType()),
    T.StructField("valor_unitario", T.DoubleType()),
    T.StructField("versao", T.LongType()),
    T.StructField("data_alteracao", T.TimestampType()),
])
API_SCHEMA = T.StructType([T.StructField(f, T.StringType()) for f in gen.API_FIELDS])


def coerce_page(df):
    """API strings to typed columns (comma decimals, Brazilian dates)."""
    return df.select(
        F.col("id_pedido").cast("long").alias("id_pedido"),
        F.col("seq_item").cast("int").alias("seq_item"),
        F.col("id_produto").cast("long").alias("id_produto"),
        safe_double("quantidade").alias("quantidade"),
        safe_double("valor_unitario").alias("valor_unitario"),
        F.col("versao").cast("long").alias("versao"),
        br_timestamp("data_alteracao").alias("data_alteracao"),
    )


def revenue_by_product(df):
    """The dashboard-style aggregate run over the synced table."""
    return (
        df.groupBy("id_produto")
        .agg(F.sum(F.col("quantidade") * F.col("valor_unitario")).alias("receita"),
             F.count(F.lit(1)).alias("itens"))
        .orderBy(F.desc("receita"), "id_produto")
        .limit(10)
    )


def check_sync_table(df, inputs: gen.SyncInputs) -> list[str]:
    """Problems with a synced table: row count and order-insensitive
    hash against the generator's keep-latest state. Empty when right."""
    got = df.select([f.name for f in SYNC_SCHEMA.fields]).toPandas()
    problems = []
    if len(got) != inputs.expected_rows:
        problems.append(f"rows {len(got)} != expected {inputs.expected_rows}")
    h = gen.table_hash(got)
    if h != inputs.expected_hash:
        problems.append(f"hash {h} != expected {inputs.expected_hash}")
    return problems


class PageSync:
    """``run_entity_sync`` over seeded envelope pages into a ~600k-row
    committed base, then the COUNT(*) audit and one aggregate."""

    name = "page_sync"

    def __init__(self, spark, tracer: Tracer, tmp: str, seed: int, base_rows: int = 600_000):
        self.spark, self.tracer, self.tmp, self.seed = spark, tracer, tmp, seed
        self.base_rows = base_rows
        self.pass_ops = gen.N_PAGES
        # at least two passes, so each page has two samples
        self.min_passes = 2
        self.inputs: gen.SyncInputs | None = None
        self.base_dir = ""
        self.pass_dir = ""
        self._passes = 0
        self._last: TableStore | None = None

    def generate(self) -> None:
        """The base table's rows, the pages and the expected final state."""
        self.inputs = gen.write_sync_inputs(os.path.join(self.tmp, "sync"), self.seed,
                                            base_rows=self.base_rows)

    def prepare(self) -> None:
        """The committed base table and the stored watermark."""
        self.base_dir = os.path.join(self.tmp, "base")
        store = TableStore(self.spark, os.path.join(self.base_dir, "store"), SYNC_SCHEMA)
        store.commit(self.spark.read.schema(SYNC_SCHEMA).parquet(self.inputs.base_path))
        WatermarkStore(self.spark, os.path.join(self.base_dir, "wm")).commit(
            ENTITY, self.inputs.watermark.replace(tzinfo=timezone.utc))

    def _reset(self, k: int) -> None:
        """A fresh copy of the committed base for pass ``k`` (hard links;
        untimed). The previous pass's copy is removed."""
        if self.pass_dir:
            shutil.rmtree(self.pass_dir)
        self.pass_dir = os.path.join(self.tmp, f"pass{k}")
        shutil.copytree(self.base_dir, self.pass_dir, copy_function=os.link)

    def _sync_pass(self, m: Measured, k: int, timed: bool) -> TableStore:
        self._reset(k)
        t, inputs = self.tracer, self.inputs
        store = TableStore(self.spark, os.path.join(self.pass_dir, "store"), SYNC_SCHEMA)
        wm = WatermarkStore(self.spark, os.path.join(self.pass_dir, "wm"))
        cp = PageCheckpoint(self.spark, os.path.join(self.pass_dir, "cp"))
        marks: list[float] = []

        def source(_filter_ts, page: int):
            marks.append(time.perf_counter())
            t.op = f"{k}:page{page}"
            with t.span("sources.page_read", "sources"):
                df = read_envelope_pages(
                    self.spark, os.path.join(inputs.page_dir, f"page_{page:05d}.json"),
                    gen.RECORD_FIELD, gen.WRAPPER, API_SCHEMA)
            return df, inputs.n_pages

        cfg = EntitySync(name=ENTITY, source=source, store=store, keys=list(gen.SYNC_KEYS),
                         order_by=[F.col("versao").desc()], transform=coerce_page)
        t0 = time.perf_counter()
        with t.span("bench.pass", "bench"):
            with t.span("pipeline.run_entity_sync", "pipeline"):
                res = run_entity_sync(self.spark, cfg, wm, cp, now=SYNC_NOW)
            t1 = time.perf_counter()
            t.op = f"{k}:read"
            with t.span("plans.audit_count", "plans"):
                table = store.read()
            with t.span("spark.audit_count", "spark"):
                n = table.count()
            with t.span("plans.revenue_by_product", "plans"):
                agg = revenue_by_product(store.read())
            with t.span("spark.aggregate", "spark"):
                top = agg.collect()
        t2 = time.perf_counter()
        if not timed:
            return store
        bounds = marks + [t1]
        bounds[0] = t0
        m.ops += [b - a for a, b in zip(bounds, bounds[1:])]
        m.kinds += [f"page{i + 1}" for i in range(len(bounds) - 1)]
        m.attempted += inputs.n_pages
        m.wall_s += t2 - t0
        m.passes += 1
        m.extra.setdefault("sync_s", []).append(t1 - t0)
        m.extra.setdefault("read_s", []).append(t2 - t1)
        m.extra.setdefault("records", []).append(res.records)
        want = sum(inputs.page_rows)
        if res.status != STATUS_DONE or res.pages != inputs.n_pages or res.records != want:
            m.fail(f"pass {k}: {res.status} pages={res.pages} records={res.records} "
                   f"(want {inputs.n_pages}/{want}) {res.error or ''}"[:300], inputs.n_pages)
        elif n != inputs.expected_rows or len(top) != min(10, inputs.expected_rows):
            m.fail(f"pass {k}: audit count {n} != {inputs.expected_rows}", inputs.n_pages)
        return store

    def warm_up(self, m: Measured) -> None:
        """One pass outside the timed phase."""
        self._sync_pass(m, 0, timed=False)

    def measure(self, m: Measured, until: float, min_ops: int = 0) -> None:
        """Whole passes (sync, audit, aggregate, each checked by its
        counts) until ``m`` holds ``until`` seconds."""
        while m.passes == 0 or m.wall_s < until or len(m.ops) < min_ops:
            self._passes += 1
            self._last = self._sync_pass(m, self._passes, timed=True)

    def final_check(self, m: Measured) -> None:
        """The last timed pass's table, checked in full (untimed)."""
        m.attempted += 1
        for p in check_sync_table(self._last.read(), self.inputs):
            m.fail(f"pass {self._passes}: {p}")

    def store_dirs(self) -> list[str]:
        return [self.base_dir, self.pass_dir]
