"""Per-entity incremental sync — the reference's step orchestrator.

Re-expresses ``executar_etapa_paginada`` (ref tiny_api_v2_cliente.py:
324-375) and the ``__main__`` 4-step DAG (ref :307-420) Spark-first:

- a *page source* is a callable ``(filter_ts, page) -> (DataFrame |
  None, total_pages)`` — the dataflow contract of the elided
  ``funcao_busca`` loaders (ref :348);
- each page's DataFrame is transformed, then MERGE-upserted into a
  versioned TableStore (idempotent sink ⇒ at-least-once delivery from
  the watermark layer becomes effectively exactly-once). A page costs
  O(page): ``TableStore.upsert`` writes only its keep-latest rows as a
  delta layer;
- the step folds once: its last page — or the page cap's — merges
  flat with the layers before it in one commit (``upsert(fold=True)``),
  so a table at rest — what dashboards and the COUNT(*) audit read —
  is flat, and a single-page step writes no layer (one table rewrite,
  as a plain MERGE). An ERRO step leaves its layers: reads resolve
  them, and the next run folds;
- every page upsert and the fold commit against the version they read
  (optimistic concurrency): a concurrent writer's commit makes the
  step ERRO with ConcurrentWriteError instead of being overwritten,
  and the next run resumes at that page;
- page progress goes through PageCheckpoint (resume at saved+1,
  ref :183-223); the page cap leaves status EM_ANDAMENTO for the next
  run (ref :368-370); failures mark ERRO and halt the step without
  failing sibling steps (ref :372-373, independent-failure tolerance
  of the main DAG);
- on completion the watermark commits the *step start time*
  (ref :326, :363), so overlap is re-read next run.
"""

from __future__ import annotations

import logging
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, SparkSession

from tinyerp_etl_spark.etl.checkpoint import (
    STATUS_DONE,
    STATUS_ERROR,
    STATUS_RUNNING,
    PageCheckpoint,
)
from tinyerp_etl_spark.etl.table_store import TableStore
from tinyerp_etl_spark.etl.watermark import (
    SAFETY_DAYS_DEFAULT,
    WatermarkStore,
    resolve_filter_timestamp,
)

log = logging.getLogger(__name__)

MAX_PAGES_PER_STEP_DEFAULT = 10_000  # MAX_PAGINAS_POR_ETAPA (ref :50)

# (filter_ts, page) -> (page DataFrame or None-when-empty, total_pages)
PageSource = Callable[[datetime, int], tuple[DataFrame | None, int]]


@dataclass
class EntitySync:
    """Config for one entity's incremental sync (one reference PASSO)."""

    name: str
    source: PageSource
    store: TableStore
    keys: Sequence[str]
    order_by: Sequence[Column | str] | None = None
    transform: Callable[[DataFrame], DataFrame] | None = None
    safety_days: int = SAFETY_DAYS_DEFAULT
    cold_start_days: int | None = None
    max_pages: int = MAX_PAGES_PER_STEP_DEFAULT
    # MAX(business ts) provider for the synthetic-bootstrap branch
    max_business_ts: Callable[[DataFrame], datetime | None] | None = None


@dataclass
class SyncResult:
    name: str
    status: str
    pages: int
    records: int
    filter_ts: datetime | None = None
    error: str | None = None


def run_entity_sync(
    spark: SparkSession,
    cfg: EntitySync,
    watermarks: WatermarkStore,
    checkpoints: PageCheckpoint,
    now: datetime | None = None,
) -> SyncResult:
    """One incremental sync step (ref executar_etapa_paginada :324-375)."""
    step_start = now or datetime.now(timezone.utc)  # ref :326

    existing_max = None
    if cfg.max_business_ts is not None and cfg.store.exists():
        existing_max = cfg.max_business_ts(cfg.store.read())
    filter_ts = resolve_filter_timestamp(
        stored=watermarks.get(cfg.name),
        max_business_ts=existing_max,
        now=step_start,
        safety_days=cfg.safety_days,
        cold_start_days=cfg.cold_start_days,
    )
    filter_key = filter_ts.strftime("%d/%m/%Y %H:%M:%S")  # ref date-filter format

    page = checkpoints.start(cfg.name, filter_key)
    pages_done = 0
    records = 0
    try:
        while page <= cfg.max_pages:  # ref :345
            page_df, total_pages = cfg.source(filter_ts, page)
            if page_df is not None and cfg.transform is not None:
                page_df = cfg.transform(page_df)
            # termination: empty source or last page (ref :360)
            last = total_pages == 0 or page >= total_pages
            n = 0
            if page_df is not None:
                # the step's last page (or the page cap's) merges flat
                cfg.store.upsert(
                    page_df,
                    cfg.keys,
                    cfg.order_by,
                    fold=last or page == cfg.max_pages,
                )
                n = page_df.count()
            checkpoints.advance(cfg.name, page, total_pages, n)
            pages_done += 1
            records += n
            if last:
                cfg.store.fold()  # a no-op unless the last page was None
                checkpoints.finish(cfg.name, STATUS_DONE)
                watermarks.commit(cfg.name, step_start)  # ref :363
                return SyncResult(cfg.name, STATUS_DONE, pages_done, records, filter_ts)
            page += 1
        # page-cap exhaustion: leave work for the next run (ref :368-370)
        cfg.store.fold()  # a no-op unless the capped page was None
        checkpoints.finish(cfg.name, STATUS_RUNNING)
        return SyncResult(cfg.name, STATUS_RUNNING, pages_done, records, filter_ts)
    except Exception as exc:  # halt step, don't fail siblings (ref :372-373)
        log.exception("entity sync %s failed", cfg.name)
        checkpoints.finish(cfg.name, STATUS_ERROR)
        return SyncResult(
            cfg.name, STATUS_ERROR, pages_done, records, filter_ts, error=str(exc)
        )


def run_pipeline(
    spark: SparkSession,
    syncs: Sequence[EntitySync],
    watermarks: WatermarkStore,
    checkpoints: PageCheckpoint,
    now: datetime | None = None,
) -> list[SyncResult]:
    """The fixed DAG (ref :324-393): run each step; steps fail independently.

    Ends with the audit: per-table row counts (ref :395-401) are left
    to the caller via ``TableStore.read().count()``.
    """
    return [
        run_entity_sync(spark, cfg, watermarks, checkpoints, now=now)
        for cfg in syncs
    ]
