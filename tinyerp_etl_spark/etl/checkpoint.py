"""Page-level checkpoint / resume — the reference's progress table.

Mirrors ``script_progresso_paginas`` (ref tiny_api_v2_cliente.py:91)
and its three operations:

- ``start``  ≡ inicializar_progresso (ref :183-223): resume at
  ``saved_page + 1`` when a previous run for the same filter is
  ``EM_ANDAMENTO``/``ERRO``; restart at 1 when the filter changed or
  the previous run is ``CONCLUIDO``.
- ``advance`` ≡ atualizar_progresso_pagina (ref :205-215): per-page
  upsert of (page, total, running record count, ts).
- ``finish`` ≡ finalizar_progresso (ref :198): terminal status.

In the Structured Streaming mirror this is exactly the checkpoint
offset log; in batch mode it is control state, not data — a few rows
— so it is a JSON file written on the driver with no Spark job: a
temp file beside it, then ``os.replace`` (etl.atomic_file). A reader
sees the old rows or the new ones, never none (a crash before the
replace leaves only an ignored temp file).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import SparkSession

from tinyerp_etl_spark.etl.atomic_file import read_json, write_atomic

STATUS_PENDING = "PENDENTE"
STATUS_RUNNING = "EM_ANDAMENTO"
STATUS_ERROR = "ERRO"
STATUS_DONE = "CONCLUIDO"


@dataclass
class Progress:
    processo: str
    data_filtro_api: str | None
    pagina_atual: int
    total_paginas: int
    registros_processados: int
    status_execucao: str


class PageCheckpoint:
    """JSON-file page progress store: one row per process, with the
    reference's progress-table columns (ref :91)."""

    def __init__(self, spark: SparkSession, path: str):
        """``spark`` is unused (the store runs no Spark job); the
        argument keeps the control stores' common constructor."""
        self.path = path

    # -- storage ------------------------------------------------------

    def _read_all(self) -> dict[str, dict]:
        return read_json(self.path, {})

    def _get_row(self, process: str) -> dict | None:
        return self._read_all().get(process)

    def _upsert(self, process: str, add_records: int = 0, **fields) -> None:
        """Read once, update ``process``'s row (``add_records`` onto the
        running counter), write back atomically."""
        now = _now()
        rows = self._read_all()
        cur = rows.get(process) or {
            "processo": process,
            "data_filtro_api": None,
            "pagina_atual": 0,
            "total_paginas": 0,
            "registros_processados": 0,
            "timestamp_inicio": now,
            "timestamp_ultima_pagina": now,
            "status_execucao": STATUS_PENDING,
        }
        cur.update(fields)
        cur["registros_processados"] += add_records
        cur["timestamp_ultima_pagina"] = now
        rows[process] = cur
        write_atomic(self.path, json.dumps(rows))

    # -- reference-contract operations --------------------------------

    def start(self, process: str, filter_date: str) -> int:
        """Resolve the starting page for a run (ref :183-223).

        Returns the page to start from: ``saved + 1`` when resuming an
        interrupted run with the same filter date, else 1.
        """
        prev = self._get_row(process)
        if (
            prev is not None
            and prev["data_filtro_api"] == filter_date
            and prev["status_execucao"] in (STATUS_RUNNING, STATUS_ERROR)
        ):
            start_page = int(prev["pagina_atual"]) + 1
            self._upsert(process, status_execucao=STATUS_RUNNING)
            return start_page
        self._upsert(
            process,
            data_filtro_api=filter_date,
            pagina_atual=0,
            total_paginas=0,
            registros_processados=0,
            timestamp_inicio=_now(),
            status_execucao=STATUS_RUNNING,
        )
        return 1

    def advance(self, process: str, page: int, total_pages: int, n_records: int) -> None:
        """Commit one page (ref :205-215): running-counter accumulation."""
        self._upsert(
            process,
            add_records=n_records,
            pagina_atual=page,
            total_paginas=total_pages,
            status_execucao=STATUS_RUNNING,
        )

    def finish(self, process: str, status: str) -> None:
        """Terminal status: CONCLUIDO / ERRO / EM_ANDAMENTO (page cap)."""
        self._upsert(process, status_execucao=status)

    def progress(self, process: str) -> Progress | None:
        r = self._get_row(process)
        if r is None:
            return None
        return Progress(
            processo=r["processo"],
            data_filtro_api=r["data_filtro_api"],
            pagina_atual=r["pagina_atual"],
            total_paginas=r["total_paginas"],
            registros_processados=r["registros_processados"],
            status_execucao=r["status_execucao"],
        )

    def percent_complete(self, process: str) -> float | None:
        """round(page/total*100, 1) — ref :211."""
        p = self.progress(process)
        if p is None or not p.total_paginas:
            return None
        return round(p.pagina_atual / p.total_paginas * 100, 1)


def _now() -> str:
    """UTC now as naive ISO text (the reference's control timestamps)."""
    return datetime.now(timezone.utc).replace(tzinfo=None).isoformat()
