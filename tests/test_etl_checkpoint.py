"""Page-checkpoint resume semantics (ref :183-223)."""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pytest

from tinyerp_etl_spark.etl.checkpoint import (
    STATUS_DONE,
    STATUS_ERROR,
    STATUS_RUNNING,
    PageCheckpoint,
)
from tinyerp_etl_spark.etl.watermark import WatermarkStore


def test_fresh_start_is_page_one(spark, tmp_path):
    cp = PageCheckpoint(spark, str(tmp_path / "cp"))
    assert cp.start("produtos", "01/08/2026 00:00:00") == 1


def test_resume_after_interrupt_same_filter(spark, tmp_path):
    cp = PageCheckpoint(spark, str(tmp_path / "cp"))
    cp.start("produtos", "01/08/2026 00:00:00")
    cp.advance("produtos", page=3, total_pages=10, n_records=150)
    # crash here: status stays EM_ANDAMENTO → resume at 4
    assert cp.start("produtos", "01/08/2026 00:00:00") == 4


def test_resume_after_error_same_filter(spark, tmp_path):
    cp = PageCheckpoint(spark, str(tmp_path / "cp"))
    cp.start("pedidos", "01/08/2026 00:00:00")
    cp.advance("pedidos", page=7, total_pages=9, n_records=10)
    cp.finish("pedidos", STATUS_ERROR)
    assert cp.start("pedidos", "01/08/2026 00:00:00") == 8


def test_filter_change_restarts(spark, tmp_path):
    cp = PageCheckpoint(spark, str(tmp_path / "cp"))
    cp.start("produtos", "01/08/2026 00:00:00")
    cp.advance("produtos", page=5, total_pages=10, n_records=100)
    assert cp.start("produtos", "02/08/2026 00:00:00") == 1


def test_completed_run_restarts(spark, tmp_path):
    cp = PageCheckpoint(spark, str(tmp_path / "cp"))
    cp.start("produtos", "01/08/2026 00:00:00")
    cp.advance("produtos", page=10, total_pages=10, n_records=100)
    cp.finish("produtos", STATUS_DONE)
    assert cp.start("produtos", "01/08/2026 00:00:00") == 1


def test_running_counter_accumulates(spark, tmp_path):
    cp = PageCheckpoint(spark, str(tmp_path / "cp"))
    cp.start("estoques", "01/08/2026 00:00:00")
    cp.advance("estoques", 1, 4, 100)
    cp.advance("estoques", 2, 4, 50)
    p = cp.progress("estoques")
    assert p.registros_processados == 150  # ref :208
    assert cp.percent_complete("estoques") == 50.0  # ref :211
    assert p.status_execucao == STATUS_RUNNING


def test_advance_reads_the_store_once(spark, tmp_path):
    cp = PageCheckpoint(spark, str(tmp_path / "cp"))
    cp.start("estoques", "01/08/2026 00:00:00")
    reads = []
    real = cp._read_all
    cp._read_all = lambda: reads.append(1) or real()
    cp.advance("estoques", 1, 4, 100)
    assert len(reads) == 1


def test_control_state_survives_leftover_temp_and_interrupted_write(
    spark, tmp_path, monkeypatch
):
    """Checkpoint and watermark writes replace their file atomically: a
    stray temp file from a crashed writer is ignored, and a write that
    dies before the replace leaves the previous state readable."""
    cp = PageCheckpoint(spark, str(tmp_path / "cp"))
    wm = WatermarkStore(spark, str(tmp_path / "wm"))
    t1 = datetime(2026, 8, 10, 8, 0, 0, tzinfo=timezone.utc)
    cp.start("pedidos", "01/08/2026 00:00:00")
    cp.advance("pedidos", 3, 9, 30)
    wm.commit("pedidos", t1)
    for name in ("cp", "wm"):  # a crashed writer's half-written temp file
        with open(tmp_path / f".{name}.leftover", "w") as f:
            f.write('{"pedidos": ')

    def crash(src, dst):
        raise OSError("crash before replace")

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(OSError, match="crash"):
        cp.advance("pedidos", 4, 9, 10)
    with pytest.raises(OSError, match="crash"):
        wm.commit("pedidos", datetime(2026, 8, 12, tzinfo=timezone.utc))
    monkeypatch.undo()

    p = cp.progress("pedidos")
    assert (p.pagina_atual, p.registros_processados) == (3, 30)
    assert cp.start("pedidos", "01/08/2026 00:00:00") == 4
    assert wm.get("pedidos") == t1
    # the interrupted writes left no temp files of their own
    assert sorted(os.listdir(tmp_path)) == [".cp.leftover", ".wm.leftover", "cp", "wm"]


def test_control_state_in_the_parquet_format_fails_clearly(spark, tmp_path):
    """A directory at a control-state path (the earlier parquet format)
    is reported as such, not as an IsADirectoryError."""
    for name in ("cp", "wm"):
        os.makedirs(tmp_path / name)
    with pytest.raises(ValueError, match="parquet format"):
        PageCheckpoint(spark, str(tmp_path / "cp")).start("pedidos", "01/08/2026 00:00:00")
    with pytest.raises(ValueError, match="parquet format"):
        WatermarkStore(spark, str(tmp_path / "wm")).get("pedidos")
