"""End-to-end incremental sync: paged source → MERGE → watermark/checkpoint.

Drives run_entity_sync the way the reference's main drives
executar_etapa_paginada, with the events test table as the upstream
system and a page source that serves it in date-filtered pages.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from tinyerp_etl_spark.etl.checkpoint import (
    STATUS_DONE,
    STATUS_ERROR,
    STATUS_RUNNING,
    PageCheckpoint,
)
from tinyerp_etl_spark.etl.merge import merge_upsert
from tinyerp_etl_spark.etl.pipeline import EntitySync, run_entity_sync, run_pipeline
from tinyerp_etl_spark.etl.table_store import TableStore
from tinyerp_etl_spark.etl.watermark import WatermarkStore
from tinyerp_etl_spark.sources.catalog import TABLES, load_table

NOW = datetime(2024, 1, 31, 8, 0, 0, tzinfo=timezone.utc)
PAGE_SIZE = 500


def make_events_page_source(spark, sf_dir):
    """Page source over the events table: filter by ts, serve fixed pages.

    Mirrors the elided funcao_busca contract (ref :348): returns
    (page_df | None, total_pages). Page slicing keys on event_id so
    pages are deterministic.
    """
    events = load_table(spark, sf_dir, "events")

    def source(filter_ts: datetime, page: int):
        inc = events.filter(F.col("ts") > F.lit(filter_ts.replace(tzinfo=None)))
        total = inc.count()
        total_pages = (total + PAGE_SIZE - 1) // PAGE_SIZE
        if total == 0:
            return None, 0
        ranked = inc.withColumn(
            "__pg",
            (F.row_number().over(__import__("pyspark").sql.window.Window.orderBy("event_id")) - 1)
            / PAGE_SIZE,
        )
        page_df = ranked.filter(F.col("__pg").cast("int") == page - 1).drop("__pg")
        return page_df, total_pages

    return source


@pytest.fixture
def stores(spark, tmp_path):
    wm = WatermarkStore(spark, str(tmp_path / "wm"))
    cp = PageCheckpoint(spark, str(tmp_path / "cp"))
    tgt = TableStore(spark, str(tmp_path / "events_tbl"), TABLES["events"])
    return wm, cp, tgt


def _sync_cfg(spark, sf_dir, tgt, max_pages=10_000):
    return EntitySync(
        name="events",
        source=make_events_page_source(spark, sf_dir),
        store=tgt,
        keys=["event_id"],
        max_pages=max_pages,
    )


def test_cold_start_full_sync(spark, sf_dir, stores):
    wm, cp, tgt = stores
    cfg = _sync_cfg(spark, sf_dir, tgt)
    res = run_entity_sync(spark, cfg, wm, cp, now=NOW)
    expected = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts") > F.lit((NOW - timedelta(days=60)).replace(tzinfo=None)))
        .count()
    )
    assert res.status == STATUS_DONE
    assert tgt.read().count() == expected
    assert res.records == expected
    # watermark committed at step start
    assert wm.get("events") == NOW


def test_second_run_is_incremental_noop(spark, sf_dir, stores):
    wm, cp, tgt = stores
    cfg = _sync_cfg(spark, sf_dir, tgt)
    run_entity_sync(spark, cfg, wm, cp, now=NOW)
    n1 = tgt.read().count()
    v1 = tgt.current_version()
    # second run: watermark > max(ts) in data → empty increment, no growth
    res2 = run_entity_sync(spark, cfg, wm, cp, now=NOW + timedelta(days=1))
    assert res2.status == STATUS_DONE
    assert res2.records == 0
    assert tgt.read().count() == n1
    assert tgt.current_version() == v1  # no data page → no new version


def test_rerun_after_watermark_reset_is_idempotent(spark, sf_dir, stores):
    """At-least-once delivery + idempotent MERGE ⇒ same table."""
    wm, cp, tgt = stores
    cfg = _sync_cfg(spark, sf_dir, tgt)
    run_entity_sync(spark, cfg, wm, cp, now=NOW)
    rows1 = sorted(tuple(r) for r in tgt.read().collect())
    # wipe the watermark: the full window is re-read (overlap), MERGE absorbs
    wm.commit("events", NOW - timedelta(days=60))
    run_entity_sync(spark, cfg, wm, cp, now=NOW)
    rows2 = sorted(tuple(r) for r in tgt.read().collect())
    assert rows1 == rows2


def test_page_cap_leaves_work_running(spark, sf_dir, stores):
    wm, cp, tgt = stores
    cfg = _sync_cfg(spark, sf_dir, tgt, max_pages=1)
    res = run_entity_sync(spark, cfg, wm, cp, now=NOW)
    assert res.status == STATUS_RUNNING  # EM_ANDAMENTO (ref :368-370)
    assert tgt.read().count() == PAGE_SIZE
    assert wm.get("events") is None  # watermark NOT committed mid-step
    # next run resumes from page 2 and finishes
    cfg2 = _sync_cfg(spark, sf_dir, tgt, max_pages=10_000)
    res2 = run_entity_sync(spark, cfg2, wm, cp, now=NOW)
    assert res2.status == STATUS_DONE
    assert wm.get("events") == NOW


def test_source_failure_marks_error_and_resumes(spark, sf_dir, stores):
    wm, cp, tgt = stores
    real = make_events_page_source(spark, sf_dir)
    calls = {"n": 0}

    def flaky(filter_ts, page):
        calls["n"] += 1
        if page == 2:
            raise RuntimeError("boom on page 2")
        return real(filter_ts, page)

    cfg = EntitySync(
        name="events", source=flaky, store=tgt, keys=["event_id"]
    )
    res = run_entity_sync(spark, cfg, wm, cp, now=NOW)
    assert res.status == STATUS_ERROR
    assert res.error and "boom" in res.error
    assert wm.get("events") is None
    # the ERRO step leaves page 1's delta layer; reads resolve it
    assert _has_delta(tgt)
    assert tgt.read().count() == PAGE_SIZE
    # recovery with the healthy source resumes at page 2, not page 1
    cfg2 = _sync_cfg(spark, sf_dir, tgt)
    res2 = run_entity_sync(spark, cfg2, wm, cp, now=NOW)
    assert res2.status == STATUS_DONE
    full = run_full_expected(spark, sf_dir)
    assert tgt.read().count() == full
    # ...and folds: the table at rest is flat and equals the one-shot table
    assert not _has_delta(tgt)
    assert _sorted_rows(tgt.read()) == _sorted_rows(_window_events(spark, sf_dir))


def _has_delta(store):
    return os.path.isdir(os.path.join(store._version_dir(store.current_version()), "_delta"))


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.select(*TABLES["events"].fieldNames()).collect())


def _window_events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").filter(
        F.col("ts") > F.lit((NOW - timedelta(days=60)).replace(tzinfo=None))
    )


def test_concurrent_commit_during_page_write_fails_step_and_loses_no_rows(
    spark, sf_dir, stores
):
    """A writer that commits while page 2 is being written must not be
    silently overwritten: the page's upsert is pinned to the version it
    read, so the step ends ERRO and the next run resumes at page 2."""
    wm, cp, tgt = stores
    extra = (
        load_table(spark, sf_dir, "events")
        .limit(1)
        .withColumn("event_id", F.col("event_id") + 91_000_000)
    )
    other = TableStore(spark, tgt.path, TABLES["events"])
    real_write = tgt._stage_write
    writes = {"n": 0}

    def racing_write(*a, **kw):
        writes["n"] += 1
        if writes["n"] == 2:  # page 2's write: a concurrent commit lands
            other.commit(merge_upsert(other.read(), extra, ["event_id"]))
        return real_write(*a, **kw)

    tgt._stage_write = racing_write
    try:
        res = run_entity_sync(spark, _sync_cfg(spark, sf_dir, tgt), wm, cp, now=NOW)
    finally:
        del tgt._stage_write
    assert res.status == STATUS_ERROR
    assert "during the write" in res.error
    assert cp.progress("events").pagina_atual == 1
    assert tgt.read().filter(F.col("event_id") >= 91_000_000).count() == 1

    res2 = run_entity_sync(spark, _sync_cfg(spark, sf_dir, tgt), wm, cp, now=NOW)
    assert res2.status == STATUS_DONE
    assert not _has_delta(tgt)
    assert _sorted_rows(tgt.read()) == _sorted_rows(
        _window_events(spark, sf_dir).unionByName(extra)
    )


def test_records_count_raw_page_rows_and_empty_pages_finish(spark, sf_dir, stores):
    """records counts every raw page row, in-page duplicates included;
    pages with no rows — the last one included — still finish."""
    wm, cp, tgt = stores
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 30)
    pages = {
        1: ev.unionByName(ev.filter(F.col("event_id") < 10)),  # 40 rows, 30 keys
        2: ev.limit(0),
        3: ev.filter(F.lit(False)),
        4: spark.createDataFrame([], ev.schema),
    }
    cfg = EntitySync(
        name="events",
        source=lambda _ts, page: (pages[page], len(pages)),
        store=tgt,
        keys=["event_id"],
    )
    res = run_entity_sync(spark, cfg, wm, cp, now=NOW)
    assert (res.status, res.pages, res.records) == (STATUS_DONE, 4, 40)
    assert cp.progress("events").registros_processados == 40
    assert not _has_delta(tgt)
    assert _sorted_rows(tgt.read()) == _sorted_rows(ev)


def test_single_page_step_commits_one_flat_version(spark, sf_dir, stores):
    """A one-page step writes no delta layer: its page merges flat in
    one commit, as a plain MERGE does."""
    wm, cp, tgt = stores
    ev = load_table(spark, sf_dir, "events")
    tgt.commit(ev.filter(F.col("event_id") < 50))
    page = ev.filter(F.col("event_id").between(40, 59))
    cfg = EntitySync(
        name="events", source=lambda _ts, _page: (page, 1), store=tgt, keys=["event_id"]
    )
    res = run_entity_sync(spark, cfg, wm, cp, now=NOW)
    assert (res.status, res.records) == (STATUS_DONE, 20)
    assert tgt.versions() == [1, 2]
    assert not _has_delta(tgt)
    assert _sorted_rows(tgt.read()) == _sorted_rows(ev.filter(F.col("event_id") < 60))


def run_full_expected(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts") > F.lit((NOW - timedelta(days=60)).replace(tzinfo=None)))
        .count()
    )


def test_pipeline_steps_fail_independently(spark, sf_dir, stores, tmp_path):
    wm, cp, tgt = stores

    def broken(filter_ts, page):
        raise RuntimeError("entity down")

    tgt2 = TableStore(spark, str(tmp_path / "t2"), TABLES["events"])
    syncs = [
        EntitySync(name="broken_entity", source=broken, store=tgt2, keys=["event_id"]),
        _sync_cfg(spark, sf_dir, tgt),
    ]
    results = run_pipeline(spark, syncs, wm, cp, now=NOW)
    assert [r.status for r in results] == [STATUS_ERROR, STATUS_DONE]


def test_schema_evolution_add_column(spark, sf_dir, tmp_path):
    """ALTER TABLE ADD COLUMN IF NOT EXISTS semantics (ref :93,:97-99):
    idempotent, old versions readable with NULLs, new instances see the
    evolved schema, new commits carry the column."""
    from pyspark.sql import functions as F

    from tinyerp_etl_spark.etl.table_store import TableStore
    from tinyerp_etl_spark.sources.catalog import TABLES, load_table

    ev = load_table(spark, sf_dir, "events").limit(50)
    store = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    store.commit(ev, n_files=1)

    assert store.add_column("data_filtro_api", "timestamp") is True
    assert store.add_column("data_filtro_api", "timestamp") is False  # IF NOT EXISTS

    # v1 (written pre-evolution) reads back with the new column as NULL
    got = store.read()
    assert "data_filtro_api" in got.columns
    assert got.filter(F.col("data_filtro_api").isNotNull()).count() == 0
    assert got.count() == 50

    # a fresh instance constructed with the OLD schema sees the evolved one
    store2 = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    assert "data_filtro_api" in store2.schema.fieldNames()

    # a post-evolution commit persists real values for the new column
    store2.commit(store2.read().withColumn("data_filtro_api", F.lit("2026-01-01").cast("timestamp")), n_files=1)
    assert store2.read().filter(F.col("data_filtro_api").isNotNull()).count() == 50


def test_time_travel_read_and_cdc_between_versions(spark, sf_dir, tmp_path):
    """Version dirs are immutable → read_version reproduces any past
    state; snapshot_diff over two versions recovers the change set."""
    from pyspark.sql import functions as F

    from tinyerp_etl_spark.etl.merge import snapshot_diff
    from tinyerp_etl_spark.etl.table_store import TableStore
    from tinyerp_etl_spark.sources.catalog import TABLES, load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 40)
    store = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    store.commit(ev, n_files=1)
    # v2: bump value on even ids, drop ids >= 30
    store.commit(
        store.read()
        .filter(F.col("event_id") < 30)
        .withColumn(
            "value",
            F.when(F.col("event_id") % 2 == 0, F.col("value") + 1.0).otherwise(
                F.col("value")
            ),
        ),
        n_files=1,
    )
    assert store.versions() == [1, 2]
    assert store.read_version(1).count() == 40
    diff = snapshot_diff(
        store.read_version(1), store.read(), keys=["event_id"], compare_cols=["value"]
    )
    ops = {r["op"]: r["n"] for r in diff.groupBy("op").agg(F.count("*").alias("n")).collect()}
    assert ops.get("delete", 0) == 10
    assert ops.get("update", 0) == 15
    assert ops.get("insert", 0) == 0

    import pytest

    with pytest.raises(ValueError):
        store.read_version(99)


def test_vacuum_reaps_old_versions_protects_current(spark, sf_dir, tmp_path):
    """VACUUM deletes versions beyond the retention window, never the
    CURRENT pointer version, and reaped versions raise on time travel
    while retained ones stay readable."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from tinyerp_etl_spark.etl.table_store import TableStore
    from tinyerp_etl_spark.sources.catalog import TABLES, load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 20)
    store = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    for i in range(1, 5):  # v1..v4
        store.commit(ev.filter(F.col("event_id") < 5 * i), n_files=1)
    assert store.versions() == [1, 2, 3, 4]

    assert store.vacuum(retain_last=2) == [1, 2]
    assert store.versions() == [3, 4]
    with _pytest.raises(ValueError):
        store.read_version(1)
    assert store.read_version(3).count() == 15
    assert store.read().count() == 20  # current untouched

    # retention smaller than history never deletes the CURRENT version
    assert store.vacuum(retain_last=1) == [3]
    assert store.versions() == [4]
    assert store.read().count() == 20
    with _pytest.raises(ValueError):
        store.vacuum(retain_last=0)
    # idempotent once within retention
    assert store.vacuum(retain_last=1) == []


def test_optimistic_concurrency_two_writer_race(spark, sf_dir, tmp_path):
    """Two writers computing from the same base version: the second
    commit with expected_version must fail with ConcurrentWriteError
    (not silently last-win the pointer rename), its orphan version dir
    must not survive, and the first writer's rows stay current."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from tinyerp_etl_spark.etl.table_store import ConcurrentWriteError, TableStore
    from tinyerp_etl_spark.sources.catalog import TABLES, load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 40)
    store = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    store.commit(ev, n_files=1)

    # both writers read at v1
    base = store.current_version()
    writer_a = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    writer_b = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    df_a = writer_a.read().filter(F.col("event_id") < 30)
    df_b = writer_b.read().filter(F.col("event_id") < 20)

    assert writer_a.commit(df_a, n_files=1, expected_version=base) == 2

    with _pytest.raises(ConcurrentWriteError, match="advanced"):
        writer_b.commit(df_b, n_files=1, expected_version=base)

    # loser left no pointer movement and no committed version dir
    assert store.current_version() == 2
    assert store.versions() == [1, 2]
    assert store.read().count() == 30  # writer A's rows, not B's

    # the documented retry loop: re-read, recompute, commit at the new base
    df_b2 = writer_b.read().filter(F.col("event_id") < 20)
    assert writer_b.commit(df_b2, n_files=1, expected_version=2) == 3
    assert store.read().count() == 20

    # None preserves unconditional last-writer-wins for single-writer use
    assert store.commit(store.read(), n_files=1) == 4


def test_optimistic_concurrency_rejects_stale_fast(spark, sf_dir, tmp_path):
    """The early check fires before any data write: a stale
    expected_version fails immediately and writes nothing."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from tinyerp_etl_spark.etl.table_store import ConcurrentWriteError, TableStore
    from tinyerp_etl_spark.sources.catalog import TABLES, load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 10)
    store = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    store.commit(ev, n_files=1)
    store.commit(ev, n_files=1)

    before = set(os.listdir(str(tmp_path / "t")))
    with _pytest.raises(ConcurrentWriteError):
        store.commit(ev, n_files=1, expected_version=1)
    assert set(os.listdir(str(tmp_path / "t"))) == before


def test_commit_never_clobbers_claimed_version_dir(spark, sf_dir, tmp_path):
    """The rename-claim protocol: a version directory that already
    exists (a concurrent winner mid-commit) can never be overwritten
    or deleted by a racing writer — OCC raises, legacy takes the next
    free version; the claimed dir's contents survive both."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from tinyerp_etl_spark.etl.table_store import ConcurrentWriteError, TableStore
    from tinyerp_etl_spark.sources.catalog import TABLES, load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 10)
    store = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    store.commit(ev, n_files=1)

    # simulate a concurrent winner that has CLAIMED v2 (renamed its
    # staging dir into place) but not yet swapped the pointer
    claimed = store._version_dir(2)
    os.makedirs(claimed)
    marker = os.path.join(claimed, "winner.parquet")
    with open(marker, "w") as f:
        f.write("winner bytes")

    # the rename IS the commit record: current_version rolls forward
    # to the claimed dir even though the pointer still says 1, so the
    # racing OCC writer fails the fast pre-check — and never clobbers
    assert store.current_version() == 2
    with _pytest.raises(ConcurrentWriteError, match="advanced"):
        store.commit(ev, n_files=1, expected_version=1)
    assert open(marker).read() == "winner bytes"

    # legacy path (no expected_version): takes the NEXT free version,
    # still never touching the claimed dir
    v = store.commit(ev, n_files=1)
    assert v == 3
    assert open(marker).read() == "winner bytes"
    assert store.current_version() == 3
    # no staging leftovers
    assert not [d for d in os.listdir(str(tmp_path / "t")) if d.startswith(".staging")]


def test_occ_rename_is_sole_arbiter(spark, sf_dir, tmp_path):
    """The TOCTOU window between the post-write recheck and the claim:
    if a concurrent commit lands in that window, this writer's rename
    onto the PINNED v{expected+1} must fail (the dir is taken) — it
    must NOT re-read the pointer and silently claim one higher, which
    would orphan the concurrent writer's rows. Simulated by freezing
    current_version at the stale value so both pre-checks pass and
    only the rename can arbitrate."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from tinyerp_etl_spark.etl.table_store import ConcurrentWriteError, TableStore
    from tinyerp_etl_spark.sources.catalog import TABLES, load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 10)
    store = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    store.commit(ev, n_files=1)

    racer = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    racer.current_version = lambda: 1  # checks see the world at v1
    store.commit(ev.filter(F.col("event_id") < 5), n_files=1, expected_version=1)  # winner → v2
    with _pytest.raises(ConcurrentWriteError, match="claimed"):
        racer.commit(ev, n_files=1, expected_version=1)
    # the winner's commit is intact — nothing claimed past it
    assert store.current_version() == 2
    assert store.read().count() == 5


def test_crashed_writer_orphan_rolls_forward(spark, sf_dir, tmp_path):
    """A crash between the version-dir rename and the pointer swap must
    not wedge the table: the renamed dir holds a complete write, so it
    becomes the current version (roll-forward) and the OCC retry loop
    proceeds at the next number instead of failing forever."""
    import os

    from pyspark.sql import functions as F

    from tinyerp_etl_spark.etl.table_store import TableStore
    from tinyerp_etl_spark.sources.catalog import TABLES, load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 10)
    store = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    store.commit(ev, n_files=1)

    # simulate the crash: commit v2 fully, then rewind the pointer to v1
    store.commit(ev.filter(F.col("event_id") < 5), n_files=1)
    with open(os.path.join(str(tmp_path / "t"), "_CURRENT"), "w") as f:
        f.write("1")

    # readers roll forward to the complete renamed version
    assert store.current_version() == 2
    assert store.read().count() == 5
    # and an OCC commit computed from the rolled-forward version lands
    assert store.commit(ev, n_files=1, expected_version=2) == 3
    assert store.current_version() == 3
    assert store.read().count() == 10


def test_occ_armed_for_first_batch_into_fresh_store(spark, sf_dir, tmp_path):
    """expected_version=0 on an empty table means 'expected empty':
    a concurrent first commit must fail the check (the fresh-store
    hole the sink's `or 0` closes)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from tinyerp_etl_spark.etl.table_store import ConcurrentWriteError, TableStore
    from tinyerp_etl_spark.sources.catalog import TABLES, load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 10)
    store = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    assert store.commit(ev, n_files=1, expected_version=0) == 1  # empty as expected

    store2 = TableStore(spark, str(tmp_path / "t2"), TABLES["events"])
    store2.commit(ev, n_files=1)  # concurrent writer lands first
    with _pytest.raises(ConcurrentWriteError):
        store2.commit(ev, n_files=1, expected_version=0)
