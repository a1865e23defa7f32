"""TableStore.upsert: merge-on-read versions that write only the page —
reads equal merge_upsert, fold flattens, IO ∝ page, and the store's
other operations (schema evolution, vacuum, commit_append, OCC) keep
their contracts on delta versions."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tinyerp_etl_spark.etl.merge import merge_upsert, snapshot_diff
from tinyerp_etl_spark.etl.table_store import ConcurrentWriteError, TableStore
from tinyerp_etl_spark.functions.localdf import local_df

SCHEMA = "k long, v string, ver long"
KEYS = ["k"]


def _latest():
    return [F.col("ver").desc()]


def _store(spark, tmp_path, name="t", partition_by=None):
    return TableStore(
        spark, str(tmp_path / name), StructType.fromDDL(SCHEMA), partition_by=partition_by
    )


def _rows(df):
    return sorted((tuple(r) for r in df.select("k", "v", "ver").collect()), key=str)


def _base(spark, n):
    return local_df(spark, [(i, f"b{i}", 0) for i in range(n)], SCHEMA)


def _page(spark, p, n_base):
    """40 updates spread over the base, 10 new keys, and 5 keys listed
    twice (the later ``ver`` must win): 55 rows, 50 distinct keys."""
    upd = [(i * (n_base // 40) + p, f"u{p}", p) for i in range(40)]
    new = [(n_base + 100 * p + i, f"n{p}", p) for i in range(10)]
    again = [(k, f"again{p}", p + 1) for k, _v, _ver in upd[:5]]
    return local_df(spark, [(k, v, ver * 10) for k, v, ver in upd + new + again], SCHEMA)


def _has_delta(store, v):
    return os.path.isdir(os.path.join(store._version_dir(v), "_delta"))


def _parquet_inodes(d):
    out = {}
    for root, _dirs, files in os.walk(d):
        for fn in files:
            if fn.endswith(".parquet") and not fn.startswith((".", "_")):
                p = os.path.join(root, fn)
                out[p] = os.stat(p).st_ino
    return out


def test_delta_versions_read_as_merge_upsert_and_fold_flat(spark, tmp_path):
    """Also under a root inside a ``gen=N`` directory (a layer's gen is
    its own directory's), and with NULL keys, which a MERGE never
    matches: every page's NULL-key row survives the later pages."""
    st = _store(spark, tmp_path, name="gen=7/t")
    base = _base(spark, 200).unionByName(local_df(spark, [(None, "bnull", 0)], SCHEMA))
    st.commit(base, n_files=2)
    want = {1: base}
    for p in (1, 2, 3):
        page = _page(spark, p, 200).unionByName(
            local_df(spark, [(None, f"null{p}", p), (None, f"null{p}", p)], SCHEMA)
        )
        v = st.upsert(page, KEYS, _latest())
        assert v == p + 1 and _has_delta(st, v)
        want[v] = merge_upsert(want[v - 1], page, KEYS, _latest())
    # every retained version, delta or flat, reads as the sequential MERGE
    for v, df in want.items():
        assert _rows(st.read_version(v)) == _rows(df), f"v{v}"

    def ops(a, b):
        return sorted(tuple(r) for r in snapshot_diff(a, b, KEYS).groupBy("op").count().collect())

    # CDC between a flat and a delta version sees the same change set
    assert ops(st.read_version(1), st.read_version(4)) == ops(want[1], want[4])

    assert st.fold() == 5
    assert not _has_delta(st, 5)
    assert _rows(st.read()) == _rows(want[4])
    assert len([r for r in _rows(st.read()) if r[0] is None]) == 4
    assert st.fold() is None  # already flat: no commit
    assert st.current_version() == 5


def test_upsert_into_empty_store_and_without_order(spark, tmp_path):
    st = _store(spark, tmp_path)
    assert st.fold() is None
    rows = [(1, "a", 1), (2, "b", 1), (1, "a", 1)]
    assert st.upsert(local_df(spark, rows, SCHEMA), KEYS) == 1
    assert _has_delta(st, 1)
    assert _rows(st.read()) == [(1, "a", 1), (2, "b", 1)]


def test_upsert_fold_leaves_the_table_flat(spark, tmp_path):
    """``fold=True`` (a sync step's last page) commits the merge as one
    flat version, on a flat table and with the layers folded in."""
    st = _store(spark, tmp_path)
    st.commit(_base(spark, 100), n_files=1)
    want = _base(spark, 100)
    for p in (1, 2, 3):
        page = _page(spark, p, 100)
        v = st.upsert(page, KEYS, _latest(), fold=p != 2)
        want = merge_upsert(want, page, KEYS, _latest())
        assert _rows(st.read()) == _rows(want)
    assert v == 4
    assert [_has_delta(st, x) for x in (2, 3, 4)] == [False, True, False]
    empty = _store(spark, tmp_path, name="e")
    rows = local_df(spark, [(1, "a", 1), (1, "b", 2)], SCHEMA)
    assert empty.upsert(rows, KEYS, _latest(), fold=True) == 1
    assert not _has_delta(empty, 1)
    assert _rows(empty.read()) == [(1, "b", 2)]


def test_add_column_between_upserts_reads_old_layers_with_nulls(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.commit(_base(spark, 10), n_files=1)
    st.upsert(local_df(spark, [(1, "x", 1)], SCHEMA), KEYS, _latest())
    assert st.add_column("note", "string") is True
    st.upsert(
        local_df(spark, [(2, "y", 1, "n2")], SCHEMA + ", note string"), KEYS, _latest()
    )
    got = {r["k"]: (r["v"], r["note"]) for r in st.read().collect()}
    assert len(got) == 10
    assert got[1] == ("x", None)  # first layer predates the column
    assert got[2] == ("y", "n2")
    assert got[3] == ("b3", None)  # base predates it too


def test_vacuum_keeps_retained_delta_versions_readable(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.commit(_base(spark, 100), n_files=1)
    want = _base(spark, 100)
    for p in (1, 2, 3):
        page = _page(spark, p, 100)
        st.upsert(page, KEYS, _latest())
        want = merge_upsert(want, page, KEYS, _latest())
    v3 = _rows(st.read_version(3))
    assert st.vacuum(retain_last=2) == [1, 2]
    # the base files and the first two layers live on through links
    assert _rows(st.read_version(3)) == v3
    assert _rows(st.read()) == _rows(want)


def test_commit_append_on_delta_version_raises(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.commit(_base(spark, 5), n_files=1)
    st.upsert(local_df(spark, [(1, "x", 1)], SCHEMA), KEYS, _latest())
    with pytest.raises(ValueError, match="delta"):
        st.commit_append(local_df(spark, [(9, "z", 0)], SCHEMA))
    assert st.versions() == [1, 2]
    st.fold()
    st.commit_append(local_df(spark, [(9, "z", 0)], SCHEMA))  # flat again: fine
    assert len(_rows(st.read())) == 6


def test_upsert_on_partitioned_store_raises(spark, tmp_path):
    st = _store(spark, tmp_path, partition_by=["ver"])
    st.commit(_base(spark, 5))
    with pytest.raises(ValueError, match="partition_by"):
        st.upsert(local_df(spark, [(1, "x", 1)], SCHEMA), KEYS, _latest())
    assert st.versions() == [1]


@pytest.mark.parametrize("fold", [False, True])
def test_upsert_loses_to_commit_landing_during_its_write(spark, tmp_path, fold):
    """The version is claimed pinned to the version read: a commit that
    lands while the page is written wins, and the upsert raises."""
    st = _store(spark, tmp_path)
    st.commit(_base(spark, 5), n_files=1)
    other = _store(spark, tmp_path)
    real = st._stage_write

    def racing(*a, **kw):
        other.commit(merge_upsert(other.read(), local_df(spark, [(7, "o", 0)], SCHEMA), KEYS))
        return real(*a, **kw)

    st._stage_write = racing
    with pytest.raises(ConcurrentWriteError):
        st.upsert(local_df(spark, [(1, "x", 1)], SCHEMA), KEYS, _latest(), fold=fold)
    assert st.versions() == [1, 2]
    assert (7, "o", 0) in _rows(st.read())
    assert not [d for d in os.listdir(st.path) if d.startswith(".staging")]


@pytest.mark.parametrize("n_base", [1_000, 10_000])
def test_upsert_writes_only_the_page(spark, tmp_path, n_base):
    """IO ∝ page, flat as the base grows: each upsert writes exactly its
    page's distinct keys, and every file of the previous version is a
    hard link, not a copy."""
    st = _store(spark, tmp_path)
    st.commit(_base(spark, n_base), n_files=2)
    for p in (1, 2, 3):
        prev = _parquet_inodes(st._version_dir(st.current_version()))
        v = st.upsert(_page(spark, p, n_base), KEYS, _latest())
        now = _parquet_inodes(st._version_dir(v))
        assert set(prev.values()) <= set(now.values())
        written = [f for f, ino in now.items() if ino not in set(prev.values())]
        assert sum(pq.read_metadata(f).num_rows for f in written) == 50
