"""Keyed MERGE (upsert) and FK-integrity operators.

The reference's sink is ``INSERT ... ON CONFLICT (key) DO UPDATE``
(ref tiny_api_v2_cliente.py:122-123, :198 — and per README.md:12
"Carga incremental (novos e alterados)" the same contract for all data
tables on their PKs). Spark has no PK enforcement, so uniqueness is
owned here: dedupe-keep-latest inside the increment, then an anti-join
MERGE against the existing table.

Scale notes:
- ``merge_upsert`` shuffles both sides on the key — unavoidable for a
  keyed merge; at 100 TB the existing table should be bucketed by the
  key so only the (small) increment shuffles.
- ``keep_latest`` is a single window over the key — map-side it's one
  shuffle on the same key the merge needs, so AQE reuses the exchange.
- FK audits are semi/anti joins: broadcast when the parent is a dim.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def keep_latest(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str] | None = None,
) -> DataFrame:
    """One row per key, keeping the first row under ``order_by``.

    The window the reference's upsert semantically requires: when an
    increment carries several versions of the same key, only the
    latest may win (ON CONFLICT DO UPDATE applies them in arrival
    order; relationally we take the max-version row directly).
    ``order_by`` must be a total order (include a unique tiebreaker)
    or the survivor is nondeterministic; without it any one row per
    key survives (``dropDuplicates``).
    """
    if order_by is None:
        return df.dropDuplicates(list(keys))
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(
    existing: DataFrame,
    incoming: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str] | None = None,
) -> DataFrame:
    """MERGE: incoming rows replace existing rows with the same key.

    Equivalent to ``INSERT ... ON CONFLICT (keys) DO UPDATE SET *``
    applied row-by-row (ref tiny_api_v2_cliente.py:122-123), expressed
    as: (existing ∖ incoming-keys) ∪ dedup(incoming). Idempotent:
    applying the same increment twice yields the same table.
    """
    incoming = keep_latest(incoming, keys, order_by)
    survivors = existing.join(incoming.select(*keys), list(keys), "left_anti")
    return survivors.unionByName(incoming)


def replace_children(
    existing: DataFrame,
    incoming: DataFrame,
    parent_key: Sequence[str] | str,
) -> DataFrame:
    """Replace ALL child rows of every parent present in the increment.

    The reference's detail-table semantics: ``search_pedidos_v2``
    re-fetches an order's items and replaces them wholesale (delete
    by ``id_pedido`` + insert; ref tiny_api_v2_cliente.py:392 contract,
    DDL :89 ON DELETE CASCADE) — child rows have no stable identity of
    their own, so per-row upsert would leak deleted items. Expressed
    as: (existing ∖ incoming-parents) ∪ incoming — one anti-join on
    the parent key.
    """
    keys = [parent_key] if isinstance(parent_key, str) else list(parent_key)
    # rename the parent-key columns before the anti-join: when existing
    # and incoming share lineage (both derived from one DataFrame), a
    # same-name join key resolves both sides to the SAME attribute and
    # the anti-join silently matches nothing/everything
    parents = incoming.select(
        *[F.col(k).alias(f"__pk_{k}") for k in keys]
    ).distinct()
    cond = None
    for k in keys:
        clause = existing[k] == parents[f"__pk_{k}"]
        cond = clause if cond is None else (cond & clause)
    survivors = existing.join(parents, cond, "left_anti")
    return survivors.unionByName(incoming)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Change-data-capture diff of two table versions.

    One full-outer join on the key → per-row op ∈ {insert, delete,
    update, unchanged} (non-key columns compared as a struct). The
    inverse of MERGE: where merge_upsert applies a change set, this
    recovers one — auditing what an incremental load actually did, or
    emitting a downstream CDC feed from snapshots. Keys are renamed on
    the old side so shared-lineage inputs can't alias (see
    replace_children).
    """
    compare = list(
        compare_cols
        if compare_cols is not None
        else [c for c in new.columns if c not in keys]
    )
    o = old.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        F.struct(*compare).alias("__old"),
    )
    n = new.select(*keys, F.struct(*compare).alias("__new"))
    cond = None
    for k in keys:
        clause = n[k] == o[f"__ok_{k}"]
        cond = clause if cond is None else (cond & clause)
    joined = n.join(o, cond, "full_outer")
    first = keys[0]
    op = (
        F.when(F.col(f"__ok_{first}").isNull(), F.lit("insert"))
        .when(n[first].isNull(), F.lit("delete"))
        .when(F.col("__old") != F.col("__new"), F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        *[F.coalesce(n[k], F.col(f"__ok_{k}")).alias(k) for k in keys],
        op.alias("op"),
        F.col("__old").alias("old_values"),
        F.col("__new").alias("new_values"),
    )


def scd2_from_changelog(
    df: DataFrame,
    key: str,
    attr: str,
    ts_col: str,
    tiebreak: str,
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a change log.

    The reference's upsert keeps only the latest row per key (ON
    CONFLICT DO UPDATE, ref tiny_api_v2_cliente.py:122-123) — Type 1.
    The analytical model its README targets ("análise e criação de
    dashboards", README.md:3) usually also wants the Type-2 reading:
    *when* did each attribute value hold. This derives it relationally:
    collapse consecutive rows with the same ``attr`` per ``key``
    (ordered by ``ts_col, tiebreak`` — a total order) into effectivity
    intervals ``[effective_from, effective_to)``, with a 1-based
    ``version`` and ``is_current`` on the open interval.

    Scale: both windows partition by ``key``, so the whole operator is
    one shuffle (AQE reuses the exchange); with the change log bucketed
    by key in the incremental layer it is shuffle-free.
    """
    w = Window.partitionBy(key).orderBy(ts_col, tiebreak)
    runs = (
        df.select(key, attr, ts_col, tiebreak)
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__prev", F.lag(attr).over(w))
        # null-safe change test so NULL-valued runs collapse too; the
        # first row per key is always a run start
        .filter((F.col("__rn") == 1) | ~F.col(attr).eqNullSafe(F.col("__prev")))
        .select(key, attr, F.col(ts_col).alias("effective_from"), tiebreak)
    )
    w2 = Window.partitionBy(key).orderBy("effective_from", tiebreak)
    return runs.select(
        key,
        attr,
        "effective_from",
        F.lead("effective_from").over(w2).alias("effective_to"),
        F.row_number().over(w2).alias("version"),
        F.lead("effective_from").over(w2).isNull().alias("is_current"),
    )


def fk_orphans(child: DataFrame, parent: DataFrame, fk: str, pk: str) -> DataFrame:
    """Anti-join audit: child rows whose FK has no parent.

    Replaces the DB-enforced FK constraints the reference declares
    (ref tiny_api_v2_cliente.py:83-89) with an explicit integrity
    check — the engine's answer to referential integrity.
    """
    return child.join(parent, child[fk] == parent[pk], "left_anti")


def cascade_delete(child: DataFrame, parent: DataFrame, fk: str, pk: str) -> DataFrame:
    """Semi-join: keep only child rows whose parent still exists.

    The relational reading of ``ON DELETE CASCADE`` (ref :83-89):
    after parent deletions, children of deleted parents vanish.
    """
    return child.join(parent, child[fk] == parent[pk], "left_semi")


def set_null_on_missing_parent(
    child: DataFrame, parent: DataFrame, fk: str, pk: str
) -> DataFrame:
    """``ON DELETE SET NULL`` (ref :83, categoria self-FK): null the FK
    when the parent is gone, keep the row."""
    parent_keys = parent.select(F.col(pk).alias("__pk")).distinct()
    joined = child.join(parent_keys, child[fk] == F.col("__pk"), "left")
    return joined.withColumn(
        fk, F.when(F.col("__pk").isNull(), F.lit(None)).otherwise(F.col(fk))
    ).drop("__pk")
