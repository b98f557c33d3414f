"""Declarative MERGE oracle for the merge kernel's differential tests.

The package applies every MERGE through the bucket-co-located Arrow kernel
(``LakeTable.merge_bucketed``). This module is the independent formulation
it is checked against, planned by Catalyst instead of written by hand:

- ``compact_last_image``: per-key last-image compaction as a hash
  aggregation with ``max_by`` over (commit_lsn, seq);
- ``merge_oracle``: one full-outer join of the target rows with the
  compacted change set — untouched rows pass through, deletes drop,
  upserts take the change values except TOAST-marked columns, which carry
  the target's value forward.

Pure functions over DataFrames: nothing is written or committed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pg_walstream_spark.operators.compact import ORD, _qi, _qs, dml_images


def compact_last_image(images: DataFrame, key_columns: list[str],
                       data_columns: list[tuple[str, str]]) -> DataFrame:
    """One row per key: last op wins; each column takes the latest non-toast
    value; columns never materialized in-batch surface in ``_toast``."""
    ord_s = f"struct({', '.join(ORD)})"
    aggs = [F.expr(f"max_by(_op, {ord_s})").alias("_op")]
    for c, _ in data_columns:
        tc, qc = _qi("_t_" + c), _qi(c)
        aggs.append(
            F.expr(
                f"max(CASE WHEN _op = 'upsert' AND NOT {tc} THEN "
                f"named_struct('commit_lsn', commit_lsn, 'seq', seq, "
                f"'v', {qc}) END)"
            ).alias(f"_last_{c}")
        )
    out = images.groupBy(*key_columns).agg(*aggs)
    sel = [*[_qi(k) for k in key_columns], "_op"]
    for c, _ in data_columns:
        sel.append(f"{_qi('_last_' + c)}.v AS {_qi(c)}")
    cases = ", ".join(
        f"CASE WHEN _op = 'upsert' AND {_qi('_last_' + c)} IS NULL "
        f"THEN {_qs(c)} END"
        for c, _ in data_columns
    )
    return out.selectExpr(
        *sel, f"array_compact(array({cases})) AS _toast"
    )


def compact_changes(events: DataFrame, key_columns: list[str],
                    data_columns: list[tuple[str, str]],
                    aliases: dict[str, list[str]] | None = None,
                    key_types: dict[str, str] | None = None) -> DataFrame:
    """events (one table, committed DML only) → compacted change set
    (key cols, ``_op``, data cols, ``_toast``)."""
    images = dml_images(events, key_columns, data_columns, aliases=aliases,
                        key_types=key_types)
    return compact_last_image(images, key_columns, data_columns)


def _null_key(key_cols: list[str]) -> str:
    return "(" + " OR ".join(f"{_qi(k)} IS NULL" for k in key_cols) + ")"


def merge_oracle(target_df: DataFrame, changes: DataFrame,
                 key_cols: list[str], data_cols: list[str],
                 truncate_first: bool = False) -> tuple[DataFrame, dict]:
    """Apply a compacted change set (at most one row per key) to
    ``target_df``. Returns the merged rows (columns ``key_cols +
    data_cols``) and the counts the lake records in its lineage:
    ``upserts``/``deletes`` over non-null-key change rows and
    ``null_key_quarantined``. ``truncate_first`` merges into an empty
    target."""
    nk = _null_key(key_cols)
    counts = changes.selectExpr(
        f"count(CASE WHEN _op = 'upsert' AND NOT {nk} THEN 1 END) "
        "AS upserts",
        f"count(CASE WHEN _op = 'delete' AND NOT {nk} THEN 1 END) "
        "AS deletes",
        f"count(CASE WHEN {nk} THEN 1 END) AS null_key_quarantined",
    ).first().asDict()
    t = (target_df.limit(0) if truncate_first else target_df).alias("t")
    c = changes.filter(f"NOT {nk}").alias("c")
    cond = F.expr(" AND ".join(f"t.{_qi(k)} = c.{_qi(k)}" for k in key_cols))
    untouched = "c._op IS NULL"
    sel = [f"coalesce(c.{_qi(k)}, t.{_qi(k)}) AS {_qi(k)}" for k in key_cols]
    for cn in data_cols:
        q = _qi(cn)
        sel.append(
            f"CASE WHEN {untouched} THEN t.{q} "
            f"WHEN array_contains(coalesce(c._toast, array()), {_qs(cn)}) "
            f"THEN t.{q} ELSE c.{q} END AS {q}"
        )
    merged = t.join(c, cond, "full_outer").filter(
        f"({untouched}) OR c._op = 'upsert'").selectExpr(*sel)
    return merged, counts


def oracle_feed(changes: DataFrame, key_cols: list[str],
                data_cols: list[str], version: int, lsn: int) -> DataFrame:
    """The change-data-feed records a MERGE of ``changes`` at ``version`` /
    ``lsn`` must persist, in ``LakeTable.read_changes`` column order:
    the non-null-key compacted rows, stamped."""
    return changes.filter(f"NOT {_null_key(key_cols)}").selectExpr(
        *[_qi(n) for n in key_cols + data_cols], "_op", "_toast",
        f"CAST({int(version)} AS BIGINT) AS _commit_version",
        f"CAST({int(lsn)} AS BIGINT) AS _commit_lsn",
    )
