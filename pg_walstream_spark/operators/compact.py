"""Change-set shaping for the lake MERGE (classic CDC reduce, SURVEY.md §2f).

``dml_images`` projects committed DML events of one table onto flat
key/value images: the input of the merge kernel (``LakeTable.merge_bucketed``),
which performs the last-image compaction per bucket in Arrow.

``compact_salted`` is the same last-image reduce expressed in Spark, as an
explicit two-level salted aggregation for pathologically hot keys. It is
built on **hash aggregation with max-by**, not a ranking window: max/max_by
are algebraic, so Spark performs map-side partial aggregation before the
shuffle — a Zipf-hot key collapses to one row per input partition *before*
any data moves, where a ``row_number() over (partition by key)`` window
would funnel the entire hot key through one reducer.

Unchanged-TOAST semantics: a column sent as ``'u'`` carries the *previous*
value forward. Within a batch that resolves to "the latest non-toast image's
value"; if no in-batch image ever materialized the column, it stays in
``_toast`` and the lake MERGE carries it forward from the target row
(/root/reference/src/protocol.rs:310-328 skips 'u' columns the same way).

Key-changing updates (old key ≠ new key) emit an extra delete of the old key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

ORD = ("commit_lsn", "seq")  # total order: commit order, then WAL order


def _qi(name: str) -> str:
    """Quote a SQL identifier (backticks, doubled inside)."""
    return "`" + name.replace("`", "``") + "`"


def _qs(s: str) -> str:
    """Quote a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def dml_images(events: DataFrame, key_columns: list[str],
               data_columns: list[tuple[str, str]],
               aliases: dict[str, list[str]] | None = None,
               key_types: dict[str, str] | None = None) -> DataFrame:
    """Project committed DML events of ONE table to flat key/value images.

    ``data_columns``: (name, spark-type) for all non-key columns.
    ``aliases``: current column name → pre-rename names (the lake table's
    rename history): events decoded before a mid-stream RENAME carry the
    old name in their tuple maps, so extraction coalesces across the
    alias chain. An old name that is a current column again (re-added
    after the rename) belongs to that column only.
    ``key_types``: target lake type per key column. Keys MUST be cast to
    the target's types: wire values are text, and a string-typed key would
    hash to a different bucket than the target's typed column
    (xxhash64('42') != xxhash64(42)) — a pruned MERGE would then read the
    wrong bucket's files and strand stale rows.
    Output: ord cols, _op, key cols, value cols, per-column _t_<c> toast flag.
    """
    live = set(key_columns) | {c for c, _ in data_columns}
    aliases = {n: [a for a in olds if a not in live]
               for n, olds in (aliases or {}).items()}
    key_types = key_types or {}

    # every projection is built as ONE selectExpr/filter SQL string: the
    # Column-object equivalent costs hundreds of py4j round trips and was
    # ~0.8 s of pure DRIVER time per micro-batch — a core-count-independent
    # serial tail that capped pipeline scaling efficiency

    def _ma(map_col: str, name: str) -> str:
        alts = [name] + list(aliases.get(name, []))
        gets = [f"element_at({map_col}, {_qs(a)})" for a in alts]
        out = gets[0] if len(gets) == 1 else f"coalesce({', '.join(gets)})"
        ty = key_types.get(name)
        return f"CAST({out} AS {ty})" if ty else out

    is_del = "event_type = 'delete'"
    base_fields = [
        ("commit_lsn", "commit_lsn"),
        ("seq", "seq"),
        ("_op", f"CASE WHEN {is_del} THEN 'delete' ELSE 'upsert' END"),
    ]
    for k in key_columns:
        base_fields.append((k, f"CASE WHEN {is_del} THEN {_ma('old_data', k)} "
                               f"ELSE {_ma('new_data', k)} END"))
    for c, ty in data_columns:
        base_fields.append((c, f"CAST({_ma('new_data', c)} AS {ty})"))
        flags = [
            "coalesce(array_contains(coalesce(new_toast, array()), "
            f"{_qs(a)}), false)"
            for a in [c] + list(aliases.get(c, []))
        ]
        base_fields.append(("_t_" + c, f"({' OR '.join(flags)})"))
    base_struct = "named_struct(" + ", ".join(
        f"{_qs(n)}, {e}" for n, e in base_fields) + ")"

    # A keyless table (replica identity over zero columns) has no key to
    # change — emit the base image only (the old-key branch would otherwise
    # build an unparsable empty predicate and index key_columns[0])
    if not key_columns:
        return events.selectExpr(*[f"{e} AS {_qi(n)}"
                                   for n, e in base_fields])

    # key-changing updates → synthetic delete of the old key, emitted from
    # the SAME scan via inline(array(...)) — a unioned second branch would
    # re-evaluate the whole upstream subtree (decode kernel included) once
    # per branch, doubling the decode cost of every uncached batch
    extra_fields = [
        ("commit_lsn", "commit_lsn"),
        ("seq", "seq"),
        ("_op", "'delete'"),
    ]
    for k in key_columns:
        extra_fields.append((k, _ma("old_data", k)))
    for c, ty in data_columns:
        extra_fields.append((c, f"CAST(NULL AS {ty})"))
        extra_fields.append(("_t_" + c, "false"))
    extra_struct = "named_struct(" + ", ".join(
        f"{_qs(n)}, {e}" for n, e in extra_fields) + ")"
    neqs = " OR ".join(
        f"({_ma('old_data', k)} != {_ma('new_data', k)})"
        for k in key_columns
    )
    key_changed = (
        "(event_type = 'update' AND old_data IS NOT NULL "
        f"AND ({neqs}) AND {_ma('old_data', key_columns[0])} IS NOT NULL)"
    )
    return events.selectExpr(
        f"inline(CASE WHEN {key_changed} "
        f"THEN array({extra_struct}, {base_struct}) "
        f"ELSE array({base_struct}) END)"
    )


def compact_salted(images: DataFrame, key_columns: list[str],
                   data_columns: list[tuple[str, str]],
                   n_salt: int = 16) -> DataFrame:
    """Explicit two-level salted compaction for pathologically hot keys.

    Level 1 groups by (key, salt) where salt = hash(seq) % n_salt, so a key
    with millions of in-batch updates fans out over n_salt reducers; level 2
    combines the n_salt partial winners. All aggregates here are algebraic
    (max / max_by), so the two-level split is exact.

    Spark's map-side partial aggregation already gives hot keys this
    treatment implicitly in a one-level reduce, so the salted split is only
    worth its extra shuffle when single keys overflow executor memory
    during the final combine. Output: one row per key with key cols,
    ``_op``, data cols and ``_toast`` (the compacted change-set shape
    ``LakeTable.merge`` applies)."""
    salted = images.withColumn(
        "_salt", F.pmod(F.xxhash64("seq"), F.lit(n_salt)).cast("int")
    )
    ord_struct = F.struct(*[F.col(c) for c in ORD])
    aggs = [
        F.max_by("_op", ord_struct).alias("_op"),
        F.max(ord_struct).alias("_ord"),
    ]
    for c, _ in data_columns:
        aggs.append(
            F.max(
                F.when(
                    (F.col("_op") == "upsert") & ~F.col(f"_t_{c}"),
                    F.struct(*[F.col(o) for o in ORD], F.col(c).alias("v")),
                )
            ).alias(f"_last_{c}")
        )
    lvl1 = salted.groupBy(*key_columns, "_salt").agg(*aggs)
    # level 2: combine partial winners (same max semantics over structs)
    aggs2 = [F.max_by("_op", F.col("_ord")).alias("_op")]
    for c, _ in data_columns:
        aggs2.append(F.max(f"_last_{c}").alias(f"_last_{c}"))
    out = lvl1.groupBy(*key_columns).agg(*aggs2)
    sel = [*key_columns, "_op"]
    for c, _ in data_columns:
        sel.append(F.col(f"_last_{c}.v").alias(c))
    toast = F.array_compact(
        F.array(*[
            F.when(
                (F.col("_op") == "upsert") & F.col(f"_last_{c}").isNull(),
                F.lit(c),
            )
            for c, _ in data_columns
        ])
    ).alias("_toast")
    return out.select(*sel, toast)
