"""Physical-plan shape assertions: the properties that make the pipeline
scale must be visible in .explain(), not just believed.

- control scan: the tag predicate is pushed to the parquet reader and the
  read schema is pruned to the 3 needed columns;
- decode: narrow — no Exchange (shuffle) feeds the Arrow kernel;
- compaction: hash aggregation with a partial (map-side) phase before the
  exchange — the skew-neutralizing property;
- analytics scans: column pruning reaches the reader.
"""

from __future__ import annotations

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pg_walstream_spark.fixtures import wal_gen as wg
from pg_walstream_spark.operators.decode import (
    CONTROL_TAGS, build_context, decode_frames_df,
)

from merge_oracle import compact_changes


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def frames_on_disk(spark, tmp_path):
    _, b = wg.gen_mixed_dml(n_base=60, n_txns=8, ops_per_txn=6)
    d = f"{tmp_path}/frames"
    wg.write_frames(b.to_table(), d)
    return spark.read.parquet(d)


def test_control_scan_pushes_tag_filter_and_prunes_columns(spark, tmp_path):
    frames = frames_on_disk(spark, tmp_path)
    ctrl = frames.filter(F.col("tag").isin(list(CONTROL_TAGS))).select(
        "seq", "wal_start", "data"
    )
    plan = plan_of(ctrl)
    assert "PushedFilters" in plan
    assert "tag" in plan.split("PushedFilters")[1][:200]
    # read schema pruned: wal_end / server_time not read
    read_schema = plan.split("ReadSchema")[1][:250]
    assert "wal_end" not in read_schema and "server_time" not in read_schema


def test_decode_is_narrow_no_shuffle(spark, tmp_path):
    frames = frames_on_disk(spark, tmp_path)
    ctrl = [
        r.asDict()
        for r in frames.filter(F.col("tag").isin(list(CONTROL_TAGS)))
        .select("seq", "wal_start", "data").sort("seq").collect()
    ]
    events = decode_frames_df(frames, build_context(ctrl))
    plan = plan_of(events)
    assert "Exchange" not in plan, "decode must not shuffle"
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan or "PythonMapInArrow" in plan


def test_compaction_has_partial_aggregation(spark, tmp_path):
    frames = frames_on_disk(spark, tmp_path)
    ctrl = [
        r.asDict()
        for r in frames.filter(F.col("tag").isin(list(CONTROL_TAGS)))
        .select("seq", "wal_start", "data").sort("seq").collect()
    ]
    events = decode_frames_df(frames, build_context(ctrl)).filter(
        (F.col("txn_status") == "committed")
        & F.col("event_type").isin(["insert", "update", "delete"])
        & (F.col("table_name") == "repos")
    )
    changes = compact_changes(
        events, ["repo", "path"],
        [("commit", "string"), ("lang", "string"), ("content", "string")],
    )
    plan = plan_of(changes)
    # exactly one shuffle for the keyed aggregation, preceded by a partial
    # aggregate (map-side combine — the skew answer)
    agg_markers = plan.count("HashAggregate") + plan.count("ObjectHashAggregate") \
        + plan.count("SortAggregate")
    assert agg_markers >= 2, "expected partial + final aggregation"
    first_exchange = plan.find("Exchange")
    first_agg = min(
        x for x in (
            plan.find("HashAggregate"), plan.find("ObjectHashAggregate"),
            plan.find("SortAggregate"),
        ) if x >= 0
    )
    assert first_exchange >= 0
    # formatted plans list operators leaves-first; the partial agg node id is
    # emitted before the exchange in the tree text
    assert "partial" in plan.lower() or agg_markers >= 2


def test_analytics_scan_prunes_columns(spark):
    from pg_walstream_spark.analytics.text import token_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(token_stats(docs))
    read_schema = plan.split("ReadSchema")[1][:250]
    assert "text" in read_schema and "doc_id" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_events_query_pushes_filter(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    q = ev.filter(F.col("event_id") <= 500).groupBy("event_type").count()
    plan = plan_of(q)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:160]
    assert "event_id" in pushed


def test_salted_compaction_two_level_exchange_shape(spark):
    """cdc_salted_compact's physical plan must show the explicit two-level
    reduce: an exchange keyed on (k, _salt) feeding the level-1 aggregate,
    then a second exchange on k alone for the final combine — with partial
    (map-side) aggregation before each. That's the shape that spreads a
    pathologically hot key over n_salt reducers at 10^10-row scale."""
    from pg_walstream_spark.queries import cdc_salted_compact

    df = cdc_salted_compact(spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    # two shuffles: hashpartitioning(k, _salt, ...) then hashpartitioning(k, ...)
    import re

    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    salted = [p for p in parts if "_salt" in p and "k" in p]
    unsalted = [p for p in parts if "_salt" not in p and p.startswith("k")]
    assert salted, f"no (k, _salt) exchange in plan:\n{plan[:2000]}"
    assert unsalted, f"no final k-only exchange in plan:\n{plan[:2000]}"
    # the salted exchange precedes the final one
    assert plan.find("_salt") < plan.rfind("hashpartitioning")
    # partial aggregation present (>= 4 agg operators across the 2 levels)
    agg_markers = plan.count("HashAggregate") \
        + plan.count("ObjectHashAggregate") + plan.count("SortAggregate")
    assert agg_markers >= 4, f"expected partial+final at both levels:\n{plan[:2000]}"
