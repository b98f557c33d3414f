"""Salted two-level compaction must be exactly equivalent to the plain
max-by reduce (the declarative oracle's ``compact_last_image``) — including
TOAST resolution and delete-wins ordering — on a Zipf-hot update stream."""

from __future__ import annotations

from pyspark.sql import functions as F

from pg_walstream_spark.fixtures import wal_gen as wg
from pg_walstream_spark.operators.compact import compact_salted, dml_images
from pg_walstream_spark.operators.decode import (
    CONTROL_TAGS, build_context, decode_frames_df,
)

from merge_oracle import compact_last_image

KEYS = ["repo", "path"]
DATA_COLS = [("commit", "string"), ("lang", "string"), ("content", "string")]


def committed_events(spark, builder, table="repos"):
    frames = spark.createDataFrame(builder.to_table().to_pandas())
    ctrl = [
        r.asDict()
        for r in frames.filter(F.col("tag").isin(list(CONTROL_TAGS)))
        .select("seq", "wal_start", "data").sort("seq").collect()
    ]
    ev = decode_frames_df(frames, build_context(ctrl))
    return ev.filter(
        (F.col("txn_status") == "committed")
        & F.col("event_type").isin(["insert", "update", "delete"])
        & (F.col("table_name") == table)
    ).localCheckpoint()


def rows_of(df):
    return sorted(
        (r["repo"], r["path"], r["_op"], r["commit"], r["content"],
         tuple(sorted(r["_toast"] or [])))
        for r in df.collect()
    )


def test_salted_equals_plain_on_hot_keys(spark):
    # bench generator: Zipf-hot rows, 55% updates / 5% deletes
    _, b = wg.gen_bench(n_base=200, n_txns=30, ops_per_txn=20)
    images = dml_images(committed_events(spark, b), KEYS, DATA_COLS)
    plain = compact_last_image(images, KEYS, DATA_COLS)
    salted = compact_salted(images, KEYS, DATA_COLS, n_salt=7)
    assert rows_of(plain) == rows_of(salted)


def test_salted_equals_plain_with_toast(spark):
    _, b = wg.gen_toast(n_base=30, n_txns=5)
    images = dml_images(committed_events(spark, b), KEYS, DATA_COLS)
    plain = compact_last_image(images, KEYS, DATA_COLS)
    salted = compact_salted(images, KEYS, DATA_COLS, n_salt=4)
    assert rows_of(plain) == rows_of(salted)
    # toast columns survive the two-level combine
    assert any(t for *_, t in rows_of(salted))
