"""Round-8 optimization pins: the vectorized dedup kernels must stay
bit-identical to their original formulations.

- minhash_signature_arrow gained a uint16 rank-compression fast path for
  the per-doc minimum (4x less memory traffic than reducing raw int64
  hashes); pinned here against the Column-expression definition
  (dedup_oracles.minhash_signature).
- simhash_pieces became an Arrow kernel; pinned against the original
  expression formulation (dedup_oracles.simhash_pieces_expr).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pg_walstream_spark import queries as Q
from pg_walstream_spark.analytics import dedup as dd

from dedup_oracles import minhash_signature, simhash_pieces_expr

SF = "/root/testdata/sf0.01"


def test_minhash_rank_path_matches_expression_definition(spark):
    docs = Q._neardup_docs(spark, SF)
    k = 16
    arrow = sorted(
        map(tuple, dd.minhash_signature_arrow(docs, k=k).collect()))
    expr = sorted(map(tuple, minhash_signature(docs, k=k).collect()))
    assert len(arrow) > 0
    assert arrow == expr


def test_minhash_rank_path_handles_short_and_empty_docs(spark):
    docs = spark.createDataFrame(
        [(1, "abcabcabc"), (2, "ab"), (3, ""), (4, None), (5, "xyz")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: (r["h0"], r["h1"])
            for r in dd.minhash_signature_arrow(docs, k=2).collect()}
    # docs shorter than the shingle width emit nothing
    assert set(rows) == {1, 5}


def test_minhash_sparse_rank_path_matches_expression_definition(spark):
    """Docs whose shingle sets are SPARSE in the task vocabulary (density
    < 0.05) take the uint16 rank-compression path instead of the
    dense-vocab scan; pin it against the expression definition too."""
    rows = [(i, f"{i * 7919}-{i * 104729}-{i * 1299709}x")
            for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    k = 8
    arrow = sorted(
        map(tuple, dd.minhash_signature_arrow(docs, k=k).collect()))
    expr = sorted(map(tuple, minhash_signature(docs, k=k).collect()))
    assert len(arrow) == 300
    assert arrow == expr


def test_simhash_kernel_matches_expression_definition(spark):
    docs = Q._neardup_docs(spark, SF)
    arrow = sorted(map(tuple, dd.simhash_pieces(docs).collect()))
    expr = sorted(map(tuple, simhash_pieces_expr(docs).collect()))
    assert len(arrow) > 0
    assert arrow == expr


def test_simhash_kernel_drops_tokenless_docs(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "!!! ..."), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    got = {r["doc_id"] for r in dd.simhash_pieces(docs).collect()}
    expr = {r["doc_id"] for r in simhash_pieces_expr(docs).collect()}
    assert got == expr == {1}


def test_simhash_kernel_mixed_case_and_digits(spark):
    docs = spark.createDataFrame(
        [(1, "The QUICK brown 42 Fox"), (2, "the quick brown 42 fox")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: (r["p0"], r["p1"], r["p2"], r["p3"])
            for r in dd.simhash_pieces(docs).collect()}
    # lowercasing happens before tokenization: both docs hash identically
    assert rows[1] == rows[2]
    expr = {r["doc_id"]: (r["p0"], r["p1"], r["p2"], r["p3"])
            for r in simhash_pieces_expr(docs).collect()}
    assert rows == expr


def test_eager_release_under_cap_single_local_result(spark):
    """The probe release must return a driver-local result with exactly
    the pipeline's rows and leave no cached RDDs behind (the caller's
    pinned caches are released, and the under-cap path itself never
    persists)."""
    n_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    src = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("g")).persist()
    out = src.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    res = dd._eager_release(out, src)
    assert res is not out  # rebuilt local relation, not the lazy plan
    got = sorted(map(tuple, res.collect()))
    assert got == sorted(map(tuple, (
        spark.range(0, 1000).select((F.col("id") % 7).alias("g"))
        .groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect())))
    # no NET new caches (other suites may share the session with their own)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == n_before


def test_eager_release_over_cap_stays_distributed(spark, monkeypatch):
    """Past _DRIVER_RESULT_CAP the result must come back AS the input
    DataFrame object (callers identity-check it to keep broadcast bundles
    alive), persisted, with the pinned inputs released."""
    monkeypatch.setattr(dd, "_DRIVER_RESULT_CAP", 10)
    n_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    src = spark.range(0, 500).select(F.col("id")).persist()
    out = src.select((F.col("id") * 2).alias("x"))
    res = dd._eager_release(out, src)
    try:
        assert res is out
        assert res.storageLevel.useMemory  # caller-owned cache
        assert res.count() == 500
        # the pinned input was released; one NET new cache — the result's
        assert (spark.sparkContext._jsc.getPersistentRDDs().size()
                == n_before + 1)
    finally:
        res.unpersist()


def test_eager_release_over_cap_count_failure_leaves_no_cache(
        spark, monkeypatch):
    """If populating the over-cap result cache fails, the persisted result
    must be released before the error propagates (the caller never gets
    the object to unpersist it), and the pinned inputs still are."""
    monkeypatch.setattr(dd, "_DRIVER_RESULT_CAP", 10)
    src = spark.range(0, 500).select(F.col("id")).persist()
    out = src.select((F.col("id") * 2).alias("x"))

    def boom():
        raise RuntimeError("synthetic executor loss")

    out.count = boom
    with pytest.raises(RuntimeError, match="synthetic"):
        dd._eager_release(out, src)
    assert not out.is_cached
    assert not out.storageLevel.useMemory and not out.storageLevel.useDisk
    assert not src.storageLevel.useMemory


@pytest.mark.parametrize("chunk", [None, 7])
def test_pair_jaccard_matches_per_pair_intersect(monkeypatch, chunk):
    """The jaccard rescore's batch merge-intersect equals the per-pair
    ``np.intersect1d`` loop it replaced, bit for bit — random sets plus
    empty, identical and disjoint ones, with and without chunking."""
    import numpy as np

    if chunk is not None:
        monkeypatch.setattr(dd, "_RESCORE_CHUNK_CODES", chunk)
    rng = np.random.default_rng(7)
    sets = [rng.choice(60, size=int(rng.integers(0, 25)), replace=False)
            for _ in range(40)]
    sets += [np.array([], np.int64), np.array([3, 9, 27]),
             np.array([27, 3, 9]), np.array([100, 200])]
    off = np.concatenate(([0], np.cumsum([len(x) for x in sets])))
    flat = np.concatenate(sets).astype(np.int64)
    n = len(sets)
    pairs = [(a, b) for a in range(n) for b in range(n)
             if len(sets[a]) + len(sets[b])]
    ra = np.array([a for a, _ in pairs])
    rb = np.array([b for _, b in pairs])
    inter, jac = dd._pair_jaccard(ra, rb, off, flat)
    for i, (a, b) in enumerate(pairs):
        want = np.intersect1d(sets[a], sets[b], assume_unique=True).size
        assert inter[i] == want
        assert jac[i] == want / (len(sets[a]) + len(sets[b]) - want)
    # identical, permuted and disjoint sets among the pairs
    e, p, q, d = n - 4, n - 3, n - 2, n - 1
    k = pairs.index((p, q))
    assert (inter[k], jac[k]) == (3, 1.0)
    assert jac[pairs.index((e, p))] == 0.0
    assert jac[pairs.index((p, d))] == 0.0
    # two empty sets share no code: never at or above a threshold
    _, jj = dd._pair_jaccard(np.array([e]), np.array([e]), off, flat)
    assert not jj >= 0.0
