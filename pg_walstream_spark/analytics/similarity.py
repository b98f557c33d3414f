"""Approximate-nearest-neighbor search over an embedding column.

- ``ann_bruteforce``: exact top-k cosine for a query set — the correctness
  baseline. Query side is tiny → broadcast; the corpus side streams narrow.
- ``ann_ivf``: IVF-style two-stage search — assign every vector to its
  nearest of C deterministic centroids (the first C vectors by id, so the
  oracle can reproduce it), then answer queries by scanning only the
  ``n_probe`` closest cells. At 100 TB the cell assignment is a one-off
  bucketed write; queries touch ~n_probe/C of the corpus.

All arithmetic is `F.zip_with`/`F.aggregate` over array<float> — JVM-side,
no Python. Scores are rounded to 6dp for engine-portable comparisons.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import worker_task
from .dedup import _eager_release


def _dbl(vec_col):
    return F.transform(vec_col, lambda x: x.cast("double"))


def _norm(vec_col):
    return F.sqrt(
        F.aggregate(
            F.transform(_dbl(vec_col), lambda x: x * x),
            F.lit(0.0), lambda acc, x: acc + x,
        )
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )


def _norm_raw(vec_col):
    """_norm for a column already array<double> — same fold, no per-eval
    transform cast (the higher-order lambdas are interpreted, so a
    redundant cast-transform copies the array on every evaluation)."""
    return F.sqrt(
        F.aggregate(
            F.transform(vec_col, lambda x: x * x),
            F.lit(0.0), lambda acc, x: acc + x,
        )
    )


def _dot_raw(a, b):
    """_dot for columns already array<double> — identical arithmetic."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )


def ann_bruteforce(emb: DataFrame, query_ids: list[int], k: int = 5,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """Exact top-k cosine neighbors for each query id (self excluded).
    Deterministic tie-break: (cos desc, neighbor id asc)."""
    # cast to double ONCE (exact) so the per-pair dot skips the
    # interpreted cast-transform copy — required for _dot_raw below
    dvec = F.col(vec_col).cast("array<double>")
    base = emb.select(F.col(id_col), dvec.alias(vec_col),
                      _norm_raw(dvec).alias("_n"))
    q = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        F.col("_n").alias("qn"),
    )
    c = base.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        F.col("_n").alias("cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", F.round(_dot_raw(F.col("qv"), F.col("cv"))
                                   / (F.col("qn") * F.col("cn")), 6))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def ivf_assignments(emb: DataFrame, n_centroids: int = 8,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """Assign each vector to its nearest centroid. Centroids are the first
    ``n_centroids`` vectors by id — deterministic, no training pass, and
    reproducible by the SQL oracle. Ties break to the lower centroid id."""
    base = emb.select(F.col(id_col), F.col(vec_col), _norm(vec_col).alias("_n"))
    cents = base.orderBy(id_col).limit(n_centroids).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec"),
        F.col("_n").alias("cnorm"),
    )
    scored = base.crossJoin(F.broadcast(cents)).withColumn(
        "sim", F.round(_dot(vec_col, "cvec") / (F.col("_n") * F.col("cnorm")), 9)
    )
    # argmax via max_by, NOT row_number over a window: the window funnels
    # all n x C scored rows through an Exchange before ranking, while
    # max_by is algebraic — partial aggregation picks each vector's best
    # cell map-side and only one row per vector moves. Tie-break matches
    # the oracle: highest sim, then lowest centroid id.
    ord_ = F.struct(F.col("sim"), (-F.col("centroid_id")).alias("nid"))
    return (
        scored.groupBy(id_col)
        .agg(F.max_by("centroid_id", ord_).alias("cell"))
        .select(F.col(id_col), F.col("cell"))
    )


def ivf_train_centroids(emb: DataFrame, n_centroids: int = 8,
                        iterations: int = 1, vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """k-means refinement of the deterministic seed centroids (first C
    vectors by id): assign → per-cell elementwise mean → repeat. Round 1
    used the raw seeds ("recall is accidental"); one Lloyd iteration pulls
    each centroid to its cell's mass.

    Engine-portable determinism: component means sum DECIMAL-cast values
    (exact, order-independent — a double sum would differ between Spark
    and DuckDB by reduction order), convert the exact sum to double, then
    divide and round to 9dp. Cells that attract no members keep their
    seed centroid. Returns (centroid_id, cvec array<double>, cnorm)."""
    base = emb.select(
        F.col(id_col),
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("v"),
    )
    seeds = base.orderBy(id_col).limit(n_centroids).select(
        F.col(id_col).alias("centroid_id"), F.col("v").alias("cvec")
    )
    cents = seeds
    for _ in range(iterations):
        withn = cents.select(
            "centroid_id", "cvec",
            F.sqrt(F.aggregate(
                F.transform("cvec", lambda x: x * x),
                F.lit(0.0), lambda a, x: a + x)).alias("cnorm"),
        )
        bn = base.select(
            id_col, "v",
            F.sqrt(F.aggregate(
                F.transform("v", lambda x: x * x),
                F.lit(0.0), lambda a, x: a + x)).alias("_n"),
        )
        scored = bn.crossJoin(F.broadcast(withn)).withColumn(
            "sim",
            F.round(
                F.aggregate(F.zip_with("v", "cvec", lambda x, y: x * y),
                            F.lit(0.0), lambda a, x: a + x)
                / (F.col("_n") * F.col("cnorm")), 9),
        )
        ord_ = F.struct(F.col("sim"), (-F.col("centroid_id")).alias("nid"))
        assign = scored.groupBy(id_col).agg(
            F.max_by("centroid_id", ord_).alias("cell"))
        comp = (
            base.join(assign, id_col)
            .select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(
                F.round(
                    F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
                    / F.count(F.lit(1)), 9
                ).alias("cx")
            )
        )
        trained = comp.groupBy("cell").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "cx"))),
                lambda s: s["cx"],
            ).alias("cvec")
        ).select(F.col("cell").alias("centroid_id"), "cvec")
        cents = (
            seeds.select("centroid_id", F.col("cvec").alias("_seed"))
            .join(trained, "centroid_id", "left")
            .select("centroid_id",
                    F.coalesce("cvec", "_seed").alias("cvec"))
        )
    return cents.select(
        "centroid_id", "cvec",
        F.sqrt(F.aggregate(
            F.transform("cvec", lambda x: x * x),
            F.lit(0.0), lambda a, x: a + x)).alias("cnorm"),
    )


def lsh_planes(n_planes: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic random-hyperplane set: component (i, j) derives from
    md5(f"{i}:{j}") mapped to [-1, 1] — no RNG state, reproducible by the
    SQL oracle from the same literals."""
    import hashlib

    planes = []
    for i in range(n_planes):
        row = []
        for j in range(dim):
            h = hashlib.md5(f"{i}:{j}".encode()).hexdigest()
            row.append(round((int(h[:8], 16) / 2**32) * 2 - 1, 9))
        planes.append(row)
    return planes


def lsh_bucket_expr(vec_col: str, planes: list[list[float]]):
    """Sign-LSH bucket id: bit i = (v · plane_i) > 0."""
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = (_dot(F.col(vec_col) if isinstance(vec_col, str) else vec_col,
                    plane) > 0).cast("int")
        bucket = bucket + (bit * (1 << i))
    return bucket.cast("int")


def ann_lsh_pairs(emb: DataFrame, threshold: float = 0.45,
                  n_planes: int = 4, bands: int = 8,
                  vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Multi-band sign-LSH near-dup candidates: ``bands`` independent plane
    sets; a pair is a candidate if it shares a bucket in ANY band (the
    classic OR-construction — each extra band multiplies recall at the cost
    of one more per-bucket join). Only candidates are cosine-scored, so the
    all-pairs O(n²) collapses to per-bucket joins — the scale path for
    embedding dedup at corpus size."""
    all_planes = lsh_planes(n_planes * bands, 64)
    # persist: the per-band candidate self-joins reference this DF 2*bands
    # times; without a cache each reference re-evaluates every plane dot
    # product over the corpus
    base = emb.select(
        F.col(id_col), F.col(vec_col), _norm(vec_col).alias("_n"),
        *[
            lsh_bucket_expr(
                vec_col, all_planes[b * n_planes : (b + 1) * n_planes]
            ).alias(f"bucket{b}")
            for b in range(bands)
        ],
    ).persist()
    cand = None
    for b in range(bands):
        a = base.select(F.col(id_col).alias("id_a"),
                        F.col(f"bucket{b}").alias("bk"))
        bb = base.select(F.col(id_col).alias("id_b"),
                         F.col(f"bucket{b}").alias("bk"))
        pairs = (
            a.join(bb, on="bk")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        cand = pairs if cand is None else cand.unionByName(pairs)
    cand = cand.distinct()
    va = base.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                     F.col("_n").alias("na"))
    vb = base.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                     F.col("_n").alias("nb"))
    out = (
        cand.join(va, "id_a").join(vb, "id_b")
        .withColumn("cos", F.round(_dot("va", "vb") / (F.col("na") * F.col("nb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )
    return _eager_release(out, base)


def lsh_buckets_arrow(emb: DataFrame, n_planes: int = 12, bands: int = 16,
                      dim: int = 64, vec_col: str = "embedding",
                      id_col: str = "vec_id") -> DataFrame:
    """Sign-LSH bucket assignment as ONE Arrow-batched matrix multiply:
    (batch x dim) @ (dim x planes) in numpy float64, sign-packed into a
    bucket id per band. The Column-expression path (lsh_bucket_expr)
    rebuilds a 64-literal plane array per row per dot — milliseconds per
    ROW; the matmul is microseconds per batch, and makes wide bands
    (more planes ⇒ fewer false candidates) essentially free. Output:
    (id, band, bucket) — exploded, ready for the per-band candidate join."""
    from .. import ensure_shipped

    ensure_shipped(emb.sparkSession)
    planes = lsh_planes(n_planes * bands, dim)

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        P = np.array(planes, dtype=np.float64).T  # dim x (planes*bands)
        weights = (1 << np.arange(n_planes, dtype=np.int64))
        for b in batches:
            ids = b.column(id_col).to_numpy()
            if len(ids) == 0:
                continue
            # fixed-width list column: reshape the flat Arrow values buffer
            # directly — no per-row Python object churn (to_pylist built
            # len(ids) lists of dim floats per batch)
            la = b.column(vec_col)
            widths = np.diff(np.asarray(la.offsets))
            if la.null_count or (widths != dim).any():
                valid = ~la.is_null().to_numpy(zero_copy_only=False)
                raise ValueError(
                    f"lsh_buckets_arrow: column {vec_col!r} needs non-null "
                    f"vectors of width dim={dim}; got widths "
                    f"{sorted(set(widths[valid].tolist()))} and "
                    f"{la.null_count} null vector(s)")
            vecs = np.asarray(la.flatten(), dtype=np.float64).reshape(-1, dim)
            bits = (vecs @ P) > 0                       # n x (planes*bands)
            bits = bits.reshape(len(ids), bands, n_planes)
            buckets = (bits * weights).sum(axis=2)      # n x bands
            n = len(ids)
            yield pa.RecordBatch.from_pydict({
                "id": pa.array(np.repeat(ids, bands)),
                "band": pa.array(np.tile(np.arange(bands, dtype=np.int32), n)),
                "bucket": pa.array(buckets.reshape(-1)),
            })

    return emb.select(id_col, vec_col).mapInArrow(
        worker_task(fn), "id long, band int, bucket long"
    )


def ann_lsh_pairs_arrow(emb: DataFrame, threshold: float = 0.95,
                        n_planes: int = 12, bands: int = 16,
                        dim: int = 64, vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Embedding near-dup pairs: Arrow-matmul sign-LSH candidates + exact
    JVM-side cosine rescore at ``threshold``. Same contract as
    ann_lsh_pairs but with bucket assignment off the expression tree —
    wide bands (4096 buckets at 12 planes) keep the candidate set small
    even on label-clustered corpora, and the rescore makes precision
    exact. At 12 planes x 16 bands the per-pair miss probability at
    cos 0.987 is ~6e-6."""
    buckets = lsh_buckets_arrow(emb, n_planes, bands, dim, vec_col, id_col)
    # candidate pairs from ONE bucket aggregation (sorted collect + in-group
    # combinations) instead of a self-join of the band rows — one linear
    # pipeline, no persist, two fewer shuffles (guide §2.4; same rewrite as
    # dedup._band_candidates). Sign-LSH buckets at 12 planes stay small
    # (measured max 59 docs on the sf1.0 near-dup corpus), so the
    # per-bucket array row is bounded.
    grouped = buckets.groupBy("band", "bucket").agg(
        F.array_sort(F.collect_list("id")).alias("_ids"))
    cand = (
        grouped.select(F.explode(F.expr(
            "flatten(transform(_ids, (a, i) -> "
            "transform(slice(_ids, i + 2, size(_ids)), "
            "b -> struct(a AS id_a, b AS id_b))))"
        )).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )
    # Vectorized broadcast rescore (guide §8 / §4.2): the JVM formulation
    # attached both 64-double vectors to every candidate row through two
    # shuffle joins and evaluated an interpreted higher-order dot per pair
    # (~GBs shuffled, 6-26 s at 1.7M sf1.0 candidates). Instead ship the
    # (n x dim) matrix + norms once and compute the dots in numpy with the
    # SAME left-to-right accumulation order as F.aggregate — one fused
    # multiply-add per dimension across the pair batch — so every double
    # is bit-identical to the JVM result. The 6dp HALF_UP rounding and the
    # threshold comparison stay in the JVM projection; the kernel only
    # prefilters with a conservative margin.
    tbl = emb.select(id_col, vec_col).toArrow()
    import numpy as np

    b_ids = np.asarray(tbl.column(id_col), dtype=np.int64)
    vcol = tbl.column(vec_col).combine_chunks()
    flat = np.asarray(vcol.values, dtype=np.float64)
    offs = np.asarray(vcol.offsets, dtype=np.int64)
    widths = np.diff(offs)
    # the rescore needs one dense (n x dim) matrix: padding a ragged or
    # null vector would change its cosine, so refuse it loudly
    n_null = vcol.null_count
    if n_null or (widths != dim).any():
        valid = ~vcol.is_null().to_numpy(zero_copy_only=False)
        raise ValueError(
            f"ann_lsh_pairs_arrow: column {vec_col!r} needs non-null "
            f"vectors of width dim={dim}; got widths "
            f"{sorted(set(widths[valid].tolist()))} and {n_null} null "
            "vector(s)")
    Vm = flat.reshape(len(b_ids), dim)
    norms = np.zeros(len(b_ids), np.float64)
    for d in range(Vm.shape[1]):  # sequential order == F.aggregate
        norms = norms + Vm[:, d] * Vm[:, d]
    norms = np.sqrt(norms)
    sort_ix = np.argsort(b_ids, kind="stable")
    bundle = emb.sparkSession.sparkContext.broadcast(
        (b_ids[sort_ix], sort_ix, Vm, norms))
    margin = 1e-6  # covers the largest possible 6dp round-up

    def rescore_fn(batches):
        import numpy as _np
        import pyarrow as _pa

        ids_sorted, perm, V, nrm = bundle.value
        for bt in batches:
            ia = _np.asarray(bt.column("id_a"), dtype=_np.int64)
            ib = _np.asarray(bt.column("id_b"), dtype=_np.int64)
            if len(ia) == 0:
                continue
            ra = perm[_np.searchsorted(ids_sorted, ia)]
            rb = perm[_np.searchsorted(ids_sorted, ib)]
            A, B = V[ra], V[rb]
            acc = _np.zeros(len(ra), _np.float64)
            for d in range(V.shape[1]):  # JVM aggregate order, per element
                acc = acc + A[:, d] * B[:, d]
            cos = acc / (nrm[ra] * nrm[rb])
            keep = cos >= threshold - margin
            if not keep.any():
                continue
            yield _pa.RecordBatch.from_pydict({
                "id_a": _pa.array(ia[keep]),
                "id_b": _pa.array(ib[keep]),
                "cos_raw": _pa.array(cos[keep]),
            })

    out = (
        cand.mapInArrow(worker_task(rescore_fn),
                        "id_a long, id_b long, cos_raw double")
        .withColumn("cos", F.round(F.col("cos_raw"), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )
    res = _eager_release(out)
    if res is out:
        # stayed distributed (past _DRIVER_RESULT_CAP): cached partitions
        # may recompute later — the broadcast must outlive this call
        return res
    bundle.destroy()
    return res


def ann_ivf(emb: DataFrame, query_ids: list[int], k: int = 5,
            n_centroids: int = 8, n_probe: int = 2,
            vec_col: str = "embedding", id_col: str = "vec_id",
            train_iterations: int = 0) -> DataFrame:
    """IVF search: per query, scan only the n_probe nearest cells.
    ``train_iterations > 0`` refines the seed centroids with that many
    k-means passes (ivf_train_centroids) before assignment — round 1
    searched against untrained first-C-by-id seeds."""
    # cast the vectors to double ONCE in the projection: _dot/_norm's
    # per-evaluation cast-transform is an interpreted lambda that copies
    # the array on every dot product (3 crossJoin scoring sites below).
    # cast(array<float> -> array<double>) is exact, so all sims/cos are
    # bit-identical.
    dvec = F.col(vec_col).cast("array<double>")
    base = emb.select(F.col(id_col), dvec.alias(vec_col),
                      _norm_raw(dvec).alias("_n"))
    if train_iterations > 0:
        cents = ivf_train_centroids(emb, n_centroids, train_iterations,
                                    vec_col, id_col)
        # materialize the trained centroids (n_centroids rows — control-
        # plane-sized) into a literal local relation: every downstream
        # broadcast of `cents` would otherwise re-evaluate the whole
        # k-means subtree (a full corpus pass) per exchange, and the
        # final plan carries it 2-3 times (guide §3.3: materialize
        # intermediates to truncate the plan). collect() round-trips
        # IEEE doubles exactly, so values are unchanged.
        cents = emb.sparkSession.createDataFrame(
            cents.collect(), cents.schema)
        scored0 = base.crossJoin(F.broadcast(cents)).withColumn(
            "sim",
            F.round(_dot_raw(F.col(vec_col), F.col("cvec"))
                    / (F.col("_n") * F.col("cnorm")), 9),
        )
        ord0 = F.struct(F.col("sim"), (-F.col("centroid_id")).alias("nid"))
        assign = scored0.groupBy(id_col).agg(
            F.max_by("centroid_id", ord0).alias("cell"))
    else:
        cents = base.orderBy(id_col).limit(n_centroids).select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec"),
            F.col("_n").alias("cnorm"),
        )
        assign = ivf_assignments(emb, n_centroids, vec_col, id_col)
    # broadcast the (id, cell) assignment — two ints per corpus row — so
    # the vector-carrying side is never shuffled for this join
    corpus = base.join(F.broadcast(assign), on=id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        F.col("_n").alias("cn"), "cell",
    )
    q = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        F.col("_n").alias("qn"),
    )
    from pyspark.sql import Window

    qc = q.crossJoin(F.broadcast(cents)).withColumn(
        "sim", F.round(_dot_raw(F.col("qv"), F.col("cvec"))
                       / (F.col("qn") * F.col("cnorm")), 9)
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("centroid_id").asc()
    )
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "qv", "qn", F.col("centroid_id").alias("cell"))
    )
    scored = (
        corpus.join(F.broadcast(probes), on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", F.round(_dot_raw(F.col("qv"), F.col("cv"))
                                   / (F.col("qn") * F.col("cn")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )
