"""Deduplication operators for large-scale training-data pipelines.

Semantics are deliberately canonical (lower + char-3-grams /
``[a-z0-9]+`` tokens, md5-derived hashes) so an external SQL engine
(DuckDB oracle) reproduces every result bit-for-bit. Two compute tiers
share those semantics: pure Column expressions where codegen wins, and
vectorized Arrow kernels (numpy over whole batches, never per-row Python)
where expression trees genuinely can't keep up — minhash signatures
(np.minimum.reduceat over a vocabulary hash matrix) being the flagship.

Scale notes (100 TB corpus):
- exact: hash-groupBy with map-side partial agg — no skew risk.
- minhash-LSH: banding turns all-pairs O(n²) into per-bucket candidate
  joins (k=128, r=8 for selectivity on short same-domain text); integer
  60-bit signatures hash-aggregate with map-side combine.
- simhash: 64-bit signature as 4x16-bit pieces; hamming-≤3 pairs via
  pigeonhole piece banding + exact verification.
- n-gram jaccard: exact Jaccard over minhash-LSH candidates — precision
  exact, recall = band recall; a raw inverted-index join over shingles
  blows up through hot shingles at corpus scale.
- embedding cosine: brute pairwise only for bounded n; the sign-LSH +
  exact-rescore paths in similarity.py are the scale answer.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from .. import worker_task


def shingles(col: str = "text", n: int = 3):
    """Ordered char n-grams of lower(col) — matches the DuckDB oracle's
    range+substr definition. Guarded: texts shorter than n yield an empty
    array (Spark's sequence(1,0) would otherwise count DOWN)."""
    return F.expr(
        f"CASE WHEN length({col}) >= {n} THEN "
        f"transform(sequence(1, length(lower({col})) - {n - 1}),"
        f" i -> substr(lower({col}), i, {n})) "
        f"ELSE cast(array() as array<string>) END"
    )


def tokens(col: str = "text"):
    return F.expr(f"regexp_extract_all(lower({col}), '[a-z0-9]+', 0)")


# results bigger than this stay distributed (cached); below it they are
# materialized to the driver so every intermediate cache can be released
_DRIVER_RESULT_CAP = 5_000_000


def _eager_release(result: DataFrame, *pinned: DataFrame) -> DataFrame:
    """Materialize ``result`` once and release every ``pinned`` cache.

    The dedup/ANN operators persist a shared intermediate (signatures,
    bucket assignments) that several joins reference. A lazy return would
    either leak those caches for the session's lifetime (the long-lived
    driver deployment) or, if released early, silently recompute the whole
    pipeline per downstream action. Their RESULTS are thresholded pair/
    score sets — orders of magnitude smaller than the inputs — so the
    operator evaluates eagerly, frees the caches deterministically, and
    returns the small result as a driver-local DataFrame. Results past
    ``_DRIVER_RESULT_CAP`` rows stay distributed and cached (one bounded
    result cache, caller-owned) instead of flooding the driver.

    The size guard rides the collect itself: ONE probe action ships at
    most CAP+1 rows (Arrow batches — one driver hop, not two as the
    round-3 toPandas path). The round-3..7 form paid persist + a count
    job + a second collect job per operator; the probe halves the action
    count on the near-universal under-cap path. An over-cap result pays
    one recompute into a caller-owned cache — the rare path funds the
    common one."""
    spark = result.sparkSession
    try:
        tbl = result.limit(_DRIVER_RESULT_CAP + 1).toArrow()
        if tbl.num_rows <= _DRIVER_RESULT_CAP:
            return spark.createDataFrame(tbl, schema=result.schema)
        result.persist()
        # populate the cache while the pinned inputs are still cached
        # (callers identity-check the returned object: keep it `result`)
        try:
            result.count()
        except BaseException:
            result.unpersist()  # the caller never gets to own it
            raise
        return result
    finally:
        for p in pinned:
            p.unpersist()


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content-hash groupBy: one keeper (min id) per distinct
    content; n_copies counts the group. Map-side combine collapses hot
    hashes before the shuffle."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_md5"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("content_md5", "keep_id", "n_copies")
    )


def minhash_signature_arrow(docs: DataFrame, k: int = 128,
                            text_col: str = "text", id_col: str = "doc_id",
                            n: int = 3,
                            with_shingle_codes: bool = False) -> DataFrame:
    """k min-wise hashes per doc: h_i = min over shingles of the first 15
    hex chars (60 bits) of md5(i || ':' || shingle), as a BIGINT, computed
    in ONE vectorized Arrow pass. Values are BIT-IDENTICAL to the SQL
    definition (int(md5(f"{i}:{sh}").hexdigest()[:15], 16) ==
    CAST('0x' || substr(md5(i || ':' || sh), 1, 15) AS BIGINT)), so the
    DuckDB oracles reproduce them; the Column-expression form is the
    differential oracle in tests/dedup_oracles.py.

    Hot path is numpy end to end: shingles are 3-byte sliding windows over
    the concatenated lowered texts, per-(doc, shingle) dedup via one
    np.unique over packed int64 keys, and the signature is a column-wise
    np.minimum.reduceat over the vocabulary hash matrix. Only the (tiny)
    shingle VOCABULARY is hashed in Python — |alphabet|^n entries, k md5s
    each. Texts containing multibyte characters fall back to a per-doc
    set-based path (byte windows ≠ character shingles there).

    ``with_shingle_codes``: also emit each doc's sorted distinct shingle
    set as an array<long> of injective integer codes (already computed as
    a by-product) — exact Jaccard rescoring intersects these instead of
    re-shipping string arrays."""
    from .. import ensure_shipped

    ensure_shipped(docs.sparkSession)

    def fn(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        vocab_cache: dict[int, np.ndarray] = {}
        str_cache: dict[str, np.ndarray] = {}

        def hash_shingle_str(sh: str) -> np.ndarray:
            v = str_cache.get(sh)
            if v is None:
                v = np.array(
                    [int(hashlib.md5(f"{i}:{sh}".encode()).hexdigest()[:15],
                         16) for i in range(k)], np.int64)
                str_cache[sh] = v
            return v

        def sig_fallback(t: str):
            if len(t) < n:
                return None
            shs = {t[j:j + n] for j in range(len(t) - n + 1)}
            sig = np.min(np.stack([hash_shingle_str(s) for s in shs]), 0)
            # multibyte text: injective md5-derived codes stand in for the
            # 3-byte packing (only intersected against same-corpus codes)
            codes = np.sort(np.array(
                [int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                 for s in shs], np.int64))
            return sig, codes

        ddl_names = [id_col] + [f"h{j}" for j in range(k)]
        for b in batches:
            ids = b.column(id_col).to_numpy(zero_copy_only=False) \
                .astype(np.int64, copy=False)
            texts = [(t or "").lower() for t in b.column(text_col).to_pylist()]
            if len(ids) == 0:
                continue
            enc = [t.encode("utf-8") for t in texts]
            ascii_ok = all(len(e) == len(t) for e, t in zip(enc, texts))
            out_ids, out_sigs = [], []
            # packed (id << 24 | code) keys need 0 <= id < 2^39: negative
            # ids would corrupt the pack silently — route them to the
            # per-doc fallback alongside the upper-bound check
            if ascii_ok and int(ids.max(initial=0)) < (1 << 39) \
                    and int(ids.min(initial=0)) >= 0:
                lens = np.fromiter((len(e) for e in enc), np.int64,
                                   len(enc))
                keep = lens >= n
                if keep.any():
                    blob = np.frombuffer(b"".join(enc), np.uint8)
                    starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
                    n_win = np.where(keep, lens - (n - 1), 0)
                    doc_of = np.repeat(np.arange(len(enc)), n_win)
                    # window start offsets within the blob, per doc
                    base_off = np.repeat(starts, n_win)
                    in_doc = np.arange(len(doc_of)) - np.repeat(
                        np.concatenate(([0], np.cumsum(n_win)))[:-1], n_win)
                    off = base_off + in_doc
                    code = (blob[off].astype(np.int64) << 16) \
                        | (blob[off + 1].astype(np.int64) << 8) \
                        | blob[off + 2].astype(np.int64)
                    keys = (ids[doc_of] << 24) | code
                    uniq = np.unique(keys)
                    u_doc = uniq >> 24
                    u_code = uniq & 0xFFFFFF
                    vocab, inv = np.unique(u_code, return_inverse=True)
                    H = np.empty((len(vocab), k), np.int64)
                    for vi, cde in enumerate(vocab):
                        hv = vocab_cache.get(int(cde))
                        if hv is None:
                            sh = bytes([cde >> 16, (cde >> 8) & 0xFF,
                                        cde & 0xFF]).decode()
                            hv = hash_shingle_str(sh)
                            vocab_cache[int(cde)] = hv
                        H[vi] = hv
                    # uniq is sorted by (doc, code): group boundaries
                    bounds = np.nonzero(
                        np.concatenate(([True], u_doc[1:] != u_doc[:-1]))
                    )[0]
                    nd = len(bounds)
                    dens = len(uniq) / max(nd * len(vocab), 1)
                    if len(vocab) <= 4096 and dens >= 0.05:
                        # dense-vocab scan (guide §2.3: move bytes of
                        # METADATA, not payloads): tiny vocabularies make
                        # per-doc shingle sets dense, so per hash
                        # function walk the vocab in ascending hash order
                        # and take each doc's FIRST present entry — the
                        # min. Expected scan depth ~1/density; traffic is
                        # a few bool vectors instead of the (Σ|set| x k)
                        # gather that saturated the memory bus at 32
                        # concurrent tasks (measured 3.3x per-task
                        # inflation). Exact by construction.
                        row_of = np.cumsum(np.concatenate(
                            ([False], u_doc[1:] != u_doc[:-1])))
                        inc = np.zeros((nd, len(vocab)), bool)
                        inc[row_of, inv] = True
                        order = np.argsort(H, axis=0, kind="stable")
                        sigs = np.empty((nd, k), np.int64)
                        for j in range(k):
                            oj = order[:, j]
                            unresolved = np.ones(nd, bool)
                            col = sigs[:, j]
                            for r_i in range(len(vocab)):
                                v = oj[r_i]
                                hit = inc[:, v] & unresolved
                                if hit.any():
                                    col[hit] = H[v, j]
                                    unresolved &= ~hit
                                    if not unresolved.any():
                                        break
                    elif len(vocab) <= 0xFFFF:
                        # rank compression (guide §2.3 "narrower types"):
                        # reduceat over H[inv] materializes a
                        # (Σ|set| x k) int64 matrix — ~550 MB/task at
                        # k=128, and 32 concurrent tasks saturate the
                        # memory bus (the measured wall of this stage).
                        # Per hash function, min(H) == H at min RANK, so
                        # gather+reduce uint16 ranks (4x less traffic)
                        # and map the winning rank back through the
                        # per-function sorted values. Exact: rank order
                        # is value order per column (stable argsort).
                        order = np.argsort(H, axis=0, kind="stable")
                        ranks = np.empty(H.shape, np.uint16)
                        np.put_along_axis(
                            ranks, order,
                            np.arange(len(vocab), dtype=np.uint16)[:, None],
                            axis=0)
                        h_sorted = np.take_along_axis(H, order, axis=0)
                        rmin = np.minimum.reduceat(ranks[inv], bounds,
                                                   axis=0)
                        sigs = np.take_along_axis(
                            h_sorted, rmin.astype(np.intp), axis=0)
                    else:
                        sigs = np.minimum.reduceat(H[inv], bounds, axis=0)
                    out_ids = list(u_doc[bounds])
                    out_sigs = list(sigs)
                    if with_shingle_codes:
                        # uniq sorted by (doc, code) → per-doc code runs are
                        # already sorted; list array straight from offsets
                        offsets = np.concatenate((bounds, [len(uniq)]))
                        out_codes = pa.ListArray.from_arrays(
                            pa.array(offsets, pa.int32()),
                            pa.array(u_code.astype(np.int64)),
                        )
            else:
                fallback_codes = []
                for i, t in zip(ids, texts):
                    s = sig_fallback(t)
                    if s is not None:
                        out_ids.append(int(i))
                        out_sigs.append(s[0])
                        fallback_codes.append(s[1])
                if with_shingle_codes:
                    out_codes = pa.array(
                        [c.tolist() for c in fallback_codes],
                        pa.list_(pa.int64()),
                    )
            if not out_ids:
                continue
            M = np.stack(out_sigs)
            cols = {
                ddl_names[0]: pa.array(np.asarray(out_ids, np.int64)),
                **{f"h{j}": pa.array(M[:, j]) for j in range(k)},
            }
            if with_shingle_codes:
                cols["sh_codes"] = out_codes
            yield pa.RecordBatch.from_pydict(cols)

    ddl = f"{id_col} long, " + ", ".join(f"h{j} long" for j in range(k))
    if with_shingle_codes:
        ddl += ", sh_codes array<long>"
    return docs.select(id_col, text_col).mapInArrow(worker_task(fn), ddl)


def minhash_lsh_pairs(docs: DataFrame, k: int = 12, bands: int = 4,
                      text_col: str = "text", id_col: str = "doc_id",
                      n: int = 3,
                      max_bucket: int | None = 16) -> DataFrame:
    """LSH banding: signature split into ``bands`` bands of k/bands rows;
    docs sharing any band key become a candidate pair (id_a < id_b).

    ``max_bucket`` drops band buckets holding more than that many docs
    before the self-join (None disables). A bucket of m docs emits
    m(m-1)/2 candidates, so on a homogeneous corpus a few stopword-shingle
    buckets dominate the candidate set (measured: 4.1% of ALL pairs at
    sf0.1 unguarded vs 0.39% at max_bucket=16, planted near-dup recall
    still 100% — a true near-dup pair agrees on many bands, so it
    surfaces through whichever of its buckets stay small)."""
    sig = minhash_signature_arrow(docs, k, text_col, id_col, n)
    pinned: list[DataFrame] = []
    cand = _band_candidates(sig, k, bands, id_col, pinned=pinned,
                            max_bucket=max_bucket)
    return _eager_release(cand, *pinned)


def _band_candidates(sig: DataFrame, k: int, bands: int,
                     id_col: str = "doc_id",
                     pinned: list | None = None,
                     max_bucket: int | None = None) -> DataFrame:
    """Signature DF → distinct LSH candidate pairs. Bands via ONE explode,
    not a per-band union: a union of b branches re-evaluates the signature
    subtree b times (32 evaluations at k=128/b=16).

    Pairs come from ONE bucket aggregation (collect ids per (band,
    band_key), sort, emit in-group combinations), not a self-join of the
    band rows (guide §2.4 remove-shuffles): the self-join formulation
    shuffled the band rows twice more (hot-count groupBy + join, ~150-byte
    string keys both times) plus a broadcast anti-join — measured 6.3 s at
    sf1.0 against 2-3 s for the aggregation form, identical output. The
    hot-bucket guard becomes a size() filter on the collected bucket
    (same count semantics as the old HAVING); a pathological mega-bucket
    (millions of docs sharing a signature band) materializes one
    O(bucket) array row here before being dropped — run exact_dedup
    upstream if identical-content floods that size are expected.

    ``pinned`` is kept for API compatibility; this formulation is a
    single linear pipeline and pins no cache of its own."""
    r = k // bands
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "|", *[F.col(f"h{b * r + j}") for j in range(r)]
            ).alias("band_key"),
        )
        for b in range(bands)
    ])
    band_rows = (
        sig.select(F.col(id_col), F.explode(band_structs).alias("bk"))
        .select(F.col(id_col), F.col("bk.band").alias("band"),
                F.col("bk.band_key").alias("band_key"))
    )
    buckets = band_rows.groupBy("band", "band_key").agg(
        F.array_sort(F.collect_list(id_col)).alias("_ids")
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("_ids") <= max_bucket)
    # in-bucket combinations: _ids is sorted ascending, so slicing past
    # each element yields exactly the id_a < id_b pairs of the old
    # self-join formulation
    pairs = buckets.select(
        F.explode(
            F.flatten(F.expr(
                "transform(_ids, (a, i) -> "
                "transform(slice(_ids, i + 2, size(_ids)), "
                "b -> struct(a AS id_a, b AS id_b)))"
            ))
        ).alias("p")
    )
    return (
        pairs.select(F.col("p.id_a").alias("id_a"),
                     F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def simhash_pieces(docs: DataFrame, n_pieces: int = 4, piece_bits: int = 16,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """64-bit simhash as ``n_pieces`` piece columns ``p0..p{n-1}`` —
    values BIT-IDENTICAL to the original Column-expression formulation
    (kept as the differential oracle in tests/dedup_oracles.py) and to the
    DuckDB oracle SQL, computed in ONE vectorized Arrow pass. Pieces, not
    one packed long: bit 63 of a packed value would overflow a signed
    long, and the pieces ARE the hamming-banding keys (see
    simhash_hamming_pairs).

    The expression path explodes every token row (3M rows at sf1.0) and
    runs 64 conditional sums over 16 hex-digit columns per row — measured
    ~5-6 s at sf1.0 against ~1 s of actual arithmetic (guide §4.2: hand
    whole batches to numpy instead). Here each task md5-hashes only its
    DISTINCT tokens into a (vocab x 64) ±1 matrix, maps the token stream
    to vocab indices, and the per-doc bit sums are one
    ``np.add.reduceat``. Docs with zero tokens emit no row — exactly the
    explode+groupBy semantics."""
    from .. import ensure_shipped

    ensure_shipped(docs.sparkSession)
    bits = n_pieces * piece_bits
    n_digits = (bits + 3) // 4

    def fn(batches):
        import hashlib
        import re

        import numpy as np
        import pyarrow as pa

        tok_idx: dict[str, int] = {}
        rows: list[np.ndarray] = []
        pat = re.compile(r"[a-z0-9]+")

        def idx_of(t: str) -> int:
            i = tok_idx.get(t)
            if i is None:
                h = hashlib.md5(t.encode()).hexdigest()
                digs = np.array([int(c, 16) for c in h[:n_digits]], np.int32)
                # bit j reads digit j//4 shifted by j%4 — flatten order
                bv = ((digs[:, None] >> np.arange(4)) & 1).reshape(-1)[:bits]
                i = len(rows)
                rows.append((bv * 2 - 1).astype(np.int32))
                tok_idx[t] = i
            return i

        weights = (1 << np.arange(piece_bits, dtype=np.int64))
        for b in batches:
            ids = b.column(id_col).to_pylist()
            texts = b.column(text_col).to_pylist()
            out_ids, idxs, counts = [], [], []
            for i, t in zip(ids, texts):
                toks = pat.findall((t or "").lower())
                if not toks:
                    continue  # explode+groupBy drops token-less docs
                out_ids.append(i)
                counts.append(len(toks))
                idxs.extend(idx_of(tk) for tk in toks)
            if not out_ids:
                continue
            B = np.stack(rows)  # vocab x bits, ±1
            flat = np.asarray(idxs, np.int64)
            bounds = np.concatenate(
                ([0], np.cumsum(np.asarray(counts, np.int64))))[:-1]
            sums = np.add.reduceat(B[flat], bounds, axis=0)
            pos = sums > 0
            cols = {id_col: pa.array(np.asarray(out_ids, np.int64))}
            for p in range(n_pieces):
                piece = (pos[:, p * piece_bits:(p + 1) * piece_bits]
                         * weights).sum(axis=1)
                cols[f"p{p}"] = pa.array(piece.astype(np.int64))
            yield pa.RecordBatch.from_pydict(cols)

    ddl = f"{id_col} long, " + ", ".join(
        f"p{p} long" for p in range(n_pieces))
    return docs.select(id_col, text_col).mapInArrow(worker_task(fn), ddl)


def _simhash_band_candidates(sig: DataFrame, n_pieces: int = 4,
                             piece_bits: int = 16,
                             id_col: str = "doc_id") -> DataFrame:
    """Six-group triple-banding over the 64-bit signature → candidate pairs
    with FULL recall for hamming ≤ 3, at 20 exploded rows per doc.

    Single-piece banding (key = one 16-bit piece) collapses at corpus
    scale (~n²/2¹⁶ collisions per piece). Round 3 fixed that with a
    two-level probe-expansion scheme (32-bit keys, ~17·n²/2³²
    candidates) — scale-correct but locally expensive: 12 exact + 204
    probe rows per doc. This round replaces it with a strictly cheaper
    pure-pigeonhole decomposition: split the 64 bits into SIX groups
    (12,12,12,12,8,8 bits). ≤ 3 bit errors touch ≤ 3 groups, so at least
    3 groups are untouched and some TRIPLE of groups is error-free — band
    on all C(6,3)=20 triple keys (group values packed with the triple
    index into one ≤41-bit long) with an exact self-join, no probe
    expansion. Random collisions need 28-36 agreeing bits per triple —
    ~n²/2³⁰ total, the same corpus-scale regime as the probe scheme —
    while the exploded volume drops 10× (20 vs 216 rows/doc) and both
    join sides stay symmetric."""
    if n_pieces != 4 or piece_bits != 16:
        raise NotImplementedError(
            "triple banding implemented for the 64-bit (4 x 16) signature"
        )
    # digit-group extraction from the 16-bit pieces (hash bit 4d..4d+3 =
    # md5 hex digit d; piece p covers digits 4p..4p+3): groups g0..g5
    # cover digits [0-2][3-5][6-8][9-11][12-13][14-15]
    groups = [
        F.col("p0").bitwiseAND(F.lit(0xFFF)),
        F.shiftright(F.col("p0"), 12)
        + F.col("p1").bitwiseAND(F.lit(0xFF)) * F.lit(16),
        F.shiftright(F.col("p1"), 8)
        + F.col("p2").bitwiseAND(F.lit(0xF)) * F.lit(256),
        F.shiftright(F.col("p2"), 4),
        F.col("p3").bitwiseAND(F.lit(0xFF)),
        F.shiftright(F.col("p3"), 8),
    ]
    from itertools import combinations

    keys = [
        (
            F.lit(t * (1 << 36))
            + groups[a] * F.lit(1 << 24)
            + groups[b] * F.lit(1 << 12)
            + groups[c]
        ).cast("long")
        for t, (a, b, c) in enumerate(combinations(range(6), 3))
    ]

    # pairs from ONE bucket aggregation over the 20 exploded triple keys
    # (sorted collect + in-group combinations) instead of a 1.2M-row
    # self-join — the same §2.4 rewrite as _band_candidates; output
    # identical (id_a < id_b pairs sharing any key, then distinct)
    band_rows = sig.select(
        F.col(id_col), F.explode(F.array(*keys)).alias("bk"))
    buckets = band_rows.groupBy("bk").agg(
        F.array_sort(F.collect_list(id_col)).alias("_ids"))
    return (
        buckets.select(F.explode(F.expr(
            "flatten(transform(_ids, (a, i) -> "
            "transform(slice(_ids, i + 2, size(_ids)), "
            "b -> struct(a AS id_a, b AS id_b))))"
        )).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def simhash_hamming_pairs(docs: DataFrame, max_hamming: int = 3,
                          n_pieces: int = 4, piece_bits: int = 16,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs within hamming distance ``max_hamming`` of the 64-bit
    simhash. Candidates via six-group triple banding (pure pigeonhole,
    C(6,3)=20 exact keys per doc — see _simhash_band_candidates); full
    recall holds for max_hamming ≤ 3 because ≤ 3 bit errors touch ≤ 3 of
    the 6 groups, leaving an error-free triple. Exact hamming distance
    over all pieces then verifies each candidate."""
    if max_hamming > n_pieces - 1:
        raise ValueError("full recall requires max_hamming <= n_pieces - 1")
    sig = simhash_pieces(docs, n_pieces, piece_bits, text_col, id_col)
    sig = sig.persist()
    cand = _simhash_band_candidates(sig, n_pieces, piece_bits, id_col)
    # exact hamming verify via ONE broadcast signature bundle + mapInArrow
    # (guide §8/§4.2): the join formulation attached both piece vectors to
    # every candidate row through two shuffle joins. Integer xor/popcount
    # — exact; popcount via a 16-bit lookup table (numpy < 2 has no
    # bitwise_count).
    import numpy as np

    tbl = sig.toArrow()  # also materializes the cache for the cand job
    b_ids = np.asarray(tbl.column(id_col), dtype=np.int64)
    P = np.column_stack([
        np.asarray(tbl.column(f"p{p}"), dtype=np.int64)
        for p in range(n_pieces)
    ])
    sort_ix = np.argsort(b_ids, kind="stable")
    bundle = docs.sparkSession.sparkContext.broadcast(
        (b_ids[sort_ix], sort_ix, P))

    def verify_fn(batches):
        import numpy as _np
        import pyarrow as _pa

        ids_sorted, perm, sigm = bundle.value
        lut = _np.array([bin(i).count("1") for i in range(1 << 16)],
                        _np.uint8)
        words = sigm.shape[1] * 4  # uint16 words per row
        for bt in batches:
            ia = _np.asarray(bt.column("id_a"), dtype=_np.int64)
            ib = _np.asarray(bt.column("id_b"), dtype=_np.int64)
            if len(ia) == 0:
                continue
            ra = perm[_np.searchsorted(ids_sorted, ia)]
            rb = perm[_np.searchsorted(ids_sorted, ib)]
            x = (sigm[ra] ^ sigm[rb]).view(_np.uint16).reshape(-1, words)
            ham = lut[x].sum(axis=1).astype(_np.int32)
            keep = ham <= max_hamming
            if not keep.any():
                continue
            yield _pa.RecordBatch.from_pydict({
                "id_a": _pa.array(ia[keep]),
                "id_b": _pa.array(ib[keep]),
                "hamming": _pa.array(ham[keep]),
            })

    out = cand.mapInArrow(worker_task(verify_fn),
                          "id_a long, id_b long, hamming int")
    res = _eager_release(out, sig)
    if res is out:
        return res  # distributed result may recompute — keep the bundle
    bundle.destroy()
    return res


# codes gathered per merge-intersect pass of the jaccard rescore: bounds
# the pass's working set (int64 codes, pair tags, gather and sort indices,
# sorted copies: ~48 B per code) to ~100 MB
_RESCORE_CHUNK_CODES = 1 << 21


def _pair_jaccard(ra, rb, off, flat):
    """(|A∩B|, jaccard) per pair i of code sets A = flat[off[ra[i]]:
    off[ra[i]+1]] and B likewise from ``rb``; each set holds unique codes.
    One merge-intersect per chunk of pairs instead of a per-pair
    ``np.intersect1d``: tag every code with its pair index, sort by (pair,
    code), and count adjacent equal entries per pair. The jaccard is the
    same IEEE double division as ``inter / (|A| + |B| - inter)``; a pair of
    two empty sets reads NaN (no shared code, never kept)."""
    import numpy as np

    la = off[ra + 1] - off[ra]
    lb = off[rb + 1] - off[rb]
    inter = np.zeros(len(ra), np.int64)

    def gather(starts, lens):
        ex = np.cumsum(lens) - lens
        return flat[np.arange(int(lens.sum())) - np.repeat(ex - starts, lens)]

    # chunk boundaries: whole pairs, at most _RESCORE_CHUNK_CODES codes
    # each (a single larger pair gets a chunk of its own)
    csum = np.cumsum(la + lb)
    lo = 0
    while lo < len(ra):
        base = csum[lo - 1] if lo else 0
        hi = max(lo + 1, int(np.searchsorted(
            csum, base + _RESCORE_CHUNK_CODES, side="right")))
        sl = slice(lo, hi)
        pid = np.arange(hi - lo)
        tags = np.concatenate((np.repeat(pid, la[sl]),
                               np.repeat(pid, lb[sl])))
        codes = np.concatenate((gather(off[ra[sl]], la[sl]),
                                gather(off[rb[sl]], lb[sl])))
        o = np.lexsort((codes, tags))
        tags, codes = tags[o], codes[o]
        dup = (tags[1:] == tags[:-1]) & (codes[1:] == codes[:-1])
        inter[sl] = np.bincount(tags[1:][dup], minlength=hi - lo)
        lo = hi
    with np.errstate(invalid="ignore"):
        jac = inter / (la + lb - inter)
    return inter, jac


# above this many docs the per-doc shingle-set + signature table stops
# being broadcast-sized (≈ n_docs × (avg_set × 8 + k × 8) B ≈ 3.3 KB/doc
# at k=128 and 300-shingle docs → ~330 MB at the cap, the
# hundreds-of-MB broadcast regime of guide §3.1) and the rescore switches
# to the shuffle plan. Raised 50k → 100k in round 8: the sf1.0 corpus
# (60k docs) fell off the broadcast path and paid a 210M-row
# (candidate × shingle) shuffle join — 30+ s for a ~2 s broadcast-side
# rescore.
_JACCARD_BROADCAST_MAX_DOCS = 100_000


def ngram_jaccard_lsh_pairs(docs: DataFrame, threshold: float = 0.65,
                            k: int = 128, bands: int = 16, n: int = 3,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            rescore: str = "auto",
                            max_bucket: int | None = 16) -> DataFrame:
    """Exact char-n-gram Jaccard over MinHash-LSH candidates — the
    scale path for n-gram dedup: banding bounds the candidate set (no
    all-pairs, no hot-shingle blowup), then each candidate pair is scored
    EXACTLY from the two docs' distinct-shingle sets. Recall is the LSH
    band recall (≥99% for J ≥ 0.8 at k=128/bands=16 (r=8), degrading for
    pairs just above ``threshold``) times the signature-estimate prefilter
    recall (≥1−2e-4 at the threshold; see the est_min comment below).

    ``rescore``: 'broadcast' ships the per-doc shingle-set table to every
    executor and intersects code arrays in place — fastest while the sets
    table is broadcast-sized. 'shuffle' is the corpus-scale plan: explode
    the candidate docs' code sets and count intersections with hash joins
    keyed by (doc, code) — no O(corpus) broadcast anywhere, skew bounded
    by per-doc set size. 'auto' picks by corpus row count
    (_JACCARD_BROADCAST_MAX_DOCS)."""
    if rescore not in ("auto", "broadcast", "shuffle"):
        raise ValueError("rescore must be auto|broadcast|shuffle")
    # ONE Arrow pass yields both the banding signatures and each doc's
    # distinct shingle set as sorted integer codes; candidates come from
    # the bands, the exact rescore intersects the (cheap, fixed-width)
    # code arrays instead of re-shipping string shingle arrays
    sig = minhash_signature_arrow(docs, k, text_col, id_col, n,
                                  with_shingle_codes=True).persist()
    n_docs = sig.count()  # also warms the cache before the fan-out below
    if rescore == "auto":
        rescore = (
            "broadcast" if n_docs <= _JACCARD_BROADCAST_MAX_DOCS
            else "shuffle"
        )
    pinned: list[DataFrame] = [sig]
    cand = _band_candidates(sig, k, bands, id_col, pinned=pinned,
                            max_bucket=max_bucket)
    # signature-estimate prefilter (mirrored in the DuckDB oracle SQL):
    # E[#matching minhash components] = J·k, so a candidate with true
    # J ≥ threshold has fewer than (threshold−0.15)·k matches with
    # probability ~2e-4 (3.6σ of Binomial(k, threshold) at k=128). Pruning
    # there cuts ~90% of the exact set intersections — the rescore's cost
    # is per-candidate O(|A|+|B|) (~2k ops) vs k (=128) for the estimate.
    est_min = int(math.ceil(k * max(threshold - 0.15, 0.0)))
    if rescore == "broadcast":
        # Vectorized broadcast rescore (guide §8 "broadcast the plan",
        # §4.2 whole-batch numpy): ship ONE driver-built bundle of the
        # signature matrix + concatenated sorted code sets to every
        # worker, then est-prefilter AND exact intersection run inside a
        # single mapInArrow pass over the candidate pairs. The previous
        # JVM formulation built four broadcast hash relations (two
        # 128-column signature tables, two array-set tables, ~60-140 MB
        # each at sf1.0) and ran a 128-term CASE chain plus
        # array_intersect per pair — measured 20-36 s cold / ~4 s warm
        # against <1 s for the numpy form. Bit-exact: integer equality
        # counts, integer intersections, one IEEE double division; the
        # 6dp rounding stays in the JVM projection below.
        tbl = sig.select(id_col, *[f"h{i}" for i in range(k)],
                         "sh_codes").toArrow()
        import numpy as np

        b_ids = np.asarray(tbl.column(id_col), dtype=np.int64)
        b_H = np.column_stack([
            np.asarray(tbl.column(f"h{i}"), dtype=np.int64)
            for i in range(k)
        ])
        codes_col = tbl.column("sh_codes").combine_chunks()
        b_flat = np.asarray(codes_col.values, dtype=np.int64)
        b_off = np.asarray(codes_col.offsets, dtype=np.int64)
        sort_ix = np.argsort(b_ids, kind="stable")
        bundle = docs.sparkSession.sparkContext.broadcast(
            (b_ids[sort_ix], sort_ix, b_H, b_off, b_flat))

        def rescore_fn(batches):
            import numpy as _np
            import pyarrow as _pa

            ids_sorted, perm, H, off, flat = bundle.value
            for bt in batches:
                ia = _np.asarray(bt.column("id_a"), dtype=_np.int64)
                ib = _np.asarray(bt.column("id_b"), dtype=_np.int64)
                if len(ia) == 0:
                    continue
                ra = perm[_np.searchsorted(ids_sorted, ia)]
                rb = perm[_np.searchsorted(ids_sorted, ib)]
                keep = _np.count_nonzero(H[ra] == H[rb], axis=1) >= est_min
                ia, ib, ra, rb = ia[keep], ib[keep], ra[keep], rb[keep]
                _, jac = _pair_jaccard(ra, rb, off, flat)
                hit = jac >= threshold
                if not hit.any():
                    continue
                yield _pa.RecordBatch.from_pydict({
                    "id_a": _pa.array(ia[hit], _pa.int64()),
                    "id_b": _pa.array(ib[hit], _pa.int64()),
                    "jaccard": _pa.array(jac[hit], _pa.float64()),
                })

        out = (
            cand.mapInArrow(worker_task(rescore_fn),
                            "id_a long, id_b long, jaccard double")
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        )
        res = _eager_release(out, *pinned)
        if res is out:
            # result stayed distributed (past _DRIVER_RESULT_CAP): its
            # cached partitions may be evicted and recomputed later, so
            # the broadcast must outlive this call
            return res
        bundle.destroy()
        return res
    else:
        # corpus-scale est prefilter: attach both signatures and keep the
        # component-match count ≥ est_min — shuffle joins, no broadcasts
        sa = sig.selectExpr(f"{id_col} AS id_a",
                            *[f"h{i} AS a{i}" for i in range(k)])
        sb = sig.selectExpr(f"{id_col} AS id_b",
                            *[f"h{i} AS b{i}" for i in range(k)])
        est = " + ".join(
            f"(CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END)" for i in range(k)
        )
        cand = (
            cand.join(sa, "id_a").join(sb, "id_b")
            .filter(f"({est}) >= {est_min}")
            .select("id_a", "id_b")
        )
        # corpus-scale rescore: |A ∩ B| as a counting join — candidates
        # pick up set A's codes (join on id_a), then an equality join on
        # (id_b, code) keeps exactly the shared codes. No broadcasts, no
        # arrays through the shuffle; row volume is Σ_cand |set_a|.
        ex = sig.select(F.col(id_col).alias("id"),
                        F.explode("sh_codes").alias("code"))
        sizes = sig.select(F.col(id_col).alias("id"),
                           F.size("sh_codes").alias("sz"))
        inter_cnt = (
            cand
            .join(ex.select(F.col("id").alias("id_a"), "code"), "id_a")
            .join(ex.select(F.col("id").alias("id_b"), "code"),
                  on=["id_b", "code"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        scored = (
            inter_cnt
            .join(sizes.select(F.col("id").alias("id_a"),
                               F.col("sz").alias("sz_a")), "id_a")
            .join(sizes.select(F.col("id").alias("id_b"),
                               F.col("sz").alias("sz_b")), "id_b")
        )
    out = (
        scored.withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return _eager_release(out, *pinned)


def embedding_near_dups(emb: DataFrame, threshold: float = 0.98,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Brute pairwise cosine near-dups (id_a < id_b, cos ≥ threshold).
    Baseline path; bounded-n only — use similarity.ann_* for scale."""
    as_double = F.transform(vec_col, lambda x: x.cast("double"))
    withn = emb.select(
        F.col(id_col), as_double.alias(vec_col),
        F.sqrt(F.aggregate(
            F.transform(as_double, lambda x: x * x),
            F.lit(0.0), lambda acc, x: acc + x,
        )).alias("_norm"),
    )
    a = withn.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        F.col("_norm").alias("na"),
    )
    b = withn.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        F.col("_norm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", dot / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )
