"""Column-expression dedup oracles: the original Spark-SQL formulations of
the minhash signature and the simhash pieces. The package computes both in
vectorized Arrow kernels (``dedup.minhash_signature_arrow``,
``dedup.simhash_pieces``); these are the definitions the kernels must stay
bit-identical to (tests/test_dedup_kernels_r08.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pg_walstream_spark.analytics.dedup import shingles, tokens


def minhash_signature(docs: DataFrame, k: int = 12, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """k min-wise hashes per doc: h_i = min over shingles of the first 15
    hex chars (60 bits) of md5(i || ':' || shingle), as a BIGINT.

    Each DISTINCT shingle is hashed once per function into a small
    dimension table, joined back, then min-aggregated: integer minima get
    a true HashAggregate with map-side combine, where min over md5 *hex
    strings* forced a SortAggregate over every (shingle row x k) value
    (~50 s vs ~2 s for k=128 over 850k shingle rows). The dimension table
    is broadcast — char-n-gram vocabularies are tiny (|alphabet|^n); for
    unbounded token-n-gram vocabularies swap the broadcast for a shuffle
    join on sh. Engine-portable: DuckDB reproduces the values with
    CAST('0x' || substr(md5(...), 1, 15) AS BIGINT)."""
    ex = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(text_col, n))).alias("sh"),
    )
    dim = ex.select("sh").distinct().select(
        "sh",
        *[
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}:"), F.col("sh"))), 1, 15
                ),
                16, 10,
            ).cast("long").alias(f"h{i}")
            for i in range(k)
        ],
    )
    return (
        ex.join(F.broadcast(dim), "sh")
        .groupBy(id_col)
        .agg(*[F.min(f"h{i}").alias(f"h{i}") for i in range(k)])
    )


def simhash_pieces_expr(docs: DataFrame, n_pieces: int = 4,
                        piece_bits: int = 16, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """64-bit simhash (by default) as ``n_pieces`` integer piece columns
    ``p0..p{n-1}`` of ``piece_bits`` bits each. Pieces, not one packed long:
    (a) bit 63 of a packed value would overflow a signed long, and (b) the
    pieces ARE the hamming-banding keys (see simhash_hamming_pairs), so
    storing them pre-split skips re-extraction at query time."""
    bits = n_pieces * piece_bits
    n_digits = (bits + 3) // 4
    # extract each hex digit ONCE in a projection (16 string ops per token)
    # instead of re-running substring+conv inside all 64 bit aggregates
    tok = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("t")
    ).withColumn("h", F.md5("t")).select(
        F.col(id_col),
        *[
            F.conv(F.substring("h", d + 1, 1), 16, 10).cast("int")
            .alias(f"d{d}")
            for d in range(n_digits)
        ],
    )
    bit_sums = []
    for j in range(bits):
        bit = F.shiftright(F.col(f"d{j // 4}"), j % 4).bitwiseAND(F.lit(1))
        bit_sums.append(F.sum(bit * 2 - 1).alias(f"s{j}"))
    sums = tok.groupBy(id_col).agg(*bit_sums)
    pieces = []
    for p in range(n_pieces):
        sig = None
        for j in range(piece_bits):
            jj = p * piece_bits + j
            term = F.when(F.col(f"s{jj}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
            sig = term if sig is None else sig + term
        pieces.append(sig.cast("long").alias(f"p{p}"))
    return sums.select(F.col(id_col), *pieces)
