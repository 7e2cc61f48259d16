"""Binary quantization (1 bit/dimension) + Hamming-distance search.

The smallest rung of the compression ladder (Flat → SQ8 → PQ → binary):
each dimension becomes one sign bit against a per-dimension threshold
(trained = dimension mean; 0.0 for pre-centered data), packed 32 bits
per ``BIGINT`` word. A d=768 embedding shrinks 96× (3072 B → 24 B·f32
→ 96 B codes... 24 words), and candidate scoring is XOR + popcount —
the cheapest possible scan kernel, which is why binary codes are the
standard first-pass filter at web scale (cf. the "Hamming embedding"
/ FAISS ``IndexBinaryFlat`` pattern).

Scale posture: encoding is a scan-local codegen fold (zero shuffle);
search broadcasts the (small) query batch, scores with JVM-side
``bit_count(xor)`` expressions or an Arrow popcount-LUT GEMM-style
kernel in the shared map-side top-k stream (one running top-k per
task, ``search.stream_topk``). The
raw-vector table is never read at search time — codes only.

Parity anchor: reference search contract (top-k, ties by id) per
src/api.rs:89-94; the compression tier itself extends the reference
the same way SQ8/PQ do.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vector_indexer_spark.functions.kernels import topk_per_row
from vector_indexer_spark.operators.search import (
    ALL_QUERIES,
    rank_winners,
    stream_queries,
)

WORD_BITS = 32  # bits packed per BIGINT word (kept at 32 so the
# fold accumulator stays far from the sign bit and the same literal
# fold runs in the DuckDB oracle)

BQ_FORMAT_VERSION = 1


@dataclass(frozen=True)
class BQModel:
    """Per-dimension sign thresholds (trained: the dimension mean)."""

    thresholds: tuple  # d doubles

    @property
    def d(self) -> int:
        return len(self.thresholds)

    @property
    def n_words(self) -> int:
        return (self.d + WORD_BITS - 1) // WORD_BITS


def bq_train(df: DataFrame, *, vec_col: str = "values") -> BQModel:
    """Fit per-dimension means in ONE distributed pass — d scalar
    aggregates over array element references, map-side combined (the
    same shape as ``sq_train``; never explodes the n×d rows)."""
    first = df.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("cannot train binary quantizer on empty input")
    d = first["d"]
    bad = df.filter(F.size(vec_col) != d).count()  # P1 fail-fast
    if bad:
        raise ValueError(f"{bad} records have dimension != {d}")
    row = df.agg(
        *[
            F.avg(F.element_at(F.col(vec_col), j + 1)).alias(f"m{j}")
            for j in range(d)
        ]
    ).first()
    return BQModel(thresholds=tuple(float(row[f"m{j}"]) for j in range(d)))


def pack_bits_expr(vec: Column | str, model: BQModel) -> Column:
    """``ARRAY<BIGINT>`` of packed sign bits for a float-array column.

    Word ``w`` is a left fold ``acc*2 + (x > threshold)`` over its 32
    dimensions (big-endian within the word) — pure whole-stage-codegen
    arithmetic, deterministic, and expressible verbatim in DuckDB
    (``list_reduce(list_prepend(0, bits), (a, b) -> a*2 + b)``), which
    is what anchors the oracle. Positions past d contribute 0 bits.
    """
    vec = F.col(vec) if isinstance(vec, str) else vec
    thr = F.array(*[F.lit(float(t)) for t in model.thresholds])
    d = model.d

    def word(w: int) -> Column:
        base = w * WORD_BITS
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(WORD_BITS)),
            F.lit(0).cast("long"),
            lambda acc, j: acc * 2
            + F.when(
                (F.lit(base) + j <= d)
                & (
                    F.element_at(vec, F.lit(base) + j)
                    > F.element_at(thr, F.lit(base) + j)
                ),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )

    return F.array(*[word(w) for w in range(model.n_words)])


def codes_fit(codes: Column, d: int) -> Column:
    """True where a packed-codes row holds exactly the word count of
    ``d`` bits. The ``element_at`` folds guard on it, so a too-short or
    too-long row scores NULL (which ``rank_winners`` drops, as it drops
    a ``zip_with`` fold's NULL) instead of raising
    ``INVALID_ARRAY_INDEX_IN_ELEMENT_AT`` under ANSI mode or scoring a
    truncated row."""
    return F.size(codes) == F.lit((d + WORD_BITS - 1) // WORD_BITS)


def bit_fold(codes: Column, d: int, term) -> Column:
    """``((0 + term(1, bit_1)) + term(2, bit_2)) + …``: one flat
    left-fold over the ``d`` packed code bits in dimension order
    (literal shifts + ``& 1``; packed words are non-negative, so
    logical and arithmetic shifts agree across engines)."""
    s = F.lit(0.0)
    for j in range(1, d + 1):
        bit = F.shiftrightunsigned(
            F.element_at(codes, (j - 1) // WORD_BITS + 1),
            WORD_BITS - ((j - 1) % WORD_BITS + 1),
        ).bitwiseAND(F.lit(1))
        s = s + term(j, bit)
    return s


def hamming_expr(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two packed-code arrays: Σ popcount(xor)
    per word — JVM ``bit_count`` intrinsics, no UDF."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def bq_encode(
    df: DataFrame,
    model: BQModel,
    *,
    id_col: str = "id",
    vec_col: str = "values",
) -> DataFrame:
    """Encode a vector table to ``(id, codes ARRAY<BIGINT>)`` —
    scan-local, zero shuffle."""
    return df.select(
        F.col(id_col).alias("id"),
        pack_bits_expr(vec_col, model).alias("codes"),
    )


def bq_search(
    codes_df: DataFrame,
    model: BQModel,
    queries: DataFrame,
    *,
    k: int = 10,
    query_id_col: str = "query_id",
    query_col: str = "query",
    method: str = "native",
) -> DataFrame:
    """Top-k by Hamming distance over packed codes (ties by id, the
    reference's result contract).

    ``native`` scores with codegen ``bit_count(xor)`` expressions and
    ranks with the one native window rank (``search.rank_winners``) —
    the oracle-checkable path.
    ``arrow`` unpacks each Arrow batch's codes to a uint8 matrix,
    scores every query against it with a popcount lookup table, and
    keeps one running top-k per task — the scan-scale path (the
    stream knn's arrow method runs too). Both return identical rows.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    if method == "native":
        return _bq_search_native(codes_df, model, queries, k, query_id_col, query_col)
    if method == "arrow":
        return _bq_search_arrow(codes_df, model, queries, k, query_id_col, query_col)
    raise ValueError(f"unknown method {method!r}")


def _bq_search_native(codes_df, model, queries, k, query_id_col, query_col):
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        pack_bits_expr(query_col, model).alias("__qc"),
    )
    scored = codes_df.crossJoin(F.broadcast(q)).select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        hamming_expr("codes", "__qc").alias("hamming"),
    )
    return rank_winners(scored, k, "hamming")


_POPCNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)


def _codes_to_bytes(mat: np.ndarray) -> np.ndarray:
    """(n, n_words) int64 → (n, n_words*8) uint8 view (big-endian so
    byte order is deterministic; popcount is order-independent)."""
    return (
        mat.astype(">i8", copy=False).view(np.uint8).reshape(mat.shape[0], -1)
    )


def _query_bytes(qmat: np.ndarray, model: BQModel) -> np.ndarray:
    """Queries sign-packed like :func:`pack_bits_expr`, as the byte
    matrix the popcount table scores."""
    d, n_words = model.d, model.n_words
    qbits = np.zeros((len(qmat), n_words), dtype=np.int64)
    bits = (qmat > np.asarray(model.thresholds, dtype=np.float64)).astype(
        np.int64
    )
    for j in range(d):
        w = j // WORD_BITS
        qbits[:, w] = qbits[:, w] * 2 + bits[:, j]
    # positions past d in the last word: zero bits appended by the fold
    tail = n_words * WORD_BITS - d
    if tail:
        qbits[:, -1] <<= tail
    return _codes_to_bytes(qbits)


def _bq_search_arrow(codes_df, model, queries, k, query_id_col, query_col):
    def blocks(pdf, qbytes_):
        cmat = np.stack([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])
        cbytes = _codes_to_bytes(cmat)
        # (nq, n, nbytes) xor is memory-bounded per Arrow batch
        ham = _POPCNT8[
            np.bitwise_xor(qbytes_[:, None, :], cbytes[None, :, :])
        ].sum(axis=2)
        ids = pdf["id"].to_numpy().astype(np.int64)
        yield ALL_QUERIES, *topk_per_row(ham.astype(np.float64), k, ids)

    return stream_queries(
        codes_df.select("id", "codes"), queries, model.d, k, "hamming",
        blocks, lambda qmat: _query_bytes(qmat, model), query_id_col,
        query_col,
    )


def bq_search_refined(
    codes_df: DataFrame,
    model: BQModel,
    vectors: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "id",
    vec_col: str = "values",
    query_id_col: str = "query_id",
    query_col: str = "query",
    method: str = "native",
) -> DataFrame:
    """Hamming shortlist → exact L2 rescoring (the binary-first-pass /
    refine pattern): take ``shortlist`` candidates by Hamming, then
    re-rank the survivors by true distance against the raw vectors —
    a semi-join-sized exact pass instead of a full scan."""
    from vector_indexer_spark.operators.pq import refine_topk

    short = bq_search(
        codes_df,
        model,
        queries,
        k=shortlist,
        query_id_col=query_id_col,
        query_col=query_col,
        method=method,
    )
    return refine_topk(
        short,
        vectors,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_col=query_col,
    )


def adc_score_expr(codes: Column | str, qvec: Column | str, model: BQModel) -> Column:
    """Asymmetric (ADC) binary score: the query stays FLOAT and each
    code bit contributes ``±q_j`` — ``score = Σ_j q_j·(2·bit_j − 1) =
    q · sign(x − thresholds)`` — so query-side magnitude information
    survives quantization (the standard asymmetric-distance upgrade
    over symmetric Hamming, cf. Jégou et al. TPAMI'11 §III-B applied
    at 1 bit; FAISS pairs ``IndexBinaryFlat`` with float-query
    rescoring the same way). Higher = more similar.

    Built as ONE flat left-fold over dimensions in index order —
    ``((0 + t_1) + t_2) + …`` — pure codegen arithmetic (literal
    shifts + ``& 1``), bit-for-bit replayable in DuckDB with
    ``list_reduce(list_prepend(0.0, terms))`` over the same term
    order. Packed words are non-negative (< 2^32) so logical and
    arithmetic right shifts agree across engines.
    """
    codes = F.col(codes) if isinstance(codes, str) else codes
    qvec = F.col(qvec) if isinstance(qvec, str) else qvec
    s = bit_fold(
        codes,
        model.d,
        lambda j, bit: F.element_at(qvec, j).cast("double")
        * (bit * 2 - 1).cast("double"),
    )
    return F.when(codes_fit(codes, model.d), s)


def bq_adc_search(
    codes_df: DataFrame,
    model: BQModel,
    queries: DataFrame,
    *,
    k: int = 10,
    query_id_col: str = "query_id",
    query_col: str = "query",
    method: str = "native",
) -> DataFrame:
    """Top-k by ASYMMETRIC score over packed binary codes (ties by
    id): the recall upgrade over :func:`bq_search`'s symmetric Hamming
    at identical storage — the query is never quantized, so ranking
    uses d graded contributions instead of d equal-weight bit flips.

    ``native`` scores with the flat codegen fold and ranks the negated
    score with ``search.rank_winners`` (the oracle path);
    ``arrow`` unpacks each Arrow batch's codes to a ±1 float matrix
    and GEMMs the query block against it in the same top-k stream as
    the Hamming arrow path. The GEMM accumulates in a different order
    than the fold, so arrow scores can differ in final ULPs (ranking
    ties by id are preserved for distinct scores; the oracle path is
    ``native``).

    Returns ``(query_id, rank, neighbor_id, score)``, score DESC.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    if method == "native":
        q = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_col).alias("__qv"),
        )
        # rank the negated score ascending, then negate back: the
        # arrow twin's (score DESC, id) order
        scored = codes_df.crossJoin(F.broadcast(q)).select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            (-adc_score_expr("codes", "__qv", model)).alias("score"),
        )
        return rank_winners(scored, k, "score").withColumn(
            "score", -F.col("score")
        )
    if method == "arrow":
        return _bq_adc_arrow(codes_df, model, queries, k, query_id_col, query_col)
    raise ValueError(f"unknown method {method!r}")


def _unpack_bits(codes, d: int) -> np.ndarray:
    """A ``codes`` column of packed words → (n, d) float64 0/1 bits.
    Each int64 word holds its 32 packed bits in the LOW half
    (big-endian bytes 4-7), MSB-first within the word = dim order — so
    drop the high-32 zero lanes per word before slicing the first d
    dims."""
    cmat = np.stack([np.asarray(c, dtype=np.int64) for c in codes])
    n_rows, n_words = cmat.shape
    bits64 = np.unpackbits(
        _codes_to_bytes(cmat).astype(np.uint8), axis=1
    ).reshape(n_rows, n_words, 64)[:, :, 32:]
    return bits64.reshape(n_rows, n_words * WORD_BITS)[:, :d].astype(
        np.float64
    )


def _bq_adc_arrow(codes_df, model, queries, k, query_id_col, query_col):
    d = model.d

    def blocks(pdf, qmat_):
        signs = _unpack_bits(pdf["codes"], d) * 2.0 - 1.0  # (n, d)
        ids = pdf["id"].to_numpy().astype(np.int64)
        # the stream ranks ascending: rank the negated score
        yield ALL_QUERIES, *topk_per_row(-(qmat_ @ signs.T), k, ids)

    out = stream_queries(
        codes_df.select("id", "codes"), queries, d, k, "score", blocks,
        lambda qmat: qmat, query_id_col, query_col,
    )
    # (score DESC, id) order; negate back to the score
    return out.withColumn("score", -F.col("score"))


def bq_adc_refined(
    codes_df: DataFrame,
    model: BQModel,
    vectors: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "id",
    vec_col: str = "values",
    query_id_col: str = "query_id",
    query_col: str = "query",
    method: str = "native",
) -> DataFrame:
    """ADC shortlist → exact L2 rescoring: the asymmetric twin of
    :func:`bq_search_refined` — better shortlist recall at the same
    code bytes, identical refine stage (semi-join-sized exact pass)."""
    from vector_indexer_spark.operators.pq import refine_topk

    short = bq_adc_search(
        codes_df,
        model,
        queries,
        k=shortlist,
        query_id_col=query_id_col,
        query_col=query_col,
        method=method,
    )
    return refine_topk(
        short,
        vectors,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_col=query_col,
    )
