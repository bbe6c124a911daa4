"""Product quantization (PQ) for approximate nearest-neighbour search
(Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", IEEE TPAMI 2011).

The third ANN tier next to ``simsearch.cosine_topk`` (exact) and
``simsearch.ivf_topk`` (partition pruning): PQ compresses each corpus
vector to ``m`` small codes (one byte each at k_sub ≤ 256) and scores
queries against the COMPRESSED corpus with asymmetric distance
computation (ADC) — the query stays exact, each corpus subvector is
replaced by its nearest codebook centroid.  At 100 TB this is the
memory-bound regime's tool: a 64-d float corpus shrinks 64× (4 codes
vs 64 floats), the scan stays map-side, and the corpus never shuffles.

Codebooks here are DETERMINISTIC SEED QUANTIZERS: per subspace, the
centroids are the subvectors of the ``k_sub`` corpus rows with the
smallest ``(md5(id), id)`` — the same engine-portable sampling rule as
``simsearch._seed_centroids`` — so a SQL oracle can re-derive the
codebooks, the codes, and every ADC distance bit-for-bit.  Lloyd
refinement of the seeds (the production upgrade; identical plan shape,
better recall) deliberately isn't layered in here: it would trade the
exact cross-engine oracle for a numpy-mirror test.  Recall against the
exact baseline is instead pinned statistically in pytest.

Plan shape / 100 TB:
- ``pq_encode`` is MAP-ONLY: the m × k_sub centroid literals ride the
  plan; per row, each subspace picks argmin by (rounded distance,
  centroid index) — zero shuffles, zero joins.
- ``pq_topk`` broadcasts the (tiny) query side with a per-subspace
  distance TABLE precomputed per query (k_sub rounded doubles), so the
  corpus-side scan only indexes the table by code and adds m values in
  fixed order — no per-pair distance recomputation, corpus unshuffled;
  the only exchange is the q_id ranking window over |Q|·k candidates.

Float discipline (the registry's DECIMAL/round house rules): every
subspace distance is a fixed-order left-associated sum of
``(e[i] − c)·(e[i] − c)`` double terms rounded to ``score_scale``
decimals; ADC adds the m rounded terms in subspace order.  Identical
operand values + identical association = bit-identical doubles in
both engines, so ranks never flip across the oracle.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .fastlit import _render, dlit


def pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    k_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic seed codebooks: ``books[s][c]`` is centroid ``c``
    of subspace ``s`` — the s-th slice of the c-th corpus vector in
    ``(md5(id), id)`` order.  One bounded ``collect`` of k_sub rows
    (codebook metadata, not data — the same collect class as the IVF
    codebook)."""
    rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k_sub)
        .collect()
    )
    if len(rows) < k_sub:
        raise ValueError(
            f"pq_codebooks: corpus has {len(rows)} rows < k_sub={k_sub}"
        )
    dim = len(rows[0][vec_col])
    if dim % m:
        raise ValueError(f"pq_codebooks: dim {dim} not divisible by m={m}")
    d_sub = dim // m
    return [
        [
            [float(x) for x in r[vec_col][s * d_sub:(s + 1) * d_sub]]
            for r in rows
        ]
        for s in range(m)
    ]


def _subspace_dists(
    sub: Column | str, cents: list[list[float]], score_scale: int
) -> Column:
    """Array of rounded squared distances from one subvector to every
    centroid of a subspace codebook.

    The codebook enters as ONE nested-array literal and the per-
    centroid work is a higher-order ``transform`` — not k_sub × d_sub
    inlined scalar terms.  The scalar form put ~10⁴ expression nodes
    in the projection, which knocked the plan out of whole-stage
    codegen AND cost seconds of driver-side analysis per query build
    (measured 42 s end-to-end at m=16, k_sub=32; this form plans in
    milliseconds).

    ``sub`` is a COLUMN NAME (or a Column, accepted for compatibility
    — its name is extracted): the whole expression is rendered as one
    SQL string for one py4j round-trip.  The Column-API form of the
    same tree (F.transform + F.zip_with + F.aggregate with Python
    lambdas) cost ~34 ms of driver py4j traffic per subspace — 0.55 s
    of the pq_topk build at m=16 (guide §7.3: driver-bound).  The SQL
    text parses to the identical analyzed tree: same lambda functions,
    same casts, same 0.0D zero, same left fold order — bit-identical
    to the oracle.

    Fold order matches the oracle SQL exactly: zip_with emits
    (x−y)·(x−y) per dimension in index order and aggregate folds
    left-to-right from +0.0 — IEEE-identical to the oracle's
    left-associated explicit sum (0.0 + t ≡ t for the non-negative
    squared terms)."""
    if isinstance(sub, Column):  # compatibility: arbitrary Column input
        return F.transform(
            dlit(cents),
            lambda cent: F.round(
                F.aggregate(
                    F.zip_with(
                        sub, cent,
                        lambda x, y: (x.cast("double") - y)
                        * (x.cast("double") - y),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                score_scale,
            ),
        )
    return F.expr(
        f"transform({_render(cents)}, cent -> round(aggregate("
        f"zip_with(`{sub}`, cent, "
        f"(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
        f"0.0D, (acc, v) -> acc + v), {int(score_scale)}))"
    )


def pq_encode(
    corpus: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_scale: int = 9,
) -> DataFrame:
    """Map-side PQ encoding: (id, code_0 … code_{m−1}) where
    ``code_s`` = argmin over centroids of the subspace-s squared
    distance, ties to the smaller centroid index (struct-min over
    (rounded distance, index))."""
    m = len(books)
    d_sub = len(books[0][0])
    # staged projections: subvector slices, then distance arrays, then
    # argmin codes — each stage's arrays are materialized columns, so
    # no subtree is inlined per lambda element (the O(n²) Catalyst
    # trap) and the multiply-referenced distance arrays evaluate once
    subs = corpus.select(
        F.col(id_col),
        *[
            F.slice(F.col(vec_col), s * d_sub + 1, d_sub).alias(f"__sub_{s}")
            for s in range(m)
        ],
    )
    dists = subs.select(
        F.col(id_col),
        *[
            _subspace_dists(
                f"__sub_{s}", books[s], score_scale
            ).alias(f"__d_{s}")
            for s in range(m)
        ],
    )
    # array_position returns the FIRST index of the minimum — the
    # (distance, centroid-index) tie-break for free
    return dists.select(
        F.col(id_col),
        *[
            (
                F.array_position(
                    F.col(f"__d_{s}"), F.array_min(F.col(f"__d_{s}"))
                )
                - 1
            ).cast("int").alias(f"code_{s}")
            for s in range(m)
        ],
    )


def _spark_round(x: float, scale: int) -> float:
    """Spark's ``F.round`` on DoubleType: HALF_UP on the SHORTEST
    decimal representation of the double (Scala ``BigDecimal.decimal``
    = ``BigDecimal(Double.toString(x))``).  Python's ``repr(float)``
    produces the same shortest round-tripping decimal, so quantizing
    that string HALF_UP reproduces the JVM result exactly — unlike
    ``numpy.round`` (half-even on the binary value)."""
    q = Decimal(1).scaleb(-scale)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _fused_rotation(corpus: DataFrame, rotation, vec_col: str):
    """(R, out_dt) for rotating INSIDE an Arrow kernel with results
    bit-identical to a separate ``rotate_vectors`` stage: the same
    BLAS ``V @ R`` followed by the same element-dtype round-trip
    (a float32 column's rotated values re-quantize to float32 before
    the consumer widens back to float64 — exactly what happens when
    the rotated frame is written through the Arrow boundary)."""
    import numpy as np

    R = np.asarray(rotation, dtype=np.float64)
    elem = corpus.schema[vec_col].dataType.elementType.simpleString()
    out_dt = np.float64 if elem == "double" else np.float32
    return R, out_dt


def pq_encode_arrow(
    corpus: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_scale: int = 9,
    rotation=None,
) -> DataFrame:
    """Arrow/numpy PQ encoding — the PRODUCTION twin of ``pq_encode``.

    Same map-only plan shape (the codebooks ride to the executors
    inside the cloudpickled closure; zero shuffles, zero joins), but
    the per-row work is vectorized numpy instead of interpreted
    Catalyst higher-order functions: ``pq_encode``'s
    transform/zip_with/aggregate lambdas evaluate OUTSIDE whole-stage
    codegen, a constant-factor CPU tax on what is the hottest map
    stage of the 100-TB regime (m·k_sub·d_sub lambda evals per row).
    Here each batch does m batched (n × k_sub × d_sub) subtract/
    multiply/accumulate passes.

    Bit-compatibility with the HOF/SQL form (and hence the DuckDB
    oracle) is engineered, not hoped for:

    - the squared-distance accumulation is a strict left fold in
      dimension order starting from +0.0 (a Python loop of vectorized
      adds, NOT ``numpy.sum`` whose pairwise association differs) —
      float64 ops in the same order are bit-identical across numpy
      and the JVM;
    - ``numpy.argmin`` picks the FIRST minimum, matching
      ``array_position(d, array_min(d))``;
    - the HOF form takes argmin over distances ROUNDED to
      ``score_scale`` decimals.  Unrounded argmin can only disagree
      with rounded argmin when the two smallest distances lie within
      one rounding grid step, so rows where ``d2 − d1 ≤ 2·10^−scale``
      take a slow path that reproduces Spark's exact rounding
      (``_spark_round``) before the argmin; everywhere else the
      rounded order is provably the unrounded order.

    ``tests/test_pq.py`` pins code-for-code equality of the two
    encoders on the real embeddings table.

    ``rotation`` fuses an OPQ rotation into the SAME Arrow pass
    (guide §4: one Python boundary instead of two) with results
    bit-identical to ``pq_encode_arrow(rotate_vectors(corpus, R))``
    — see ``_fused_rotation`` for the dtype round-trip contract."""
    import numpy as np
    import pandas as pd

    m = len(books)
    d_sub = len(books[0][0])
    k_sub = len(books[0])
    cents = [np.asarray(books[s], dtype=np.float64) for s in range(m)]
    grid = 10.0 ** (-score_scale)
    rot = (
        _fused_rotation(corpus, rotation, vec_col)
        if rotation is not None else None
    )
    out_schema = T.StructType(
        [corpus.schema[id_col]]
        + [T.StructField(f"code_{s}", T.IntegerType(), False) for s in range(m)]
    )

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            if rot is not None:
                R, out_dt = rot
                V = (V @ R).astype(out_dt).astype(np.float64)
            out = {id_col: pdf[id_col].to_numpy()}
            for s in range(m):
                sub = V[:, s * d_sub:(s + 1) * d_sub]
                out[f"code_{s}"] = _argmin_codes(sub, cents[s], score_scale)
            yield pd.DataFrame(out)

    return corpus.select(id_col, vec_col).mapInPandas(encode, out_schema)


def _argmin_codes(sub, cents, score_scale: int):
    """Vectorized rounded-argmin over one subspace — the shared kernel
    of ``pq_encode_arrow`` and ``refine_codebooks``.  See
    ``pq_encode_arrow`` for the bit-compatibility contract (strict
    left-fold accumulation, first-min argmin, exact Spark-rounding
    slow path for grid-adjacent ties)."""
    import numpy as np

    n, d_sub = sub.shape
    k_sub = len(cents)
    grid = 10.0 ** (-score_scale)
    diff = sub[:, None, :] - cents[None, :, :]
    sq = diff * diff
    acc = np.zeros((n, k_sub), dtype=np.float64)
    for j in range(d_sub):  # strict left fold, oracle order
        acc += sq[:, :, j]
    idx = np.argmin(acc, axis=1)
    if k_sub > 1:  # a single centroid has no grid-adjacent runner-up
        two = np.partition(acc, 1, axis=1)
        close = np.nonzero(two[:, 1] - two[:, 0] <= 2.0 * grid)[0]
        for r in close:  # rare: grid-adjacent → exact rounding
            rounded = [_spark_round(v, score_scale) for v in acc[r]]
            idx[r] = rounded.index(min(rounded))
    return idx.astype(np.int32)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 4,
    k_sub: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_scale: int = 9,
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """ADC top-k: exact query vs PQ-compressed corpus.  Returns
    (q_id, n_id, rank, adc) — rank by (adc, n_id), ``adc`` the
    asymmetric squared euclidean distance.

    The query side precomputes one k_sub-entry distance table per
    subspace (rounded doubles) and broadcasts; the corpus side is the
    map-only encoded scan, so scoring a pair is m array lookups and
    m−1 additions.

    The corpus is encoded by the vectorized ``pq_encode_arrow``;
    ``pq_encode`` (the higher-order-function form the SQL oracle
    mirrors term-for-term) produces identical codes and stays as its
    test reference (tests/test_pq.py)."""
    from ..sources.lake import spread

    if books is None:
        books = pq_codebooks(corpus, m, k_sub, id_col, vec_col)
    codes = spread(
        pq_encode_arrow(corpus, books, id_col, vec_col, score_scale)
    )
    return adc_topk_over_codes(
        codes, queries, books, k=k, id_col=id_col, vec_col=vec_col,
        score_scale=score_scale,
    )


def adc_topk_over_codes(
    codes: DataFrame,
    queries: DataFrame,
    books: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_scale: int = 9,
) -> DataFrame:
    """The ADC scoring stage over an ALREADY-ENCODED codes frame —
    shared by ``pq_topk`` (encode-on-the-fly) and the persisted PQ
    index (``llmops/annindex.py``), so the two paths cannot drift."""
    m = len(books)
    d_sub = len(books[0][0])
    q = queries.select(
        F.col(id_col).alias("q_id"),
        *[
            F.slice(F.col(vec_col), s * d_sub + 1, d_sub).alias(f"__qs_{s}")
            for s in range(m)
        ],
    ).select(
        "q_id",
        *[
            _subspace_dists(
                f"__qs_{s}", books[s], score_scale
            ).alias(f"__dtab_{s}")
            for s in range(m)
        ],
    )

    adc = None
    for s in range(m):
        term = F.element_at(F.col(f"__dtab_{s}"), F.col(f"code_{s}") + 1)
        adc = term if adc is None else adc + term

    w = Window.partitionBy("q_id").orderBy(F.col("adc").asc(), F.col("n_id"))
    return (
        codes.withColumnRenamed(id_col, "n_id")
        .crossJoin(F.broadcast(q))
        .withColumn("adc", adc)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "adc")
    )


def pq_topk_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 4,
    k_sub: int = 8,
    k: int = 5,
    overfetch: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_scale: int = 9,
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """The production PQ shape: ADC shortlist of ``overfetch·k``
    candidates per query, then EXACT squared-euclidean re-ranking of
    just the shortlist — recall recovers most of what quantization
    loses, while the exact distance touches only |Q|·overfetch·k
    original vectors (an id equi-join against the corpus) instead of
    the whole corpus.

    Returns (q_id, n_id, rank, dist) ranked by the exact distance."""
    cand = pq_topk(
        corpus, queries, m=m, k_sub=k_sub, k=overfetch * k,
        id_col=id_col, vec_col=vec_col, score_scale=score_scale,
        books=books,
    ).select("q_id", "n_id")
    nv = corpus.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("__nv")
    )
    qv = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("__qv")
    )
    # exact Σ(a−b)² via the same fold discipline as simsearch._dot
    diff2 = F.aggregate(
        F.zip_with(
            F.col("__qv"), F.col("__nv"),
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("n_id"))
    return (
        cand.join(nv, "n_id")
        .join(F.broadcast(qv), "q_id")
        .withColumn("dist", F.round(diff2, score_scale))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "dist")
    )


def refine_codebooks(
    corpus: DataFrame,
    books: list[list[list[float]]],
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_scale: int = 9,
    rotation=None,
) -> list[list[list[float]]]:
    """Lloyd (k-means) refinement of PQ codebooks — the production
    upgrade over raw seeds (measured on the test corpus: recall@5
    0.44 seed-only → ~0.6 at 10 iterations, m=16/k_sub=32).

    Distributed correctly — and in ONE pass per iteration: an Arrow
    ``mapInPandas`` stage assigns codes (the shared ``_argmin_codes``
    kernel; current codebooks ride in the closure) AND emits per-batch
    PARTIAL (subspace, code) → (count, per-dimension sums) rows — a
    map-side combine, so each batch contributes ≤ m·k_sub rows no
    matter how many vectors it holds.  One grouped aggregation merges
    the partials; only m × k_sub final rows (codebook-sized metadata)
    come back to the driver, which divides sums by counts into the
    next iteration's centroids.  The corpus is never collected, never
    joined, never shuffled — per iteration the shuffle moves at most
    ``n_batches · m · k_sub`` partial rows.  (The first form of this —
    encode, id-JOIN back to the sliced corpus, m unioned groupBys —
    cost 16 shuffle jobs + a corpus-scale join per iteration; this is
    one job, and 3 iterations run ~4× faster at sf0.1.)  Empty cells
    keep their previous centroid (standard Lloyd practice).

    The result is NOT SQL-oracle-reproducible (iterative refinement);
    downstream search quality is pinned by the numpy-mirror pytest
    instead.  Feed the result to ``pq_encode`` / ``pq_topk`` — their
    plan shape is independent of where the codebooks came from.

    ``rotation`` fuses an OPQ rotation into the assignment pass
    (guide §4: one Python boundary per sweep instead of two),
    bit-identical to refining ``rotate_vectors(corpus, R)`` — see
    ``_fused_rotation``."""
    import numpy as np
    import pandas as pd

    m = len(books)
    d_sub = len(books[0][0])
    k_sub = len(books[0])
    rot = (
        _fused_rotation(corpus, rotation, vec_col)
        if rotation is not None else None
    )
    stat_schema = T.StructType(
        [
            T.StructField("__s", T.IntegerType(), False),
            T.StructField("__c", T.IntegerType(), False),
            T.StructField("__n", T.LongType(), False),
        ]
        + [
            T.StructField(f"__sum_{j}", T.DoubleType(), False)
            for j in range(d_sub)
        ]
    )
    for _ in range(n_iters):
        cents = [np.asarray(books[s], dtype=np.float64) for s in range(m)]

        def partial_stats(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
                if rot is not None:
                    R, out_dt = rot
                    V = (V @ R).astype(out_dt).astype(np.float64)
                out = {
                    "__s": [], "__c": [], "__n": [],
                    **{f"__sum_{j}": [] for j in range(d_sub)},
                }
                for s in range(m):
                    sub = V[:, s * d_sub:(s + 1) * d_sub]
                    codes = _argmin_codes(sub, cents[s], score_scale)
                    counts = np.bincount(codes, minlength=k_sub)
                    sums = np.zeros((k_sub, d_sub))
                    np.add.at(sums, codes, sub)
                    hit = np.nonzero(counts)[0]
                    out["__s"].extend([s] * len(hit))
                    out["__c"].extend(int(c) for c in hit)
                    out["__n"].extend(int(counts[c]) for c in hit)
                    for j in range(d_sub):
                        out[f"__sum_{j}"].extend(
                            float(sums[c, j]) for c in hit
                        )
                yield pd.DataFrame(out)

        stats = (
            corpus.select(vec_col)
            .mapInPandas(partial_stats, stat_schema)
            .groupBy("__s", "__c")
            .agg(
                F.sum("__n").alias("__n"),
                *[
                    F.sum(f"__sum_{j}").alias(f"__sum_{j}")
                    for j in range(d_sub)
                ],
            )
            .collect()
        )  # ≤ m × k_sub rows — codebook metadata
        nxt = [[list(c) for c in books[s]] for s in range(m)]
        for r in stats:
            if r["__n"]:
                nxt[r["__s"]][r["__c"]] = [
                    r[f"__sum_{j}"] / r["__n"] for j in range(d_sub)
                ]
        books = nxt
    return books
