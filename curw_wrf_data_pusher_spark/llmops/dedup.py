"""Document deduplication operators for large-scale training-data
pipelines: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All variants are pure DataFrame compositions (no Python UDFs): hashing
is md5/sha2 (JVM codegen), shingling is array lambdas, signatures are
grouped min-aggregations.  Scale notes per operator below — the whole
point of MinHash/LSH/SimHash here is that exact pairwise Jaccard is
quadratic and only the banded forms survive 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textkeys import gram_hash64_sql, gram_hash_sql

#: Fixed universal-hash coefficients (a, b) for MinHash h_j(x) =
#: (a_j * x + b_j) mod p. Deterministic across runs and engines.
MINHASH_COEFFS: list[tuple[int, int]] = [
    (995207, 65173), (950959, 306229), (892871, 182611), (786433, 459029),
    (654187, 92003), (538579, 261223), (402653, 359671), (318211, 31393),
]
MINHASH_PRIME = 2147483647  # 2^31 - 1


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: hash-groupBy on content. Returns one row per
    distinct content with the canonical (min) id and duplicate count.

    Scale: one shuffle on a 128-bit hash key — uniformly distributed,
    no skew; the md5 is computed map-side so only (hash, id) shuffles,
    never the text payload."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_dups"),
        )
    )


def shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    carry: Sequence[str] = (),
) -> DataFrame:
    """Distinct word n-gram shingles per document, long format
    (id, *carry, shingle). Whitespace tokenization on single spaces;
    docs with fewer than n tokens produce no shingles.

    ``carry``: extra per-document columns replicated onto every shingle
    row map-side — callers that need a doc attribute alongside shingles
    (e.g. a test/train flag) carry it here instead of joining it back
    on id afterwards (which would cost a full shuffle join of the
    shingle table)."""
    from ..sources.lake import spread

    # tokens are materialized once (not re-split per element access) and
    # elements are read with SQL bracket indexing — measured ~8× faster
    # than F.get() inside the lambda.
    tok = (
        spread(df)
        .select(F.col(id_col), *[F.col(c) for c in carry],
                F.split(F.col(text_col), " ").alias("__t"))
        .filter(F.size("__t") >= n)
    )
    parts = " || ' ' || ".join(f"__t[i + {j}]" for j in range(n))
    grams = F.array_distinct(
        F.expr(f"transform(sequence(0, size(__t) - {n}), i -> {parts})")
    )
    return tok.select(
        F.col(id_col), *[F.col(c) for c in carry],
        F.explode(grams).alias("shingle"),
    )


def _shingle_int(col: str = "shingle") -> F.Column:
    """Map a shingle string to a 32-bit integer via md5 (first 8 hex
    chars) — cheap, deterministic, engine-portable."""
    return F.conv(F.substring(F.md5(F.col(col)), 1, 8), 16, 10).cast("long")


def minhash_signatures(
    shingle_df: DataFrame,
    id_col: str = "doc_id",
    coeffs: Sequence[tuple[int, int]] = tuple(MINHASH_COEFFS),
    prime: int = MINHASH_PRIME,
) -> DataFrame:
    """MinHash signature per document: k grouped min-aggregations over
    universal hashes of the shingle integers.

    Scale: one shuffle on id_col with map-side partial min — the
    signature matrix is |docs| × k longs regardless of corpus size.
    The md5→int hash is materialized once per shingle row so the k
    min-aggregations don't re-evaluate it k times."""
    hashed = shingle_df.select(F.col(id_col), _shingle_int().alias("__x"))
    x = F.col("__x")
    aggs = [
        F.min((F.lit(a) * x + F.lit(b)) % F.lit(prime)).alias(f"mh_{j}")
        for j, (a, b) in enumerate(coeffs)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def shingle_sets(
    shingle_df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Per-document shingle-set frame: (id, __sh array, sz).

    CONTRACT (same as ``verify_candidates``): ``shingle_df`` must hold
    DISTINCT (id, shingle) rows — ``shingles()`` guarantees this.  A
    non-distinct producer would silently inflate ``sz`` (the Jaccard
    denominators) while ``array_intersect`` stays set-semantic, so
    the two would disagree.

    The set-array aggregation ``verify_candidates`` builds internally,
    exposed so a compound consumer (e.g. the jaccard-verify row, whose
    three branches each need the shingle relation in some form) can
    build it ONCE and derive sizes / signatures / the long format from
    the same frame instead of re-running the tokenize+explode pass per
    consumer.  Repartition-pinned on the grouping key (no extra
    exchange) so the compute-dense downstream intersections stay out
    of AQE byte-coalescing — same rationale as verify_candidates."""
    n_shuffle = int(
        shingle_df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    return (
        shingle_df.repartition(n_shuffle, id_col)
        .groupBy(id_col)
        .agg(
            F.collect_list("shingle").alias("__sh"),
            F.count("*").alias("sz"),
        )
    )


def minhash_signatures_from_sets(
    sets_df: DataFrame,
    id_col: str = "doc_id",
    coeffs: Sequence[tuple[int, int]] = tuple(MINHASH_COEFFS),
    prime: int = MINHASH_PRIME,
) -> DataFrame:
    """MinHash signatures from a prebuilt ``shingle_sets`` frame —
    value-identical to ``minhash_signatures_from_text`` (same distinct
    gram set per doc, same gram hash, same (a·x+b) mod p minima;
    ``array_min`` is order-insensitive, so the collect_list order is
    irrelevant).  For callers that already materialized the set frame:
    turns the signature build into a map-side pass over ~corpus-sized
    arrays instead of a second tokenize+hash pass over raw text."""
    hashed = sets_df.select(
        F.col(id_col),
        F.expr(f"transform(__sh, g -> {gram_hash_sql('g')})").alias("__xs"),
    )
    mins = [
        f"array_min(transform(__xs, x -> ({a}L * x + {b}L) % {prime}L))"
        f" as mh_{j}"
        for j, (a, b) in enumerate(coeffs)
    ]
    return hashed.selectExpr(f"`{id_col}`", *mins)


def minhash_signatures_from_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    coeffs: Sequence[tuple[int, int]] = tuple(MINHASH_COEFFS),
    prime: int = MINHASH_PRIME,
) -> DataFrame:
    """MinHash signatures computed ENTIRELY map-side: shingling,
    hashing and the k minima are array expressions over each document
    row — no explode, no groupBy, ZERO shuffles (vs one shuffle of
    |shingles| rows for ``minhash_signatures``).  At 100 TB the
    signature stage becomes a pure scan; the only shuffle left in the
    LSH pipeline is the band-bucket grouping.

    Value-identical to ``minhash_signatures(shingles(df))``: same
    tokenization, distinct n-grams, md5→32-bit ints, (a·x+b) mod p
    minima; documents with fewer than ``n`` tokens are dropped (they
    have no shingles).

    The whole signature is ONE ``F.expr`` SQL string: building the k
    minima as separate Column objects costs hundreds of py4j round
    trips (~0.8 s of driver time per query build, measured); a single
    string parses JVM-side in one call."""
    tok = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__t")
    ).filter(F.size("__t") >= n)
    parts = " || ' ' || ".join(f"__t[i + {j}]" for j in range(n))
    # hash once into a materialized column so the k minima don't each
    # recompute |grams| md5s
    hashed = tok.select(
        F.col(id_col),
        F.expr(
            "transform("
            f"array_distinct(transform(sequence(0, size(__t) - {n}),"
            f" i -> {parts})),"
            f" g -> {gram_hash_sql('g')})"
        ).alias("__xs"),
    )
    mins = [
        f"array_min(transform(__xs, x -> ({a}L * x + {b}L) % {prime}L))"
        f" as mh_{j}"
        for j, (a, b) in enumerate(coeffs)
    ]
    # backtick-quoted: selectExpr parses id_col as SQL — an identifier
    # with spaces/dots/reserved words must not break or mis-resolve
    return hashed.selectExpr(f"`{id_col}`", *mins)


def simhash_from_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """SimHash computed ENTIRELY map-side: tokenize, hash, and derive
    every bit from per-document array expressions — no explode, no
    groupBy, ZERO shuffles (vs one shuffle of |tokens| rows for
    ``simhash``).  Per bit b the sign-sum over tokens is ≥ 0 exactly
    when 2·|set bits| ≥ |tokens|, so the counts come from
    size(filter(...)) passes over the materialized hash array.

    Value-identical to ``simhash`` over exploded (id, token) rows with
    multiplicity (tokens are NOT deduplicated).

    The signature is ONE ``F.expr`` SQL string and ONE pass over the
    token-hash array: per-bit counts accumulate in a ``bits``-long
    array via aggregate+zip_with, then fold to the signature.  The
    earlier form (``bits`` separate filter() Columns) cost ~1.8 s of
    driver-side py4j expression building per query and re-walked the
    array ``bits`` times.

    ``bits`` ≤ 32 hashes each token to 32 bits (md5 first 8 hex —
    the engine-portable form every oracle row uses); ``bits`` > 32
    builds a full 64-bit token hash from two 32-bit md5 halves
    ((hi << 32) | lo — two conv() calls because a single 16-hex
    conv's unsigned decimal string overflows the signed bigint cast).
    64-bit signatures are the CORPUS-SCALE parameterization: at
    radius 6 the pigeonhole blocks are 9 bits wide (512 values), so
    the banded neighbour search actually prunes — unlike 32-bit
    blocks of 4-5 bits where every value is hot (see
    simhash_neighbors_banded).  The top bit of a 64-bit signature
    lands in the long's sign bit; everything downstream uses xor /
    bit_count / unsigned shifts, so the sign is just a bit."""
    # both widths come from textkeys — the ONE cross-engine hash
    # definition every oracle mirrors (a portability fix applied to a
    # private copy would silently desync this family's oracle)
    tok_hash = gram_hash_sql("t") if bits <= 32 else gram_hash64_sql("t")
    hashed = df.select(
        F.col(id_col),
        # backtick-quoted: a text_col with spaces/dots/reserved words
        # must parse as one identifier, matching the F.col-based twins
        F.expr(
            f"transform(split(`{text_col}`, ' '), t -> {tok_hash})"
        ).alias("__hs"),
    )
    # counts[b] = |tokens with bit b set|; bit b of the signature is set
    # when 2*counts[b] >= n (sign-sum >= 0).
    sig = (
        "aggregate("
        "  zip_with("
        f"    aggregate(__hs, array_repeat(0L, {bits}),"
        f"      (acc, h) -> zip_with(acc, sequence(0, {bits - 1}),"
        "        (c, b) -> c + (shiftright(h, b) & 1L))),"
        f"    sequence(0, {bits - 1}),"
        "    (c, b) -> IF(2 * c >= size(__hs), shiftleft(1L, b), 0L)),"
        "  0L, (s, v) -> s + v)"
    )
    return hashed.selectExpr(f"`{id_col}`", f"{sig} as simhash")


def band_buckets(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """Map-side LSH banding of a signature frame: (id, band, bucket)
    rows, ``bands`` per document, ZERO shuffles.  The bucket is the md5
    of the band's signature components, so two frames banded with the
    same (bands, rows_per_band) are join-compatible — the primitive
    behind both the in-corpus pair expansion and the cross-batch store
    probe (``llmops/incremental.py``)."""
    band_cols = []
    for b in range(bands):
        cols = [
            F.col(f"mh_{b * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(":", *cols)).alias("bucket"),
            )
        )
    return sig_df.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def _lsh_band_groups(
    sig_df: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """Shared band-bucket grouping: (band, bucket, ids sorted).  One
    shuffle on the (band, bucket) key; the id list per bucket is the
    only state carried."""
    buckets = band_buckets(sig_df, id_col, bands, rows_per_band)
    ids = F.sort_array(F.collect_list(id_col))
    return buckets.groupBy("band", "bucket").agg(ids.alias("ids"))


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs
    (id_a < id_b, distinct).

    Scale: the band-bucket grouping replaces the quadratic all-pairs
    comparison.  Pairs are expanded with an in-bucket combination
    (groupBy bucket → sorted id list → pairwise array expansion), NOT
    a bucket self-join: the self-join would duplicate the whole
    shingle→signature subtree in the plan and shuffle twice.  This
    form computes signatures once and shuffles once.

    Hot buckets (near-identical boilerplate/template text) make
    |bucket|² pairs — the classic skew case: one 10^5-member bucket
    emits 5×10^9 pairs from a single task's explode.
    ``max_bucket_size`` drops buckets with more members before the
    pair expansion; such buckets are near-certain duplicate
    "template" clusters better handled by exact dedup than pairwise
    verification.  Use ``lsh_dropped_buckets`` with the same
    arguments to account for what was dropped (count + members).
    Default ``None`` expands every bucket (exact LSH semantics)."""
    grouped = _lsh_band_groups(sig_df, id_col, bands, rows_per_band)
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("ids") <= max_bucket_size)
    # single F.expr: nested-lambda Column construction costs py4j round
    # trips per node; the string parses JVM-side in one call
    pair_expr = F.expr(
        "flatten(transform(sequence(0, size(ids) - 2),"
        " i -> transform(sequence(i + 1, size(ids) - 1),"
        " j -> struct(ids[i] as id_a, ids[j] as id_b))))"
    )
    return (
        grouped.filter(F.size("ids") >= 2)
        .select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def lsh_dropped_buckets(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Accounting companion to ``lsh_candidate_pairs(max_bucket_size=N)``:
    the buckets the capped run dropped, as (band, bucket, n_members).
    ``.count()`` it (or aggregate n_members) for the drop metric a
    production dedup job should log next to its pair count."""
    grouped = _lsh_band_groups(sig_df, id_col, bands, rows_per_band)
    if max_bucket_size is None:
        return grouped.filter(F.lit(False)).select(
            "band", "bucket", F.size("ids").alias("n_members")
        )
    return grouped.filter(F.size("ids") > max_bucket_size).select(
        "band", "bucket", F.size("ids").alias("n_members")
    )


def ngram_jaccard_pairs(
    shingle_df: DataFrame,
    id_col: str = "doc_id",
    min_jaccard: float = 0.5,
    sizes_df: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs sharing ≥1 shingle.

    Jaccard = |A∩B| / (|A|+|B|-|A∩B|) computed on integer counts
    (exact, engine-portable).  Scale: this is the quadratic baseline —
    at 100 TB, run it only on LSH candidate pairs (compose with
    lsh_candidate_pairs); kept standalone as the correctness oracle.

    ``sizes_df``: optional prebuilt (id, sz) per-doc set sizes (e.g.
    projected off a ``shingle_sets`` frame) — skips the groupBy(id)
    shuffle of the shingle table this function otherwise pays."""
    sizes = (
        sizes_df
        if sizes_df is not None
        else shingle_df.groupBy(id_col).agg(F.count("*").alias("sz"))
    )
    a = shingle_df.alias("a")
    b = shingle_df.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    # per-doc size frames stay un-hinted even in this documented
    # quadratic baseline (it rides inside the llm_jaccard_verify
    # compound row): AQE broadcasts them when small; a pinned hint on
    # corpus-cardinality frames is banned repo-wide by the plan gate.
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("uni", F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        .withColumn("jaccard", F.col("inter").cast("double") / F.col("uni"))
        .filter(F.col("jaccard") >= min_jaccard)
    )
    return out.select("id_a", "id_b", "inter", "uni", "jaccard")


def simhash(
    token_df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "token",
    bits: int = 32,
) -> DataFrame:
    """SimHash per document: sign-sum of token-hash bits.

    token_df: long (id, token) WITH multiplicity (repeated tokens count).
    Each token hashes to a 32-bit int; per bit position the engine sums
    +1/-1 over tokens and sets the bit when the sum is ≥ 0.

    Scale: explode to |tokens| × bits rows is avoided — the bit loop is
    an array expression per token row, then one groupBy(id) over `bits`
    sum-aggregations. One shuffle, map-side combine. The token hash is
    materialized once per row so the 32 bit-aggregations don't each
    recompute the md5."""
    hashed = token_df.select(
        F.col(id_col),
        F.conv(F.substring(F.md5(F.col(token_col)), 1, 8), 16, 10)
        .cast("long")
        .alias("__h"),
    )
    h = F.col("__h")
    contrib = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s_{b}")
        for b in range(bits)
    ]
    sums = hashed.groupBy(id_col).agg(*contrib)
    sig = None
    for b in range(bits):
        bit = F.when(F.col(f"s_{b}") >= 0, F.lit(2**b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = bit if sig is None else sig + bit
    return sums.select(F.col(id_col), sig.alias("simhash"))


def _simhash_widths(radius: int, bits: int) -> tuple[list[int], list[int]]:
    """Pigeonhole block layout shared by the neighbour scan and its
    accounting companion — one definition so the cap and the drop
    report cannot desynchronize."""
    blocks = radius + 1
    if blocks > bits:
        raise ValueError(
            f"radius + 1 = {blocks} blocks over a {bits}-bit signature "
            "leaves empty blocks; lower radius or raise bits"
        )
    base, rem = divmod(bits, blocks)
    widths = [base + (1 if i < rem else 0) for i in range(blocks)]
    starts = [sum(widths[:i]) for i in range(blocks)]
    return widths, starts


def _simhash_block_explode(
    sig_df: DataFrame,
    id_col: str,
    sig_col: str,
    widths: list[int],
    starts: list[int],
) -> DataFrame:
    """(id, sig, blk, val) — one row per signature per pigeonhole
    block, the shared map-side banding stage."""
    block_cols = [
        F.struct(
            F.lit(i).alias("blk"),
            F.shiftrightunsigned(F.col(sig_col), starts[i])
            .bitwiseAND(F.lit((1 << widths[i]) - 1))
            .alias("val"),
        )
        for i in range(len(widths))
    ]
    return sig_df.select(
        F.col(id_col).alias("id"),
        F.col(sig_col).alias("sig"),
        F.explode(F.array(*block_cols)).alias("bb"),
    ).select(
        "id", "sig", F.col("bb.blk").alias("blk"), F.col("bb.val").alias("val")
    )


def simhash_dropped_blocks(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    radius: int = 6,
    bits: int = 32,
    max_block_size: int | None = None,
) -> DataFrame:
    """Accounting companion to
    ``simhash_neighbors_banded(max_block_size=N)`` — the signature
    blocks the capped run skipped, as (blk, val, n_members).  Mirrors
    ``lsh_dropped_buckets``: a production dedup job logs the aggregate
    next to its pair count so capped drops are visible, not silent.

    Counts the same per-(blk, val) bucket size that
    ``_simhash_scan_join``'s capped window filters on."""
    widths, starts = _simhash_widths(radius, bits)
    counts = (
        _simhash_block_explode(sig_df, id_col, sig_col, widths, starts)
        .groupBy("blk", "val")
        .count()
    )
    capped = (
        F.lit(False) if max_block_size is None
        else F.col("count") > max_block_size
    )
    return counts.filter(capped).select(
        "blk", "val", F.col("count").alias("n_members")
    )


def _simhash_first_blk_sql(
    xor_sql: str, widths: list[int], starts: list[int]
) -> str:
    """SQL CASE yielding the smallest block index where the two
    signatures agree, computed from their xor — the exactly-once rule
    of the uncapped neighbour scan."""
    return "CASE " + " ".join(
        f"WHEN (shiftrightunsigned({xor_sql}, {starts[b]}) & "
        f"{(1 << widths[b]) - 1}L) = 0L THEN {b}"
        for b in range(len(widths))
    ) + " END"


def _simhash_scan_join(
    sig_df: DataFrame,
    id_col: str,
    sig_col: str,
    radius: int,
    bits: int,
    widths: list[int],
    starts: list[int],
    max_block_size: int | None,
) -> DataFrame:
    """Whole-JVM in-block neighbour scan: a codegen'd equi-self-join
    on (blk, val) with the exact verify as a plain
    ``bit_count(sig_a ^ sig_b) <= radius`` filter expression — no
    Python boundary (popcount is a built-in since Spark 3.3).  Each of
    the Σm² in-block comparisons is one xor+popcount inside
    WholeStageCodegen, and a join is the form AQE skew-handling can
    split at runtime (skewJoin applies to joins, not to groupBy), so a
    hot (blk, val) bucket does not pin one task.

    Exactly-once: uncapped, a pair is kept only in its FIRST matching
    block (``_simhash_first_blk_sql``) — no dedup shuffle; capped runs
    emit per matching block and dropDuplicates globally (see
    simhash_neighbors_banded)."""
    exploded = _simhash_block_explode(
        sig_df, id_col, sig_col, widths, starts
    )
    use_first_match = max_block_size is None
    if max_block_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("blk", "val")
        exploded = (
            exploded.withColumn("__m", F.count("*").over(w))
            .filter(F.col("__m") <= max_block_size)
            .drop("__m")
        )
    a = exploded.select(
        "blk", "val",
        F.col("id").alias("id_a"), F.col("sig").alias("sig_a"),
    )
    b = exploded.select(
        "blk", "val",
        F.col("id").alias("id_b"), F.col("sig").alias("sig_b"),
    )
    pairs = a.join(b, ["blk", "val"]).filter(
        F.col("id_a") < F.col("id_b")
    ).filter(F.expr(f"bit_count(sig_a ^ sig_b) <= {int(radius)}"))
    if use_first_match:
        first_blk = _simhash_first_blk_sql(
            "(sig_a ^ sig_b)", widths, starts
        )
        pairs = pairs.filter(F.expr(f"{first_blk} = blk"))
    out = pairs.select(
        "id_a",
        "id_b",
        F.expr("cast(bit_count(sig_a ^ sig_b) as bigint)").alias(
            "hamming"
        ),
    )
    if not use_first_match:
        out = out.dropDuplicates(["id_a", "id_b"])
    return out


def simhash_neighbors_banded(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    radius: int = 6,
    bits: int = 32,
    max_block_size: int | None = None,
) -> DataFrame:
    """All pairs within hamming distance ``radius`` of each other, via
    pigeonhole banding — the scale path that replaces the O(n²)
    broadcast inequality self-join.

    Split each ``bits``-bit signature into ``radius + 1`` contiguous
    blocks.  A pair within hamming ≤ radius has at most ``radius``
    differing bits across ``radius + 1`` blocks, so by pigeonhole at
    least one block is bit-identical — an equi-match.  Candidates are
    therefore generated by an equi-self-join on (block, value) and
    verified with the exact ``bit_count(xor)`` in the join's filter
    (``_simhash_scan_join``); results are identical to the broadcast
    all-pairs form (pinned by tests/test_llmops.py).  A pair that
    agrees in several blocks meets once per such block, so the
    uncapped scan keeps it only in its FIRST matching block (the
    smallest block index where the two signatures agree): every pair
    materializes exactly once and no ``dropDuplicates`` shuffle runs.

    Parameter note for the 100 TB regime: pigeonhole banding prunes
    only when ``bits/(radius+1)`` is wide — 32-bit signatures at
    radius 6 make every block value hot and the work is Θ(n²/2^width)
    per block.  At corpus scale use 64-bit signatures (width 9) or a
    tighter radius; the plan shape is already right for those
    parameters.

    ``max_block_size`` is the same hot-bucket cap as LSH's (identical
    signatures all share every block; a template cluster of 10^5
    copies would otherwise expand |block|² pairs) —
    ``simhash_dropped_blocks`` is the accounting companion reporting
    what a capped run skipped.  NOTE: the first-match exactly-once
    rule applies only when ``max_block_size`` is None — under a cap a
    pair's FIRST matching block may be the capped one while a later
    block still matches, so capped runs emit per matching block and
    dedupe globally (one dropDuplicates shuffle): a pair survives
    capping iff ANY uncapped block matches (pinned by
    tests/test_llmops.py's cross-block cap recovery case).

    Returns (id_a, id_b, hamming) with id_a < id_b, distinct."""
    widths, starts = _simhash_widths(radius, bits)
    return _simhash_scan_join(
        sig_df, id_col, sig_col, radius, bits, widths, starts,
        max_block_size,
    )


def verify_candidates(
    shingle_df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    min_jaccard: float = 0.8,
    sets_df: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard verification restricted to candidate pairs — the
    second half of the LSH dedup pipeline.  The set join fans out
    only over |candidates| (near-linear after banding), never all
    pairs.

    ``shingle_df`` must hold DISTINCT (id, shingle) rows — set
    semantics, which every producer in this package (``shingles``,
    ``token_sets``) already guarantees via ``array_distinct``.

    SET-ARRAY FORM (optimization round 14; results identical): each
    doc's distinct shingles are grouped into ONE array row, the
    candidate list joins the two arrays by id, and the intersection
    is computed inline with ``array_intersect``.  The previous form
    exploded each pair into |set| shingle rows (a pairs×set_size
    row fan-out), equi-joined on (id, shingle), and re-aggregated by
    pair — three corpus-fan-out operators whose per-row overhead
    dominated the bench row (measured: verify was ~3 s of the 5 s
    setsim_join at sf0.1; this form cuts the pair shuffle row count
    by the mean set size and deletes the groupBy-pair exchange).
    Shuffle BYTES are unchanged (a pair still meets both its sets
    exactly once) and the per-doc array is the same payload the
    MinHash signature path already carries.

    Join-strategy safety (round-11 AND round-15 100× probe lessons):
    BOTH verify joins carry an explicit SHUFFLE_HASH hint on the
    sets side.  Leaving the choice to the planner OOM'd twice at
    500k docs, through two different holes — r11: an un-measurable
    localCheckpoint-backed sets side was statically broadcast; r15:
    with the sets side estimated huge (checkpoint-carried stats),
    the planner statically broadcast the CANDIDATES side instead,
    whose static size estimate through its Generate→aggregate chain
    stays small no matter how many pairs the explode actually
    produces (12.5M pairs ≈ a >1 GB build — the r15 100× probe's
    `Not enough memory to build and broadcast`).  AQE cannot demote
    a statically-planned broadcast join, so no measured-size
    mechanism rescues either hole.  Nothing in this join fits a
    broadcast at the 100 TB design scale anyway (both sides are
    corpus-cardinality), so the scale-safe strategy is pinned: a
    shuffled hash join building the bounded per-partition sets side
    (AQE skew-split still applies to it).  Cost at oracle scale is
    one id-keyed exchange per side — measured ≤0.1 s per affected
    sf0.1 row."""
    # ``sets_df``: optional prebuilt/materialized ``shingle_sets``
    # frame — compound consumers that also need sizes/signatures off
    # the same sets pass it in so the tokenize+explode+regroup pass
    # runs once, not once per consumer.  The default builds it here
    # (repartition-pinned: the set-aggregation exchange must stay out
    # of AQE byte-coalescing because the downstream per-pair
    # array_intersect is compute-dense but byte-light — it collapsed
    # to 3 near-serial tasks at sf0.1; the static count is the same
    # ceiling today's plan starts from).
    sets_ = sets_df if sets_df is not None else shingle_sets(
        shingle_df, id_col
    )
    out = (
        candidates.join(
            sets_.select(F.col(id_col).alias("id_a"),
                         F.col("__sh").alias("__sa"),
                         F.col("sz").alias("sz_a")).hint("shuffle_hash"),
            "id_a",
        )
        .join(
            sets_.select(F.col(id_col).alias("id_b"),
                         F.col("__sh").alias("__sb"),
                         F.col("sz").alias("sz_b")).hint("shuffle_hash"),
            "id_b",
        )
        .withColumn(
            "inter",
            F.size(F.array_intersect("__sa", "__sb")).cast("long"),
        )
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
    return out.select("id_a", "id_b", "jaccard")


def estimated_jaccard_pairs(
    sig_df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    n: int = len(MINHASH_COEFFS),
) -> DataFrame:
    """Signature-ESTIMATED Jaccard for candidate pairs: the fraction of
    agreeing MinHash components is an unbiased estimator of the true
    Jaccard (P[min-hash collision] = J for a universal hash family).

    The cheap middle ground between banding (boolean candidate / not)
    and ``verify_candidates`` (exact, but re-joins the full shingle
    fan-out): at 100 TB the signatures are k longs per doc — two
    equi-joins on doc id against the candidate list, no shingle rows
    touched.  Use it to pre-rank/threshold candidates so the exact
    verify runs on a fraction of them, or accept the estimate outright
    when k gives enough resolution (stderr ~= sqrt(J(1-J)/k)).

    Returns (id_a, id_b, est_jaccard), deterministic (fixed coeffs,
    no RNG)."""
    agree = sum(
        F.when(F.col(f"a_mh_{j}") == F.col(f"b_mh_{j}"), 1).otherwise(0)
        for j in range(n)
    )
    a = sig_df.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh_{j}").alias(f"a_mh_{j}") for j in range(n)],
    )
    b = sig_df.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh_{j}").alias(f"b_mh_{j}") for j in range(n)],
    )
    return (
        candidates.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "est_jaccard", agree.cast("double") / F.lit(float(n))
        )
        .select("id_a", "id_b", "est_jaccard")
    )
