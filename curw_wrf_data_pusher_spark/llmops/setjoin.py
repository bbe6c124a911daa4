"""Exact set-similarity self-join via prefix filtering (AllPairs /
PPJoin family; Bayardo et al., WWW'07; Xiao et al., WWW'08).

The third leg of the dedup tripod:

- MinHash-LSH (``dedup.lsh_candidate_pairs``) — probabilistic recall,
  tunable via bands×rows;
- the id-blocked self-join (``simsearch.neardup_pairs``) — exact for
  cosine over embeddings;
- THIS module — exact for Jaccard over token/shingle SETS, no
  signatures and no probability: recall 1.0 by the prefix-filter
  theorem, so it is the scalable replacement for the quadratic
  ``dedup.ngram_jaccard_pairs`` whenever an exact answer is required.

Prefix-filter theorem (symmetric form): order every document's tokens
by one GLOBAL total order (here: ascending document frequency, ties by
token — rarest first, so prefixes carry the most selective tokens).
If J(x, y) ≥ t then |x∩y| ≥ t·|x∪y| ≥ t·max(|x|,|y|) =: α, and two
sets with overlap ≥ α must share a token within their first
|s| − α + 1 ordered tokens; since α ≥ ceil(t·|s|) for both sides, the
per-set prefix of length |s| − ceil(t·|s|) + 1 suffices.  Joining on
shared prefix tokens therefore misses NO qualifying pair; the exact
Jaccard verify (``dedup.verify_candidates``) then removes false
positives, and the length filter |y| ≥ t·|x| prunes candidates whose
sizes alone cap the Jaccard below t.

Plan shape / 100 TB: three shuffles — one by token for document
frequencies (window count, no join), one by doc id for ordered prefix
positions, one by token for the in-group pair expansion (LSH-style
``collect_list`` + pairwise transform, NOT a self-join: a self-join
would duplicate the tokenize subtree and shuffle it twice).  The
verify join fans out only over |candidates|.  Hot prefix tokens (a
boilerplate corpus can make even its "rarest" tokens shared by
thousands of docs) take ``max_token_group`` + the
``setsim_dropped_tokens`` accounting companion, mirroring
``lsh_dropped_buckets`` / ``simhash_dropped_blocks``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def token_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct word tokens per document, long format (id, token).
    Whitespace split, empty tokens dropped — the word-set analogue of
    ``dedup.shingles`` (n=1, no positional context)."""
    from ..sources.lake import spread

    return (
        spread(df)
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias(
                "token"
            ),
        )
        .filter(F.col("token") != "")
    )


def _ordered_prefix(
    tok_df: DataFrame, id_col: str, token_col: str, threshold: float
) -> DataFrame:
    """Per-doc (token, set size) rows restricted to the prefix the
    theorem requires: position ≤ n − ceil(t·n) + 1 under the global
    (document frequency ASC, token ASC) order."""
    by_token = Window.partitionBy(token_col)
    by_doc = Window.partitionBy(id_col)
    ranked = (
        tok_df.withColumn("__df", F.count("*").over(by_token))
        .withColumn("__n", F.count("*").over(by_doc))
        .withColumn(
            "__pos",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("__df", token_col)
            ),
        )
    )
    # α = ceil(t·n) computed with an epsilon guard: binary-float t·n
    # can land a hair ABOVE the rational value (0.4·5 → 2.0000…04) and
    # a ceil overestimate would SHORTEN the prefix — a recall bug.
    # Subtracting 1e-9 only ever lengthens the prefix (safe side).
    # The guard stays exact while the product's rounding error
    # (≈ t·n · 2^-52) is below 1e-9, i.e. for t·n under ~4.5e6; above
    # that a ceil overestimate is possible again.
    prefix_len = (
        F.col("__n")
        - F.ceil(F.lit(threshold) * F.col("__n") - F.lit(1e-9))
        + 1
    )
    return ranked.filter(F.col("__pos") <= prefix_len).select(
        F.col(token_col),
        F.col(id_col),
        F.col("__n").alias("n"),
        F.col("__pos").alias("pos"),
    )


def _groups_from_pref(
    pref: DataFrame, id_col: str, token_col: str
) -> DataFrame:
    """Group a (token, id, n, pos) prefix frame for pair expansion:
    (token, members) with members sorted by (n, id) so each expanded
    pair sees the smaller set first."""
    return pref.groupBy(token_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("n"), F.col(id_col).alias("id"), F.col("pos")
                )
            )
        ).alias("members")
    )


def _prefix_groups(
    tok_df: DataFrame,
    id_col: str,
    token_col: str,
    threshold: float,
) -> DataFrame:
    """Prefix tokens grouped for pair expansion, derived from a long
    token frame (the standalone/public path; ``setsim_join`` builds
    the same groups from its shared per-doc ordered arrays instead)."""
    pref = _ordered_prefix(tok_df, id_col, token_col, threshold)
    return _groups_from_pref(pref, id_col, token_col)


def _ordered_doc_arrays(
    tok_df: DataFrame, id_col: str, token_col: str,
    extra_group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document (df, token)-sorted token arrays + set size in ONE
    id-keyed shuffle — the round-15 restructure (guide §2.3/§2.4) that
    feeds BOTH the prefix expansion and the exact verify's set arrays.

    Replaces, per ``setsim_join`` run: the document-frequency COUNT
    WINDOW over the full token table (no map-side partials — every
    (id, token) row shuffled and sorted by token just to count) with a
    partial-aggregated ``groupBy(token).count`` joined back (AQE
    broadcasts it while small, falls back to a shuffle join at scale —
    either way the count shuffle now carries distinct-token partials,
    not the full table); and the SECOND full-table id-shuffle (the
    per-doc count/row_number windows) plus the verify's separate
    ``shingle_sets`` repartition+groupBy with this single aggregation.

    Positions are recovered map-side from the sorted array: per-doc
    tokens are DISTINCT (``shingles``/``token_sets`` contract), so the
    (df asc, token asc) sort is a total order and the array index + 1
    equals the old ``row_number`` exactly.

    Returns (*extra_group_cols, id, __o array<struct<__df,__tk>>, sz),
    repartition-pinned on the grouping key (same compute-density
    rationale as ``shingle_sets``)."""
    dfc = tok_df.groupBy(token_col).agg(F.count("*").alias("__df"))
    n_shuffle = int(
        tok_df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    keys = [*extra_group_cols, id_col]
    return (
        tok_df.join(dfc, token_col)
        .repartition(n_shuffle, *keys)
        .groupBy(*keys)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("__df"), F.col(token_col).alias("__tk")
                    )
                )
            ).alias("__o"),
            F.count("*").alias("sz"),
        )
    )


def _pref_from_ordered(
    ordered: DataFrame, id_col: str, token_col: str, threshold: float,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(token, *extra, id, n, pos) prefix rows sliced MAP-SIDE from the
    per-doc ordered arrays — value-identical to ``_ordered_prefix``
    (same prefix-length formula, same epsilon guard, positions from
    the same total order)."""
    prefix_len = (
        F.col("sz")
        - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9))
        + 1
    ).cast("int")
    return (
        ordered.select(
            *[F.col(c) for c in extra_cols],
            F.col(id_col),
            F.col("sz").alias("n"),
            F.posexplode(F.slice(F.col("__o"), F.lit(1), prefix_len)),
        )
        .select(
            F.col("col.__tk").alias(token_col),
            *[F.col(c) for c in extra_cols],
            F.col(id_col),
            F.col("n"),
            (F.col("pos") + 1).alias("pos"),
        )
    )


def prefix_candidates(
    tok_df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "token",
    threshold: float = 0.5,
    max_token_group: int | None = None,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) whose prefixes share ≥ 1 token,
    pre-pruned by the length filter n_small ≥ t·n_big.  Superset of
    all pairs with Jaccard ≥ ``threshold`` (recall 1.0); feed to
    ``dedup.verify_candidates`` for the exact answer.

    ``max_token_group`` drops prefix-token groups with more members
    before the |group|² expansion (boilerplate/template corpora);
    account for them with ``setsim_dropped_tokens``.  ``None`` expands
    every group (fully exact)."""
    grouped = _prefix_groups(tok_df, id_col, token_col, threshold)
    return _pair_candidates_from_groups(
        grouped, threshold, max_token_group
    )


def _pair_candidates_from_groups(
    grouped: DataFrame,
    threshold: float,
    max_token_group: int | None,
) -> DataFrame:
    """Pair expansion + global dedup over a (token, members) grouped
    prefix frame — the shared back half of ``prefix_candidates``
    (see its docstring for the length/positional-filter exactness
    argument)."""
    if max_token_group is not None:
        grouped = grouped.filter(F.size("members") <= max_token_group)
    # members sorted by (n, id): pair (i, j<i... j>i) has n_i ≤ n_j, so
    # the length filter is members[i].n ≥ t·members[j].n.  Single
    # F.expr, same rationale as dedup.lsh_candidate_pairs.
    #
    # Second conjunct = PPJoin's POSITIONAL filter (Xiao et al.): a
    # pair sharing THIS token at (1-based) ordered positions (p_i,
    # p_j) can overlap at most 1 + min(n_i − p_i, n_j − p_j); J ≥ t
    # needs overlap ≥ α = ceil(t/(1+t)·(n_i+n_j)).  Recall stays 1.0:
    # a qualifying pair's FIRST shared token lies inside both prefixes
    # (p ≤ n − overlap + 1 ≤ prefix length) and passes its own bound
    # (1 + min suffix ≥ overlap ≥ α); dropDuplicates unions over
    # generation events.  Measured on the sf0.1 corpus at t=0.5:
    # 310k → far fewer candidates feeding the exact verify.
    t_ratio = threshold / (1.0 + threshold)
    # CAST(... AS DOUBLE) on the spliced thresholds is load-bearing: a
    # bare SQL literal like 0.5 parses as DECIMAL, and this expression
    # tree is INTERPRETED (higher-order functions have no codegen), so
    # every pair evaluation paid a BigDecimal multiply plus a
    # Decimal.toDouble that goes through Double.parseDouble — observed
    # as the entire stack of a hot-group straggler (skew_probe_r15).
    # Values are unchanged: the decimal path converted to double
    # before the 1e-9-guarded comparisons anyway, and the product's
    # ulp-level rounding difference is absorbed by that epsilon
    # (oracle rows re-verified).
    pair_expr = F.expr(
        "flatten(transform(sequence(0, size(members) - 2),"
        " i -> filter(transform(sequence(i + 1, size(members) - 1),"
        # epsilon on the length bound for the same float-safety reason
        # as the prefix length: never prune a boundary-exact pair
        " j -> CASE WHEN members[i].n >="
        f"   CAST({threshold!r} AS DOUBLE) * members[j].n - 1e-9"
        "   AND 1 + least(members[i].n - members[i].pos,"
        "                 members[j].n - members[j].pos)"
        f"      >= ceil(CAST({t_ratio!r} AS DOUBLE)"
        "               * (members[i].n + members[j].n) - 1e-9)"
        "   THEN struct(least(members[i].id, members[j].id) AS id_a,"
        "               greatest(members[i].id, members[j].id) AS id_b)"
        "   END), p -> p IS NOT NULL)))"
    )
    # Pin the pair-dedup exchange (same (id_a, id_b) key the
    # dropDuplicates aggregate needs → no extra exchange) to the
    # configured shuffle partition count: the verify stage that READS
    # this exchange is compute-dense (per-pair array_intersect against
    # the AQE-broadcast set arrays) but byte-light, and AQE's
    # byte-target coalescing collapsed it to ONE near-serial task at
    # sf0.1.  Scale-adaptive — the pin is the ceiling AQE starts from.
    n_shuffle = int(
        grouped.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    return (
        grouped.filter(F.size("members") >= 2)
        .select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .repartition(n_shuffle, "id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def setsim_dropped_tokens(
    tok_df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "token",
    threshold: float = 0.5,
    max_token_group: int | None = None,
) -> DataFrame:
    """Accounting companion to ``prefix_candidates(max_token_group=N)``:
    the prefix-token groups the capped run dropped, as
    (token, n_members) — log its count/aggregate next to the pair
    count, as with ``lsh_dropped_buckets``."""
    grouped = _prefix_groups(tok_df, id_col, token_col, threshold)
    if max_token_group is None:
        return grouped.filter(F.lit(False)).select(
            token_col, F.size("members").alias("n_members")
        )
    return grouped.filter(F.size("members") > max_token_group).select(
        token_col, F.size("members").alias("n_members")
    )


def setsim_join(
    tok_df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "token",
    threshold: float = 0.5,
    max_token_group: int | None = None,
) -> DataFrame:
    """Exact Jaccard set-similarity self-join: all pairs (id_a < id_b)
    with J ≥ ``threshold`` as (id_a, id_b, jaccard).  Prefix-filtered
    candidates + exact verify; with ``max_token_group=None`` the
    result is identical to the quadratic all-pairs baseline.

    Round-15 restructure (guide §2.3/§2.4; results identical, pinned
    by the quadratic-baseline oracle rows): ONE per-doc ordered-array
    aggregation (``_ordered_doc_arrays``) now feeds both the prefix
    expansion (map-side slice+posexplode) and the verify's set arrays.
    vs the r14 shape this deletes (a) the document-frequency count
    WINDOW over the full token table (replaced by a partial-aggregated
    groupBy joined back), (b) the second full-table id-shuffle (the
    per-doc count/row_number windows), and (c) the verify's separate
    ``shingle_sets`` repartition+groupBy.  The shared array frame is
    lazily localCheckpointed: two consumers, ~set-size payload per doc
    (the same bytes the old sets frame carried), build-once.

    The token frame itself is also lazily localCheckpointed (its
    scan+tokenize subtree feeds the df-count and the join probe)."""
    from .dedup import verify_candidates

    tok_df = tok_df.localCheckpoint(eager=False)
    ordered = _ordered_doc_arrays(tok_df, id_col, token_col)
    ordered = ordered.localCheckpoint(eager=False)
    pref = _pref_from_ordered(ordered, id_col, token_col, threshold)
    cand = _pair_candidates_from_groups(
        _groups_from_pref(pref, id_col, token_col),
        threshold,
        max_token_group,
    )
    sets = ordered.select(
        F.col(id_col),
        F.col("__o.__tk").alias("__sh"),
        F.col("sz"),
    )
    long = tok_df.select(
        F.col(id_col), F.col(token_col).alias("shingle")
    )
    return verify_candidates(
        long, cand, id_col=id_col, min_jaccard=threshold, sets_df=sets
    )


def setsim_join_between(
    tok_a: DataFrame,
    tok_b: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "token",
    threshold: float = 0.5,
    max_token_group: int | None = None,
) -> DataFrame:
    """Cross-corpus exact set-similarity join (R×S form): all pairs
    (id_a ∈ A, id_b ∈ B) with Jaccard ≥ ``threshold`` — fuzzy
    contamination / entity-matching between two corpora, with the same
    recall-1.0 prefix-filter argument as the self-join (the global
    token order is computed over the UNION, which only lengthens
    prefixes relative to either side alone).

    Ids may collide across corpora: identity inside the machinery is
    (side, id); the output keeps A's id as ``id_a`` and B's as
    ``id_b``.  Plan shape identical to ``setsim_join`` — the union is
    map-side, candidates expand in-group per prefix token (cross-side
    pairs only), and the verify reads each side's set arrays off the
    SAME shared per-doc ordered-array aggregation the prefix uses
    (round-15 restructure; see ``setsim_join`` — the union-wide
    df-count window, the (side, id) windows and the two per-side
    ``collect_list`` set aggregates all collapse into
    ``_ordered_doc_arrays`` grouped on (side, id))."""
    # each side feeds the union + its verify slice — materialize the
    # tokenize subtrees once
    tok_a = tok_a.localCheckpoint(eager=False)
    tok_b = tok_b.localCheckpoint(eager=False)
    a = tok_a.select(
        F.lit(0).alias("__side"), F.col(id_col), F.col(token_col)
    )
    b = tok_b.select(
        F.lit(1).alias("__side"), F.col(id_col), F.col(token_col)
    )
    u = a.unionByName(b)
    # one (side, id)-keyed aggregation feeds prefix AND both verify
    # sides (three consumers → lazy localCheckpoint, build-once)
    ordered = _ordered_doc_arrays(
        u, id_col, token_col, extra_group_cols=("__side",)
    ).localCheckpoint(eager=False)
    pref = _pref_from_ordered(
        ordered, id_col, token_col, threshold, extra_cols=("__side",)
    )
    grouped = pref.groupBy(token_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("n"),
                    F.col("__side").alias("side"),
                    F.col(id_col).alias("id"),
                    F.col("pos"),
                )
            )
        ).alias("members")
    )
    if max_token_group is not None:
        grouped = grouped.filter(F.size("members") <= max_token_group)
    # length filter + PPJoin positional filter — same exactness
    # argument as prefix_candidates (see its inline comment)
    t_ratio = threshold / (1.0 + threshold)
    # CAST(... AS DOUBLE) on the spliced thresholds: same
    # decimal-literal interpreted-eval trap as prefix_candidates (see
    # the comment there)
    pair_expr = F.expr(
        "flatten(transform(sequence(0, size(members) - 2),"
        " i -> filter(transform(sequence(i + 1, size(members) - 1),"
        " j -> CASE WHEN members[i].side <> members[j].side"
        f"  AND members[i].n >="
        f"   CAST({threshold!r} AS DOUBLE) * members[j].n - 1e-9"
        "   AND 1 + least(members[i].n - members[i].pos,"
        "                 members[j].n - members[j].pos)"
        f"      >= ceil(CAST({t_ratio!r} AS DOUBLE)"
        "               * (members[i].n + members[j].n) - 1e-9)"
        "   THEN struct("
        "     CASE WHEN members[i].side = 0 THEN members[i].id"
        "          ELSE members[j].id END AS id_a,"
        "     CASE WHEN members[i].side = 0 THEN members[j].id"
        "          ELSE members[i].id END AS id_b)"
        "   END), p -> p IS NOT NULL)))"
    )
    # same pair-dedup exchange pin as prefix_candidates: the verify
    # stage reading this exchange runs the per-pair array_intersect
    # against the broadcast set arrays, and byte-target coalescing
    # serialized it (measured: one 2.3 CPU-s task at sf0.1)
    n_shuffle = int(
        tok_a.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    cand = (
        grouped.filter(F.size("members") >= 2)
        .select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .repartition(n_shuffle, "id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # set-array verify, same rewrite as dedup.verify_candidates: the
    # intersection is computed inline instead of via a pairs×set_size
    # row fan-out + re-agg.  Round 15: both sides are SLICES of the
    # shared checkpointed ordered-array frame — no second and third
    # per-side repartition+collect_list aggregations (array_intersect
    # is order-insensitive, so the (df, token)-sorted arrays verify
    # identically to the old collect_list ones).  SHUFFLE_HASH pins on
    # the sets sides for the same reason as verify_candidates (see its
    # docstring): the planner statically broadcast the CANDIDATES side
    # at the r15 100× probe (its size estimate through the
    # Generate→aggregate chain stays small regardless of actual pair
    # count) and AQE cannot demote a static broadcast.
    sets_a = ordered.filter(F.col("__side") == 0).select(
        F.col(id_col),
        F.col("__o.__tk").alias("__sa"),
        F.col("sz").alias("sz_a"),
    )
    sets_b = ordered.filter(F.col("__side") == 1).select(
        F.col(id_col),
        F.col("__o.__tk").alias("__sb"),
        F.col("sz").alias("sz_b"),
    )
    out = (
        cand.join(
            sets_a.select(F.col(id_col).alias("id_a"), "__sa", "sz_a")
            .hint("shuffle_hash"),
            "id_a",
        )
        .join(
            sets_b.select(F.col(id_col).alias("id_b"), "__sb", "sz_b")
            .hint("shuffle_hash"),
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
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "jaccard")
