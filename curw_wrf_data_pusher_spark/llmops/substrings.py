"""Substring-level deduplication: winnowing fingerprints and exact
repeated-window detection/removal.

Two published modalities the document-level ops (dedup.py) can't
express:

- **Winnowing** (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS
  algorithm): per document, hash every k-token gram, then in each
  sliding window of ``window`` consecutive gram hashes select the
  RIGHTMOST minimal hash.  The selected (position, hash) pairs are the
  document's fingerprints — guaranteed to include at least one
  fingerprint from every match of length >= k + window - 1 tokens, at
  an expected density of 2/(window+1).  Documents sharing fingerprints
  are containment/overlap candidates even when whole-document MinHash
  Jaccard is low (a paragraph copied into an otherwise-unrelated doc).

- **Exact repeated-substring removal** (Lee et al., ACL'22,
  "Deduplicating Training Data Makes Language Models Better"): any
  token window of length L that occurs >= min_count times across the
  corpus is memorization-prone boilerplate; every covered token is
  removed from every document, order preserved.  The reference
  algorithm builds a suffix array on one machine; the distributed
  re-expression here is stride-1 window hashing — a window repeated
  anywhere is a repeated hash key, found by ONE hash-groupBy.  (Runs
  of repeats longer than L are covered by their overlapping L-windows,
  so removal spans coincide with the suffix-array spans for every
  repeat of length >= L.)

All ops are pure DataFrame compositions — array-lambda expressions
(JVM codegen), no Python UDFs.  Scale notes per op; the invariant
throughout: document TEXT never shuffles for statistics — only
(hash, id, position) triples — and text shuffles at most once (on the
id key) for reconstruction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textkeys import gram_hash_sql

_LONG_MAX = 9223372036854775807


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprints per document: (id, fp_pos, fp) where
    ``fp`` is the 32-bit gram hash selected at gram position
    ``fp_pos``.  Selection is the standard rightmost-minimum rule
    (ties inside a window go to the LARGEST position), so two
    documents sharing a run of >= k + window - 1 tokens are guaranteed
    to share at least one fingerprint.

    Documents with >= k tokens but fewer than ``window`` grams get the
    rightmost minimum over all their grams (one degenerate window), so
    every hashable document emits >= 1 fingerprint — short boilerplate
    stays detectable.

    Scale: ENTIRELY map-side — tokenize, gram-hash, and the per-window
    minima are array expressions over each document row; zero
    shuffles, zero joins.  Output volume is ~2/(window+1) of the gram
    count.  The gram hash is the corpus-standard md5→32-bit int
    (``('0x' || substr(md5(g),1,8))::BIGINT`` in DuckDB terms) so
    fingerprints are engine-portable."""
    tok = docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__t")
    ).filter(F.size("__t") >= k)
    gram = " || ' ' || ".join(f"__t[i + {j}]" for j in range(k))
    hashed = tok.select(
        F.col(id_col),
        F.expr(
            f"transform(sequence(0, size(__t) - {k}),"
            f" i -> {gram_hash_sql(gram)})"
        ).alias("__h"),
    )
    # per window start w: left-to-right fold keeping the last (<=)
    # minimal hash — the rightmost-minimum rule.  least() truncates
    # the final window when the doc has fewer than `window` grams.
    sel = (
        f"array_distinct(transform("
        f"sequence(0, greatest(size(__h) - {window}, 0)),"
        f" w -> aggregate(sequence(w, least(w + {window - 1},"
        " size(__h) - 1)),"
        f" named_struct('fp_pos', cast(-1 as bigint),"
        f" 'fp', cast({_LONG_MAX} as bigint)),"
        " (acc, i) -> IF(__h[i] <= acc.fp,"
        " named_struct('fp_pos', cast(i as bigint), 'fp', __h[i]),"
        " acc))))"
    )
    return (
        hashed.select(F.col(id_col), F.explode(F.expr(sel)).alias("__s"))
        .select(
            F.col(id_col),
            F.col("__s.fp_pos").alias("fp_pos"),
            F.col("__s.fp").alias("fp"),
        )
    )


def winnow_candidate_pairs(
    fp_df: DataFrame,
    id_col: str = "doc_id",
    min_shared: int = 2,
    max_group_size: int | None = None,
    with_containment: bool = False,
) -> DataFrame:
    """MOSS-style overlap candidates: document pairs sharing at least
    ``min_shared`` distinct fingerprint VALUES, as (id_a, id_b,
    n_shared) with id_a < id_b.

    ``with_containment=True`` adds the MOSS report metric
    ``containment`` = n_shared / min(|fp_a|, |fp_b|) — the fraction of
    the SMALLER document's fingerprints found in the other, ≈1.0 when
    one document contains the other even if their sizes differ wildly
    (the case whole-document Jaccard misses).  Costs two extra
    equi-joins of the pair list against the per-doc fingerprint
    counts (uniform id keys).

    Scale: mirrors ``lsh_candidate_pairs`` — group the (doc, fp)
    postings by fingerprint (one shuffle on the uniform 32-bit hash
    key), expand pairs inside each posting list (sorted-id array
    expansion, not a self-join that would duplicate the fingerprint
    subtree), then one pair-key aggregate for the shared count.
    ``max_group_size`` is the hot-key cap: a fingerprint selected from
    ubiquitous boilerplate lands |group|² pairs in one task —
    ``winnow_dropped_groups`` with the same arguments accounts for
    what a capped run skipped."""
    postings = fp_df.select(F.col(id_col), F.col("fp")).distinct()
    grouped = postings.groupBy("fp").agg(
        F.sort_array(F.collect_list(id_col)).alias("ids")
    )
    if max_group_size is not None:
        grouped = grouped.filter(F.size("ids") <= max_group_size)
    pair_expr = F.expr(
        "flatten(transform(sequence(0, size(ids) - 2),"
        " i -> transform(sequence(i + 1, size(ids) - 1),"
        " j -> struct(ids[i] as id_a, ids[j] as id_b))))"
    )
    pairs = (
        grouped.filter(F.size("ids") >= 2)
        .select(F.explode(pair_expr).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    if not with_containment:
        return pairs
    sizes = postings.groupBy(id_col).agg(F.count("*").alias("__nfp"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("__nfp").alias("__na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("__nfp").alias("__nb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment",
            F.col("n_shared").cast("double")
            / F.least(F.col("__na"), F.col("__nb")),
        )
        .select("id_a", "id_b", "n_shared", "containment")
    )


def winnow_dropped_groups(
    fp_df: DataFrame,
    id_col: str = "doc_id",
    max_group_size: int | None = None,
) -> DataFrame:
    """Accounting companion to
    ``winnow_candidate_pairs(max_group_size=N)``: the fingerprint
    posting lists the capped run skipped, as (fp, n_members).  Mirrors
    ``lsh_dropped_buckets`` / ``simhash_dropped_blocks`` — capped drops
    are logged, not silent."""
    grouped = (
        fp_df.select(F.col(id_col), F.col("fp"))
        .distinct()
        .groupBy("fp")
        .agg(F.count("*").alias("n_members"))
    )
    if max_group_size is None:
        return grouped.filter(F.lit(False)).select("fp", "n_members")
    return grouped.filter(F.col("n_members") > max_group_size)


def token_window_occurrences(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    l_tokens: int = 8,
) -> DataFrame:
    """Every stride-1 window of exactly ``l_tokens`` tokens, as
    (id, __start, __wh) where ``__wh`` is md5 of the space-joined
    window.  The shared first stage of the repeated-substring ops —
    compute once and inject into ``corpus_hot_windows`` /
    ``remove_duplicate_spans`` via their ``occurrences=`` parameter so
    a stats+removal pass defines one explode, not three.

    Scale: windows are built map-side as an array expression and only
    (hash, id, start) rows ever leave the scan — a document of n
    tokens emits n - L + 1 rows of ~50 bytes regardless of token
    width; the text column itself is never part of this frame."""
    tok = docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__t")
    ).filter(F.size("__t") >= l_tokens)
    gram = " || ' ' || ".join(f"__t[s + {j}]" for j in range(l_tokens))
    return tok.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, size(__t) - {l_tokens}),"
                f" s -> named_struct('start', cast(s as bigint),"
                f" 'wh', md5({gram})))"
            )
        ).alias("__o"),
    ).select(
        F.col(id_col),
        F.col("__o.start").alias("__start"),
        F.col("__o.wh").alias("__wh"),
    )


def duplicate_window_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    l_tokens: int = 8,
    min_count: int = 2,
    cross_doc: bool = False,
    occurrences: DataFrame | None = None,
) -> DataFrame:
    """Corpus-level repeated-window report: every L-token window hash
    occurring >= ``min_count`` times, as (window_hash, n_occurrences,
    n_docs).  ``cross_doc=True`` additionally requires the window to
    appear in >= 2 distinct documents (pure intra-document repetition
    is a textstats signal, not corpus boilerplate).

    Scale: ONE hash-groupBy with map-side combine over the (hash, id)
    occurrence stream; keys are uniform md5s — no skew.  The aggregate
    a production run logs next to its removal counts."""
    occ = (
        token_window_occurrences(docs, id_col, text_col, l_tokens)
        if occurrences is None
        else occurrences
    )
    stats = occ.groupBy("__wh").agg(
        F.count("*").alias("n_occurrences"),
        F.count_distinct(F.col(id_col)).alias("n_docs"),
    )
    out = stats.filter(F.col("n_occurrences") >= min_count)
    if cross_doc:
        out = out.filter(F.col("n_docs") >= 2)
    return out.select(
        F.col("__wh").alias("window_hash"), "n_occurrences", "n_docs"
    )


def corpus_hot_windows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    l_tokens: int = 8,
    min_count: int = 2,
    cross_doc: bool = False,
    occurrences: DataFrame | None = None,
) -> DataFrame:
    """The repeated-window hash set (column ``__wh``) feeding
    ``remove_duplicate_spans`` — the window-granular analogue of
    ``corpus_hot_lines``.  Compute once (optionally localCheckpoint)
    and inject into stats and removal via ``hot_windows=``."""
    return duplicate_window_stats(
        docs, id_col, text_col, l_tokens, min_count, cross_doc, occurrences
    ).select(F.col("window_hash").alias("__wh"))


def flagged_window_starts(
    occurrences: DataFrame,
    hot_windows: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document sorted array of corpus-repeated window starts, as
    (id, __ss) — the shared decision frame of the repeated-substring
    pass.  ``size(__ss)`` is each document's duplicate-window count
    (one flagged (id, start) row per element, by construction), so a
    stats+removal consumer derives the count from THIS frame instead
    of running a second occ⋉hot semi-join + groupBy over the full
    occurrence stream (Catalyst shares no subplans across branches).

    Scale: rows are (id, int array) at ~2 longs per flagged window —
    tiny next to the occurrence stream; safe to localCheckpoint and
    fan out to any number of consumers."""
    return (
        occurrences.join(hot_windows, "__wh", "left_semi")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("__start")).alias("__ss"))
    )


def remove_duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    l_tokens: int = 8,
    min_count: int = 2,
    cross_doc: bool = False,
    hot_windows: DataFrame | None = None,
    occurrences: DataFrame | None = None,
    flagged_starts: DataFrame | None = None,
) -> DataFrame:
    """Exact repeated-substring removal at token-window granularity
    (the distributed re-expression of Lee et al.'s suffix-array dedup):
    every token covered by any occurrence of a corpus-repeated
    L-token window is deleted; the remaining tokens are rejoined in
    order.  Documents containing no repeated window come back with
    their text BYTE-IDENTICAL (untouched, not re-tokenized).

    Because windows are stride-1, a repeated run of any length
    >= l_tokens is fully covered by its flagged L-windows — removal
    spans coincide with the suffix-array formulation's spans for every
    repeat of length >= L.

    Plan shape at 100 TB: window hashes stream out map-side (text
    never shuffles for the count), ONE uniform hash-groupBy finds hot
    windows, a semi-join flags each document's covered starts (the hot
    set is the small side — AQE broadcasts it), one id-key aggregate
    collects flagged starts per doc, and one id-key join brings the
    start arrays back to the full rows where an array expression drops
    covered tokens.  No UDFs; the only non-uniform key is id.

    ``hot_windows`` / ``occurrences`` / ``flagged_starts``:
    precomputed frames (see ``corpus_hot_windows`` /
    ``token_window_occurrences`` / ``flagged_window_starts``) so a
    stats+removal pass shares one definition of each.

    Returns every input column with ``text_col`` rewritten."""
    if flagged_starts is not None:
        starts = flagged_starts
    else:
        occ = (
            token_window_occurrences(docs, id_col, text_col, l_tokens)
            if occurrences is None
            else occurrences
        )
        hot = (
            corpus_hot_windows(
                docs, id_col, text_col, l_tokens, min_count, cross_doc, occ
            )
            if hot_windows is None
            else hot_windows
        )
        starts = flagged_window_starts(occ, hot, id_col)
    keep_expr = (
        f"array_join(filter(transform(sequence(0, size(__t) - 1),"
        f" p -> IF(exists(__ss, s -> s <= p AND p < s + {l_tokens}),"
        " NULL, __t[p])), x -> x IS NOT NULL), ' ')"
    )
    others = [F.col(c) for c in docs.columns if c != text_col]
    return (
        docs.join(starts, id_col, "left")
        .withColumn("__t", F.split(F.col(text_col), " "))
        .select(
            *others,
            # untouched documents keep their original bytes — no
            # tokenize/rejoin round trip to trust
            F.when(F.col("__ss").isNull(), F.col(text_col))
            .otherwise(F.expr(keep_expr))
            .alias(text_col),
        )
    )


def remove_contaminated_spans(
    docs: DataFrame,
    test_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    l_tokens: int = 8,
) -> DataFrame:
    """Span-level benchmark decontamination: delete every token run of
    ``docs`` that reproduces any L-token window of ``test_docs``,
    keeping the rest of the document (document-level decontamination
    — ``shingle_contamination`` — drops whole documents; this is the
    surgical variant for long documents quoting short benchmark
    items).  The benchmark side contributes only its window-hash set;
    its text is never joined against the corpus."""
    hot = (
        token_window_occurrences(test_docs, id_col, text_col, l_tokens)
        .select("__wh")
        .distinct()
    )
    return remove_duplicate_spans(
        docs,
        id_col=id_col,
        text_col=text_col,
        l_tokens=l_tokens,
        hot_windows=hot,
    )
