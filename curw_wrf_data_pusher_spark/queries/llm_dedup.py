"""Dedup + similarity families over `documents`/`embeddings` (split
from the former queries/llm.py monolith; registration ORDER across
the five llm_* modules is load-bearing — see queries/__init__.py):
exact dedup + fingerprints, MinHash/LSH, SimHash, n-gram Jaccard,
cosine top-k + banded embedding near-dup, dedup clusters/pipeline/
survivors, language-ID + text features, corpus stats, and benchmark
contamination.  Also hosts the shared SQL building blocks
(_SHINGLE_CTE, _MH_TERMS, _BAND_BUCKETS, _MH_AGREE, _LINE_WRAP_SQL,
_wrap_8_tokens) the sibling llm_* modules import.

Oracle-design notes: MinHash/SimHash use md5-derived integer hashes
(identical hex→int path in both engines, verified), so signatures are
exact integer matches; cosine scores use the identical left-fold double
dot product (Spark array aggregate ≡ DuckDB list_inner_product on
DOUBLE[] — verified bit-equal) rounded at 9 dp with id tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llmops.dedup import (
    MINHASH_COEFFS,
    MINHASH_PRIME,
    exact_dedup_groups,
    lsh_candidate_pairs,
    minhash_signatures_from_text,
    ngram_jaccard_pairs,
    shingles,
    simhash_from_text,
)
from ..llmops.multimodal import binary_metadata
from ..llmops.simsearch import cosine_topk
from ..llmops.textstats import (
    LANG_ORDER,
    STOPWORDS,
    quality_features,
)
from ..sources.lake import load_table
from .registry import register


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy on content (canonical id + dup count).
# Driver-gated through llm_exact_dedup_fingerprint (compound row).
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(load_table(spark, sf_dir, "documents"))


# Exact-dedup + fingerprint + line-dedup compound driver row:
# per-document content hash, normalized fingerprint, the dedup-group
# columns (canonical id + multiplicity) via a window over the content
# hash — the single-pass form of llmops.dedup.exact_dedup_groups ⋈
# textstats.fingerprint — PLUS the CCNet-style cross-corpus
# duplicated-line report and boilerplate-removal check from
# llmops.curation (all remain unit-tested in tests/test_llmops.py).
#
# The corpus has no newlines, so the line ops run on a deterministic
# re-wrap of each document into 8-token lines (pure Catalyst, the
# oracle mirrors it) — at sf0.01 that yields ~138 cross-document hot
# lines over 55 documents, so the dup-line counts and the md5 of the
# line-deduped text are a real gate, and clean_md5 additionally proves
# the posexplode→anti-join→ordered-reassembly plan byte-exact against
# DuckDB's string_agg(... ORDER BY pos).
_LINE_WRAP_SQL = """
    SELECT doc_id,
      array_to_string(list_transform(
          range(0, CAST(ceil(len(t)/8.0) AS BIGINT)),
          i -> array_to_string(list_slice(t, i*8+1, i*8+8), ' ')),
        chr(10)) AS text
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
"""


def _wrap_8_tokens(text_col: str = "text") -> "F.Column":
    """Deterministic 8-token line re-wrap of ``text_col`` — the corpus
    has no newlines of its own, so line-level operators (CCNet
    boilerplate removal) are exercised on this pure-Catalyst rewrap;
    the DuckDB oracles mirror it via ``_LINE_WRAP_SQL``."""
    t = F.split(F.col(text_col), " ")
    return F.array_join(
        F.transform(
            F.sequence(
                F.lit(0),
                F.ceil(F.size(t) / F.lit(8.0)).cast("int") - F.lit(1),
            ),
            lambda i: F.array_join(F.slice(t, i * F.lit(8) + F.lit(1), 8), " "),
        ),
        "\n",
    )


@register(
    "llm_exact_dedup_fingerprint",
    oracle=f"""
    WITH w AS ({_LINE_WRAP_SQL}),
    dl AS (
      SELECT DISTINCT doc_id, md5(trim(line)) AS lh
      FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
            FROM w)
      WHERE length(trim(line)) >= 8
    ),
    hot AS (SELECT lh FROM dl GROUP BY lh HAVING count(*) >= 2),
    stats AS (
      SELECT dl.doc_id, count(*) AS n_lines, count(hot.lh) AS n_dup_lines
      FROM dl LEFT JOIN hot ON dl.lh = hot.lh GROUP BY dl.doc_id
    ),
    pl AS (
      SELECT doc_id, unnest(l) AS line, generate_subscripts(l, 1) AS pos
      FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM w)
    ),
    clean AS (
      SELECT pl.doc_id,
             md5(coalesce(string_agg(pl.line, chr(10) ORDER BY pl.pos)
                 FILTER (length(trim(pl.line)) < 8 OR hot.lh IS NULL), ''))
               AS clean_md5
      FROM pl LEFT JOIN hot ON md5(trim(pl.line)) = hot.lh
      GROUP BY pl.doc_id
    )
    SELECT d.doc_id,
           md5(d.text) AS content_hash,
           md5(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g'))
             AS fingerprint,
           min(d.doc_id) OVER (PARTITION BY md5(d.text)) AS canonical_id,
           count(*) OVER (PARTITION BY md5(d.text)) AS n_dups,
           coalesce(s.n_lines, 0) AS n_lines,
           coalesce(s.n_dup_lines, 0) AS n_dup_lines,
           coalesce(CAST(s.n_dup_lines AS DOUBLE) / s.n_lines, 0.0)
             AS dup_line_frac,
           c.clean_md5
    FROM documents d
    LEFT JOIN stats s USING (doc_id)
    LEFT JOIN clean c USING (doc_id)
    """,
)
def llm_exact_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..llmops.curation import (
        corpus_hot_lines,
        duplicated_line_stats,
        remove_duplicated_lines,
    )

    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    w = Window.partitionBy("content_hash")
    base = (
        docs.select(
            "doc_id",
            F.md5("text").alias("content_hash"),
            F.md5(norm).alias("fingerprint"),
        )
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("n_dups", F.count("*").over(w))
    )
    # deterministic 8-token re-wrap (corpus has no newlines of its own)
    wrapped = docs.select("doc_id", _wrap_8_tokens().alias("text"))
    # one shared hot-line set for stats AND removal (each would
    # otherwise derive its own — two corpus explodes instead of one)
    hot = corpus_hot_lines(wrapped)
    stats = duplicated_line_stats(wrapped, hot_lines=hot)
    clean = remove_duplicated_lines(wrapped, hot_lines=hot).select(
        "doc_id", F.md5("text").alias("clean_md5")
    )
    return (
        base.join(stats, "doc_id", "left")
        .join(clean, "doc_id", "left")
        .select(
            base["*"],
            F.coalesce(F.col("n_lines"), F.lit(0)).alias("n_lines"),
            F.coalesce(F.col("n_dup_lines"), F.lit(0)).alias("n_dup_lines"),
            F.coalesce(F.col("dup_line_frac"), F.lit(0.0)).alias(
                "dup_line_frac"
            ),
            "clean_md5",
        )
    )


# ---------------------------------------------------------------------------
# MinHash signatures (k=8 universal hashes over 3-gram shingles).
_MH_TERMS = ",\n           ".join(
    f"min(({a} * x + {b}) % {MINHASH_PRIME}) AS mh_{j}"
    for j, (a, b) in enumerate(MINHASH_COEFFS)
)
_SHINGLE_CTE = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(t) - 1),
                    i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS shingle
      FROM toks WHERE len(t) >= 3
    )
"""

@register(
    "llm_minhash_signatures",
    oracle=f"""
    {_SHINGLE_CTE},
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS x
      FROM sh
    )
    SELECT doc_id,
           {_MH_TERMS}
    FROM hashed GROUP BY doc_id
    """,
)
def llm_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.lake import spread

    # map-only array form: zero shuffles after the input spread
    # (minhash_signatures over exploded shingles is the long-format
    # twin — same values, one extra |shingles|-row shuffle)
    docs = spread(load_table(spark, sf_dir, "documents"))
    return minhash_signatures_from_text(docs)


# LSH banding over the signatures → candidate pairs (4 bands × 2 rows).
_BAND_BUCKETS = " UNION ALL ".join(
    f"""SELECT doc_id, {b} AS band,
        md5(concat_ws(':', CAST(mh_{2*b} AS VARCHAR),
                           CAST(mh_{2*b+1} AS VARCHAR))) AS bucket FROM sig"""
    for b in range(4)
)

@register(
    "llm_minhash_lsh_pairs",
    oracle=f"""
    {_SHINGLE_CTE},
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS x
      FROM sh
    ),
    sig AS (
      SELECT doc_id, {_MH_TERMS}
      FROM hashed GROUP BY doc_id
    ),
    buckets AS ({_BAND_BUCKETS})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """,
)
def llm_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.lake import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    sig = minhash_signatures_from_text(docs)
    return lsh_candidate_pairs(sig, bands=4, rows_per_band=2)


# SimHash (32-bit sign-sum over token hashes, with multiplicity).
_SIMHASH_BITS = " + ".join(
    f"""(CASE WHEN sum(CASE WHEN (x >> {b}) & 1 = 1 THEN 1 ELSE -1 END) >= 0
         THEN CAST({2**b} AS BIGINT) ELSE 0 END)"""
    for b in range(32)
)

# Driver-gated through llm_simhash_neighbors (compound row).
def llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.lake import spread

    # map-only array form: zero shuffles after the input spread (the
    # exploded-token ``simhash`` is the long-format twin)
    docs = spread(load_table(spark, sf_dir, "documents"))
    return simhash_from_text(docs)


# ---------------------------------------------------------------------------
# Brute-force cosine top-k over embeddings (exact ANN baseline).
# Driver-gated through llm_cosine_topk_neardup (compound row).
_COSINE_TOPK_ORACLE = """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT vec_id AS q_id, e AS q_e,
                 sqrt(list_inner_product(e, e)) AS q_norm
          FROM v WHERE vec_id < 10),
    c AS (SELECT vec_id AS n_id, e AS n_e,
                 sqrt(list_inner_product(e, e)) AS n_norm FROM v),
    scored AS (
      SELECT q_id, n_id,
             round(list_inner_product(q_e, n_e) / (q_norm * n_norm), 9) AS cos
      FROM q, c WHERE n_id <> q_id
    )
    SELECT q_id, n_id, rank, cos FROM (
      SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos DESC, n_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


def llm_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


# IVF approximate-nearest-neighbour, driver-gated EXACTLY: with
# n_probe == n_centroids every inverted list is probed, so IVF must
# reproduce the brute-force top-k bit-for-bit — the oracle is the
# brute-force SQL.  This puts a hash-checked driver row on the whole
# IVF machinery (deterministic centroid seeding, centroid-literal
# assignment, probed-list join, in-list exact re-rank); recall at
# n_probe < n_centroids is covered by tests/test_llmops.py.
@register("llm_ivf_topk", oracle=_COSINE_TOPK_ORACLE)
def llm_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmops.simsearch import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, emb.filter(F.col("vec_id") < 10),
        k=5, n_centroids=8, n_probe=8,
    )


# ---------------------------------------------------------------------------
# Text quality features.
_EN = ", ".join(f"'{w}'" for w in STOPWORDS["en"])

# Driver-gated through llm_text_features (compound row).
def llm_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_features(load_table(spark, sf_dir, "documents"))


# Heuristic language id (stopword-hit argmax, fixed tie order).
_LANG_SCORES = ",\n           ".join(
    "len(list_filter(toks, x -> x IN ({}))) AS score_{}".format(
        ", ".join(f"'{w}'" for w in STOPWORDS[lang]), lang
    )
    for lang in LANG_ORDER
)


# The full text-analysis surface in ONE driver row and one scan:
# quality features + BPE-ish token counts + language id
# (llmops.textstats.text_features — the production single-pass form;
# the three standalone operators stay unit-tested in test_llmops.py).
@register(
    "llm_text_features",
    oracle=rf"""
    WITH t AS (SELECT doc_id, text, string_split(trim(text), ' ') AS toks
               FROM documents),
    s AS (
      SELECT doc_id, text, toks,
           {_LANG_SCORES}
      FROM t
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           length(text) AS n_chars_calc,
           length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g'))
             AS n_punct,
           score_en AS n_stopwords,
           CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks)
             AS avg_token_len,
           CAST(score_en AS DOUBLE) / len(toks) AS stopword_ratio,
           0.4 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
             + 0.4 * (CAST(score_en AS DOUBLE) / len(toks))
             + 0.2 * (1.0 - CAST(length(text) -
                       length(regexp_replace(text, '[.!?,;:]', '', 'g'))
                       AS DOUBLE) / length(text)) AS quality_score,
           len(regexp_extract_all(text,
               '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+')) AS n_bpe_tokens,
           CAST(len(regexp_extract_all(text,
               '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+')) AS DOUBLE)
             / len(toks) AS bpe_per_ws,
           CASE WHEN len(toks) >= 2 THEN
             1.0 - CAST(len(list_distinct(list_transform(
                     range(1, len(toks)),
                     i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE)
                 / (len(toks) - 1)
           END AS dup_2gram_ratio,
           CASE WHEN len(toks) >= 3 THEN
             1.0 - CAST(len(list_distinct(list_transform(
                     range(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
                   AS DOUBLE)
                 / (len(toks) - 2)
           END AS dup_3gram_ratio,
           score_en, score_es, score_de, score_fr,
           CASE WHEN score_en >= greatest(score_es, score_de, score_fr)
                  THEN 'en'
                WHEN score_es >= greatest(score_de, score_fr) THEN 'es'
                WHEN score_de >= score_fr THEN 'de'
                ELSE 'fr' END AS lang_pred,
           len(regexp_extract_all(
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com',
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}'))
             AS n_email,
           md5(regexp_replace(
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com',
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}',
               '<EMAIL>', 'g')) AS pii_redacted_md5
    FROM s
    """,
)
def llm_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Compound row: the one-pass feature projection PLUS the email
    # tier of curation.redact_pii, oracle-gated on a deterministic
    # synthetic address (' contact user<doc_id>@example.com') since
    # the corpus itself contains no PII.  The oracle-gated md5 runs
    # the EMAIL tier only (patterns=PII_PATTERNS[:1]) so it matches
    # the email-only DuckDB oracle by construction — not by relying on
    # the corpus staying digit-free forever; the phone/IPv4 tiers use
    # lookarounds DuckDB's RE2 cannot express and stay pytest-gated
    # (tests/test_llmops.py).  Everything is carried through
    # text_features' map-side select: still one scan, zero shuffles.
    from ..llmops.curation import PII_PATTERNS, redact_pii
    from ..llmops.textstats import text_features
    from ..sources.lake import spread

    # spread: the feature projection is map-side only (regex + lang
    # scoring per row), so a single-file scan would serialize all of
    # it on one core (no-op on wide inputs — the 100 TB shape)
    docs = spread(load_table(spark, sf_dir, "documents"))
    aug = docs.withColumn(
        "pii_text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
        ),
    )
    red = redact_pii(
        aug, text_col="pii_text", patterns=PII_PATTERNS[:1]
    ).withColumn(
        "pii_redacted_md5", F.md5(F.col("pii_text"))
    )
    return text_features(red, carry=("n_email", "pii_redacted_md5"))


# ---------------------------------------------------------------------------
# Multimodal: pure-Catalyst binary metadata pass (decode fan-out is the
# mapInPandas path, tested in tests/test_llmops.py; this query checks
# the binary-column plumbing end-to-end against DuckDB).
@register(
    "llm_binary_metadata",
    oracle="""
    SELECT doc_id, octet_length(encode(text)) AS n_bytes,
           sha256(text) AS content_sha256
    FROM documents
    """,
)
def llm_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("blob")
    )
    return binary_metadata(docs, id_col="doc_id", binary_col="blob")


# Embedding-cosine near-duplicate pairs: vectors whose cosine clears a
# high threshold are near-dups (the embedding-space analogue of
# MinHash). neardup_pairs is the exact id-blocked self-join: a
# shuffled hash join on equal-sized block pairs, never a broadcast.
# Driver-gated through llm_cosine_topk_neardup (compound row).
def llm_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmops.simsearch import neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return neardup_pairs(emb, threshold=0.35)


# Cosine compound driver row: exact top-k search and threshold
# near-dup pairs over the same embedding table, union-tagged (rank is
# 0 on the neardup branch).
@register(
    "llm_cosine_topk_neardup",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    n AS (SELECT vec_id, e, sqrt(list_inner_product(e, e)) AS nrm FROM v),
    q AS (SELECT vec_id AS q_id, e AS q_e, nrm AS q_norm
          FROM n WHERE vec_id < 10),
    scored AS (
      SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos DESC, n_id) AS rank
      FROM (
        SELECT q_id, c.vec_id AS n_id,
               round(list_inner_product(q_e, c.e) / (q_norm * c.nrm), 9) AS cos
        FROM q, n c WHERE c.vec_id <> q_id
      )
    )
    SELECT 'topk' AS op, q_id AS id_a, n_id AS id_b, rank, cos
    FROM scored WHERE rank <= 5
    UNION ALL
    SELECT 'neardup', a.vec_id, b.vec_id, CAST(0 AS BIGINT),
           round(list_inner_product(a.e, b.e) / (a.nrm * b.nrm), 9)
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE round(list_inner_product(a.e, b.e) / (a.nrm * b.nrm), 9) >= 0.35
    """,
)
def llm_cosine_topk_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    topk = llm_cosine_topk(spark, sf_dir).select(
        F.lit("topk").alias("op"),
        F.col("q_id").alias("id_a"),
        F.col("n_id").alias("id_b"),
        "rank", "cos",
    )
    near = llm_embedding_neardup(spark, sf_dir).select(
        F.lit("neardup").alias("op"),
        "id_a", "id_b",
        F.lit(0).cast("long").alias("rank"),
        "cos",
    )
    return topk.unionByName(near)


# Dedup-cluster resolution: connected components over the LSH candidate
# pairs — min doc_id per component is the canonical representative.
# Oracle: recursive CTE enumerating reachability (terminates because
# UNION deduplicates visited (node, root) pairs).
_SHINGLE_CTE_RECURSIVE = _SHINGLE_CTE.replace("WITH toks", "WITH RECURSIVE toks", 1)


@register(
    "llm_dedup_clusters",
    oracle=f"""
    {_SHINGLE_CTE_RECURSIVE},
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS x
      FROM sh
    ),
    sig AS (
      SELECT doc_id, {_MH_TERMS}
      FROM hashed GROUP BY doc_id
    ),
    buckets AS ({_BAND_BUCKETS}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach AS (
      SELECT a AS node, a AS root FROM edges
      UNION
      SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT node AS doc_id, min(root) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single-task union-find over the candidate pairs: the pair list is
    # sparse by construction (that is what banding buys), so this is one
    # shuffle + one task instead of diameter-many iterative rounds.
    # Routed through resolve_clusters, which localCheckpoints the pairs
    # FIRST: the LSH pipeline (and its final pair dedup) runs 32-way and
    # only the materialized edge list enters the coalesce(1) union-find
    # task.  Calling connected_components_local directly here would pull
    # the whole pair-dedup aggregation into that single task (measured
    # +23% at sf0.1; a scale-killer at corpus size).  The distributed
    # fallback (large-star/small-star) lives in llmops.clusters; a
    # union-find reference test pins both forms.
    from ..llmops.clusters import resolve_clusters
    from ..sources.lake import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    sig = minhash_signatures_from_text(docs)
    pairs = lsh_candidate_pairs(sig, bands=4, rows_per_band=2)
    return resolve_clusters(pairs)


# SimHash compound driver row: EVERY document's 32-bit signature
# (stronger than pair-only visibility — all signature values enter the
# hash) plus its near-dup neighbourhood stats (count and minimum
# hamming within the <=6 radius; NULL min for isolated docs).
# Production plan: pigeonhole-banded candidate generation
# (llmops.dedup.simhash_neighbors_banded — equi-shuffle on signature
# blocks, NOT the O(n²) inequality self-join the DuckDB oracle runs),
# then symmetrize
# pairs → per-doc stats → left join back onto the signatures so
# isolated docs keep their row.
@register(
    "llm_simhash_neighbors",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(token), 1, 8))::BIGINT AS x
      FROM toks
    ),
    sig AS (
      SELECT doc_id, {_SIMHASH_BITS} AS simhash
      FROM hashed GROUP BY doc_id
    )
    SELECT s.doc_id, s.simhash,
           count(o.doc_id) AS n_near,
           min(CAST(bit_count(xor(s.simhash, o.simhash)) AS BIGINT))
             AS min_hamming
    FROM sig s LEFT JOIN sig o
      ON o.doc_id <> s.doc_id
         AND bit_count(xor(s.simhash, o.simhash)) <= 6
    GROUP BY s.doc_id, s.simhash
    """,
)
def llm_simhash_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmops.dedup import simhash_neighbors_banded

    # the signature frame feeds TWO consumers (the banded scan and the
    # final left join) — without materialization the md5-per-token +
    # 32-way sum aggregation subtree executes twice per run (measured:
    # two ~equal heavy stages in the event log).  Same lazy
    # localCheckpoint device as setsim_join's token frame.
    sig = llm_simhash(spark, sf_dir).localCheckpoint(eager=False)
    pairs = simhash_neighbors_banded(sig, radius=6)
    # near-dup relation is symmetric: each (a, b) pair contributes to
    # both endpoints' neighbourhood stats.  Round 15: symmetrize with a
    # MAP-SIDE explode instead of a union of two selects — the union
    # built the whole banded-scan subtree TWICE (two FlatMapGroups /
    # join stages in the r14/r15 plans; Catalyst shares no subplans
    # across union branches), the explode fans each pair row out to
    # its two endpoints in place (guide §2.1 — don't compute things
    # twice).  Row multiset identical by construction.
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("doc_id"), F.col("hamming")),
                F.struct(F.col("id_b").alias("doc_id"), F.col("hamming")),
            )
        ).alias("__e")
    ).select("__e.doc_id", "__e.hamming")
    stats = sym.groupBy("doc_id").agg(
        F.count("*").alias("n_near"), F.min("hamming").alias("min_hamming")
    )
    return sig.join(stats, "doc_id", "left").select(
        "doc_id",
        "simhash",
        F.coalesce(F.col("n_near"), F.lit(0).cast("long")).alias("n_near"),
        "min_hamming",
    )


# Signature-estimated Jaccard oracle term: fraction of agreeing
# MinHash components over the k=8 signature.
_MH_AGREE = " + ".join(
    f"CASE WHEN a.mh_{j} = b.mh_{j} THEN 1 ELSE 0 END"
    for j in range(len(MINHASH_COEFFS))
)

# Jaccard compound driver row: the exact all-pairs n-gram Jaccard
# baseline (>=0.5), the LSH-candidates→exact-verify pipeline (>=0.7),
# and the signature-ESTIMATED Jaccard over the same candidates —
# union-tagged, so the driver hash certifies the quadratic reference
# semantics, the candidate-restricted production path, AND the cheap
# estimator's exact agreement-fraction semantics in one row.
@register(
    "llm_jaccard_verify",
    oracle=f"""
    {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    allp AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY id_a, id_b
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS x
      FROM sh
    ),
    sig AS (
      SELECT doc_id, {_MH_TERMS}
      FROM hashed GROUP BY doc_id
    ),
    buckets AS ({_BAND_BUCKETS}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    cand_inter AS (
      SELECT c.id_a, c.id_b, count(*) AS inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b
    )
    SELECT 'allpairs' AS stage, id_a, id_b,
           CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
    FROM allp
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
    UNION ALL
    SELECT 'lsh_verified', i.id_a, i.id_b,
           CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter)
    FROM cand_inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) >= 0.7
    UNION ALL
    SELECT 'estimated', c.id_a, c.id_b,
           CAST({_MH_AGREE} AS DOUBLE) / {len(MINHASH_COEFFS)}.0
    FROM cand c
    JOIN sig a ON a.doc_id = c.id_a
    JOIN sig b ON b.doc_id = c.id_b
    """,
)
def llm_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmops.dedup import (
        estimated_jaccard_pairs,
        minhash_signatures_from_sets,
        shingle_sets,
        verify_candidates,
    )

    # One tokenize+shingle pass serves all three branches: the per-doc
    # set frame is materialized once (lazy localCheckpoint) and sizes
    # (allpairs), the long format (allpairs self-join), the MinHash
    # signatures (banding + estimator) and the exact verify all derive
    # from it.  Before: each union branch re-ran its own corpus pass —
    # the shingle explode fed 3 separate Exchanges and the signature
    # subtree built twice (Catalyst shares no subplans across union
    # branches).  Signatures (8 longs/doc) and the bounded candidate
    # list are checkpointed too: each feeds two consumers.  Values are
    # bit-identical (same distinct gram set per doc; gram hash and
    # (a·x+b) mod p minima are order-insensitive) — oracle-verified.
    docs = load_table(spark, sf_dir, "documents")
    sets_ = shingle_sets(shingles(docs)).localCheckpoint(eager=False)
    sh = sets_.select("doc_id", F.explode("__sh").alias("shingle"))
    sizes = sets_.select("doc_id", "sz")
    sig = minhash_signatures_from_sets(sets_).localCheckpoint(eager=False)
    cand = lsh_candidate_pairs(
        sig, bands=4, rows_per_band=2
    ).localCheckpoint(eager=False)
    allp = ngram_jaccard_pairs(sh, min_jaccard=0.5, sizes_df=sizes).select(
        F.lit("allpairs").alias("stage"), "id_a", "id_b", "jaccard"
    )
    verified = verify_candidates(
        sh, cand, min_jaccard=0.7, sets_df=sets_
    ).select(F.lit("lsh_verified").alias("stage"), "id_a", "id_b", "jaccard")
    # the cheap pre-rank between banding and exact verify: only the
    # k-long signatures are re-joined, never the shingle fan-out
    est = estimated_jaccard_pairs(sig, cand).select(
        F.lit("estimated").alias("stage"), "id_a", "id_b",
        F.col("est_jaccard").alias("jaccard"),
    )
    return allp.unionByName(verified).unionByName(est)


# Survivors + corpus-stats compound driver row: the dataset-card
# report computed over the DEDUPED corpus — survivor selection
# (row_number over content hash) feeding the per-(lang, source)
# aggregate, i.e. the two operators composed the way a real pipeline
# runs them (dedup THEN report).
@register(
    "llm_survivor_corpus_stats",
    oracle="""
    WITH surv AS (
      SELECT doc_id, lang, source, text FROM (
        SELECT doc_id, lang, source, text,
               row_number() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn = 1
    ),
    t AS (
      SELECT lang, source,
             len(string_split(trim(text), ' ')) AS n_tok,
             length(text) AS n_chr
      FROM surv
    )
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(sum(n_chr) AS BIGINT) AS total_chars,
           CAST(sum(n_tok) AS DOUBLE) / count(*) AS mean_tokens
    FROM t GROUP BY lang, source
    """,
)
def llm_survivor_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    surv = (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    n_tok = F.size(F.split(F.trim(F.col("text")), " ")).cast("long")
    n_chr = F.length("text").cast("long")
    return (
        surv.select("lang", "source", n_tok.alias("n_tok"), n_chr.alias("n_chr"))
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum("n_chr").alias("total_chars"),
            (F.sum("n_tok").cast("double") / F.count("*")).alias("mean_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Benchmark-contamination detection: for each held-out document (the
# deterministic doc_id % 20 == 0 split), the share of its 3-gram
# shingles appearing in ANY training document — the n-gram-overlap
# decontamination check every pretraining pipeline runs (13-grams in
# GPT-3/PaLM practice; n parameterized).
@register(
    "llm_contamination",
    oracle=f"""
    {_SHINGLE_CTE},
    test_sh AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 = 0),
    train_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 <> 0)
    SELECT t.doc_id,
           count(*) AS n_shingles,
           count(tr.shingle) AS n_contaminated,
           round(CAST(count(tr.shingle) AS DOUBLE) / count(*), 6)
             AS contamination
    FROM test_sh t LEFT JOIN train_sh tr ON t.shingle = tr.shingle
    GROUP BY t.doc_id
    """,
)
def llm_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmops.curation import shingle_contamination

    docs = load_table(spark, sf_dir, "documents")
    return shingle_contamination(docs, is_test=F.col("doc_id") % 20 == 0)


# Sequence packing (concat-and-chunk) + sliding-window context
# chunking compound row: per source, the ordered token stream chunked
# into 256-token training examples (each document maps to its chunk
# range — pure window functions partitioned by source, no global
# sort), with curation.chunk_summary(max_tokens=32, overlap=8) —
# chunk count + order-sensitive md5 over the chunk texts — computed
# map-side on the SAME scan and carried through the packing window
# (pack_sequences carry=; one scan, one shuffle, zero joins; the
# exploded chunk_documents form is pinned value-identical by
# test_chunk_summary_matches_exploded).  The md5 pins the
# sliding-window slicing (stride/overlap/short-tail semantics)
# byte-exact against DuckDB's list_slice.
