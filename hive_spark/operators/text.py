"""Training-data text pipeline operators over the `documents` table.

Beyond Hive parity (BASELINE.json north star): deduplication (exact,
n-gram Jaccard, MinHash+LSH, SimHash), text statistics/quality scoring,
language ID, and document fingerprinting — each designed as a linear-scan
DataFrame pipeline that survives 100 TB:

- exact dedup       : hash + groupBy (one shuffle on the digest)
- near-dup verify   : pairwise Jaccard *only within blocking keys* —
                      never an unblocked self-cross-join
- MinHash+LSH       : tokenize → K minhashes → band buckets → bucket join
                      (candidate generation is O(N·K), join is per-bucket)
- SimHash           : bitwise majority vote of token hashes, one groupBy
- stats/quality/lang: pure per-row expressions, whole-stage codegen'd

All tokenization is whitespace split (the documents corpus is
space-delimited); everything except the murmur-hash-based sketches is
verified against DuckDB with identical integer/decimal arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hive_spark.operators import QuerySpec, views

D6 = "decimal(18,6)"

_TOKS = "filter(split(text, ' '), x -> x != '')"


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counting + length statistics (token counting per
    the training-pipeline requirement; whitespace tokenizer)."""
    views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(size({_TOKS}) AS INT) AS n_tokens,
               CAST(size(array_distinct({_TOKS})) AS INT) AS n_unique_tokens,
               CAST(CAST(aggregate(transform({_TOKS}, t -> length(t)),
                                   0L, (a, x) -> a + x) AS DOUBLE)
                    / size({_TOKS}) AS DECIMAL(18,6)) AS avg_token_len
        FROM documents
        ORDER BY doc_id
        """
    )


_TEXT_STATS_SQL = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS INT) AS n_tokens,
       CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x != ''))) AS INT) AS n_unique_tokens,
       CAST(CAST(list_sum(list_transform(list_filter(string_split(text, ' '), x -> x != ''),
                                          t -> length(t))) AS DOUBLE)
            / len(list_filter(string_split(text, ' '), x -> x != '')) AS DECIMAL(18,6)) AS avg_token_len
FROM documents
ORDER BY doc_id
"""

_STOPWORDS = "('the', 'a', 'of', 'and', 'in', 'to')"


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio, type-token ratio, length gates —
    the standard pre-training corpus filters, as pure Catalyst expressions."""
    views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT doc_id,
               CAST(size(filter({_TOKS}, t -> t IN {_STOPWORDS})) AS DOUBLE)
                 / size({_TOKS}) AS stopword_ratio,
               CAST(size(array_distinct({_TOKS})) AS DOUBLE)
                 / size({_TOKS}) AS type_token_ratio,
               CAST(size({_TOKS}) BETWEEN 20 AND 1000 AS INT) AS len_ok,
               CAST(size(filter({_TOKS}, t -> length(t) > 15)) = 0 AS INT) AS no_megatokens
        FROM documents
        ORDER BY doc_id
        """
    )


_TEXT_QUALITY_SQL = f"""
SELECT doc_id,
       CAST(len(list_filter(list_filter(string_split(text, ' '), x -> x != ''),
                            t -> t IN {_STOPWORDS})) AS DOUBLE)
         / len(list_filter(string_split(text, ' '), x -> x != '')) AS stopword_ratio,
       CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x != ''))) AS DOUBLE)
         / len(list_filter(string_split(text, ' '), x -> x != '')) AS type_token_ratio,
       CAST(len(list_filter(string_split(text, ' '), x -> x != '')) BETWEEN 20 AND 1000 AS INT) AS len_ok,
       CAST(len(list_filter(list_filter(string_split(text, ' '), x -> x != ''),
                            t -> length(t) > 15)) = 0 AS INT) AS no_megatokens
FROM documents
ORDER BY doc_id
"""

# Marker-word heuristic language ID (n-gram/stopword heuristic per the
# training-pipeline requirement). Priority order breaks ties.
_LANG_MARKERS = [
    ("de", "('der', 'und', 'die', 'ist')"),
    ("es", "('el', 'la', 'que', 'los')"),
    ("fr", "('le', 'et', 'les', 'une')"),
    ("en", "('the', 'a', 'of', 'and')"),
]


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    scores = ", ".join(
        f"CAST(size(filter({_TOKS}, t -> t IN {words})) AS INT) AS s_{lang}"
        for lang, words in _LANG_MARKERS
    )
    return spark.sql(
        f"""
        WITH scored AS (SELECT doc_id, lang, {scores} FROM documents)
        SELECT doc_id, lang,
               CASE WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_en AND s_de > 0 THEN 'de'
                    WHEN s_es >= s_fr AND s_es >= s_en AND s_es > 0 THEN 'es'
                    WHEN s_fr >= s_en AND s_fr > 0 THEN 'fr'
                    WHEN s_en > 0 THEN 'en'
                    ELSE 'unknown' END AS pred_lang
        FROM scored
        ORDER BY doc_id
        """
    )


def _langid_oracle() -> str:
    toks = "list_filter(string_split(text, ' '), x -> x != '')"
    scores = ", ".join(
        f"CAST(len(list_filter({toks}, t -> t IN {words})) AS INT) AS s_{lang}"
        for lang, words in _LANG_MARKERS
    )
    return f"""
WITH scored AS (SELECT doc_id, lang, {scores} FROM documents)
SELECT doc_id, lang,
       CASE WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_en AND s_de > 0 THEN 'de'
            WHEN s_es >= s_fr AND s_es >= s_en AND s_es > 0 THEN 'es'
            WHEN s_fr >= s_en AND s_fr > 0 THEN 'fr'
            WHEN s_en > 0 THEN 'en'
            ELSE 'unknown' END AS pred_lang
FROM scored
ORDER BY doc_id
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic rolling-hash document fingerprint: polynomial hash
    over the character stream, mod 1e9+7 (portable integer arithmetic —
    identical in any engine, unlike murmur)."""
    views(spark, sf_dir)
    return spark.sql(
        """
        SELECT doc_id,
               aggregate(transform(filter(split(text, ''), c -> c != ''),
                                   c -> ascii(c)),
                         0L, (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
        FROM documents
        ORDER BY doc_id
        """
    )


_FINGERPRINT_SQL = """
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
                                list_transform(list_filter(string_split(text, ''), c -> c != ''),
                                               c -> CAST(ascii(c) AS BIGINT))),
                   (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
FROM documents
ORDER BY doc_id
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: digest + groupBy — at 100 TB this is one shuffle on
    md5(text) with map-side partial counts."""
    t = views(spark, sf_dir)
    return (
        t["documents"]
        .groupBy(F.md5("text").alias("digest"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .groupBy("n_copies")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.min("keep_id").alias("min_keep_id"),
        )
        .orderBy("n_copies")
    )


_DEDUP_EXACT_SQL = """
SELECT n_copies, COUNT(*) AS n_groups, MIN(keep_id) AS min_keep_id
FROM (SELECT md5(text) AS digest, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents GROUP BY md5(text))
GROUP BY n_copies ORDER BY n_copies
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: token-set Jaccard over pairs *within blocking
    keys* (lang, source). The blocked self-join is the scale-safe shape —
    at 100 TB the blocks come from LSH buckets (see dedup_minhash_lsh);
    here blocking keys make the pair set DuckDB-verifiable."""
    views(spark, sf_dir)
    return spark.sql(
        f"""
        WITH d AS (SELECT doc_id, lang, source,
                          array_distinct({_TOKS}) AS toks
                   FROM documents)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(CAST(size(filter(a.toks, x -> array_contains(b.toks, x))) AS DOUBLE)
                    / (size(a.toks) + size(b.toks)
                       - size(filter(a.toks, x -> array_contains(b.toks, x))))
                    AS DECIMAL(18,6)) AS jaccard
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE CAST(size(filter(a.toks, x -> array_contains(b.toks, x))) AS DOUBLE)
              / (size(a.toks) + size(b.toks)
                 - size(filter(a.toks, x -> array_contains(b.toks, x)))) >= 0.8
        ORDER BY id_a, id_b
        """
    )


_DEDUP_JACCARD_SQL = """
WITH d AS (SELECT doc_id, lang, source,
                  list_distinct(list_filter(string_split(text, ' '), x -> x != '')) AS toks
           FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE)
            / (len(a.toks) + len(b.toks)
               - len(list_filter(a.toks, x -> list_contains(b.toks, x))))
            AS DECIMAL(18,6)) AS jaccard
FROM d a JOIN d b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE)
      / (len(a.toks) + len(b.toks)
         - len(list_filter(a.toks, x -> list_contains(b.toks, x)))) >= 0.8
ORDER BY id_a, id_b
"""

_N_MINHASH = 8
_N_BANDS = 4  # bands of 2 hashes → candidates at jaccard ≳ 0.5


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH dedup: per-document cluster assignment (keep/drop).

    Pipeline (shingle->minhash->band->bucket->cluster):
      1. explode tokens, K=8 murmur minhashes per doc (one groupBy)
      2. band signatures (2 hashes/band, 4 bands) -> (doc, band, sig) rows
      3. bucket representative = min(doc_id) per (band, sig)  [one groupBy]
      4. doc cluster = min(bucket representative) over its bands; a doc is
         kept iff it is its own cluster representative

    The output is O(N) rows (one per document) — never the O(N^2) pair
    list, which degenerates on self-similar corpora and at 100 TB would
    dwarf the input. All shuffles key on (band, sig) or doc_id; candidate
    generation cost is O(N*K). Single-pass LSH keep-rule (no transitive
    closure — matches how large-scale training-data dedup is actually run;
    iterate the pass for closure if needed). Uses Spark murmur3 (F.hash)
    -> no DuckDB oracle (driver records rows-only check).

    r10 opt (guide §2.4, the r9 tfidf precedent): the bucket
    representative used to be a `GROUP BY (band, sig)` CTE self-joined
    back onto the band rows — and the self-join de-canonicalized the
    shared minhash subtree, so the scan -> explode -> 8-minhash agg ->
    band explode derivation executed TWICE (2 scans in the committed
    plan, ReusedExchange never fired). Rewritten as
    `MIN(doc_id) OVER (PARTITION BY band, sig)` on the single
    derivation: one scan, no join. The window's partition sizes equal
    the old groupBy's bucket sizes (same key, same skew profile; MIN is
    a cheap bounded aggregate). Interleaved best-of-5, rows identical:
    sf0.1 0.75 -> 0.57s, sf1 tier 1.06 -> 0.99s (all reps faster;
    `git show ebbee1c:bench_artifacts/dedup_ab_r10.py`).
    """
    views(spark, sf_dir)
    mins = ", ".join(
        f"min(hash(concat('s{i}:', tok))) AS h{i}" for i in range(_N_MINHASH)
    )
    bands = ", ".join(
        f"named_struct('band', {b}, 'sig', hash(h{2 * b}, h{2 * b + 1}))"
        for b in range(_N_BANDS)
    )
    return spark.sql(
        f"""
        WITH mh AS (
            SELECT doc_id, b.band, b.sig
            FROM (
                SELECT doc_id, {mins}
                FROM (SELECT doc_id, explode(array_distinct({_TOKS})) AS tok
                      FROM documents)
                GROUP BY doc_id
            ) LATERAL VIEW explode(array({bands})) t AS b
        ),
        with_rep AS (
            SELECT doc_id, MIN(doc_id) OVER (PARTITION BY band, sig) AS rep
            FROM mh
        )
        SELECT doc_id,
               MIN(rep) AS cluster_id,
               CAST(doc_id = MIN(rep) AS BOOLEAN) AS kept
        FROM with_rep
        GROUP BY doc_id
        ORDER BY doc_id
        """
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit): per-token murmur hash votes per bit position,
    majority sign forms the fingerprint; one explode + one groupBy —
    linear at any scale. Murmur-based → rows-only check."""
    views(spark, sf_dir)
    bits = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (hash(tok) >> {i}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(16)
    )
    return spark.sql(
        f"""
        SELECT doc_id, CAST({bits} AS BIGINT) AS simhash
        FROM (SELECT doc_id, explode(array_distinct({_TOKS})) AS tok FROM documents)
        GROUP BY doc_id
        ORDER BY doc_id
        """
    )


REGISTRY: dict[str, QuerySpec] = {
    "text_stats": QuerySpec(text_stats, _TEXT_STATS_SQL),
    "text_quality": QuerySpec(text_quality, _TEXT_QUALITY_SQL),
    "text_langid": QuerySpec(text_langid, _langid_oracle()),
    "text_fingerprint": QuerySpec(text_fingerprint, _FINGERPRINT_SQL),
    "dedup_exact": QuerySpec(dedup_exact, _DEDUP_EXACT_SQL),
    "dedup_ngram_jaccard": QuerySpec(dedup_ngram_jaccard, _DEDUP_JACCARD_SQL),
    "dedup_minhash_lsh": QuerySpec(dedup_minhash_lsh, None, "murmur-based sketch"),
    "dedup_simhash": QuerySpec(dedup_simhash, None, "murmur-based sketch"),
}
