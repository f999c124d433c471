"""Corpus indexing operators over `documents`: TF-IDF keyword extraction
and inverted-index construction — the retrieval-side half of a
training-data pipeline (Hive ships Rank/TF-IDF-style examples as
contrib UDAFs + GenericUDTFGetSplits retrieval surface; here they are
first-class shuffles).

Scale design (the point at 100 TB):
- tokenize via explode — linear, no driver state, whole-stage codegen'd
- document frequency = agg over (doc, term) pairs, shuffled on term;
  the resulting vocab table is orders of magnitude smaller than the
  corpus, so it BROADCASTs back onto the term-frequency table (hinted)
- top-k per doc via ROW_NUMBER window: rank-filter pushdown
  (WindowGroupLimit) keeps a size-k heap per partition instead of
  materializing the full sorted postings
- the inverted index groups on the SAME key its window partitioned on,
  so Catalyst reuses the exchange: one shuffle total.

Cross-engine parity: scoring uses integer-exact tf·(N/df) ranking —
`(tf * n_docs) DIV df` — not float `tf·ln(N/df)`: libm `ln` is not
bit-identical across engines, and one boundary-crossing ulp would break
the value-hash gate. The integer score is monotone in tf/df (log damping
omitted), deterministic at any parallelism, and ties break on the term.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hive_spark.operators import QuerySpec, spool_sort, views

_TOKS_SPARK = """
  SELECT doc_id, tok
  FROM documents
  LATERAL VIEW explode(filter(split(text, ' '), x -> x != '')) t AS tok
"""

_TOKS_DUCK = """
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
  FROM documents
"""


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 keywords per document by integer-exact tf·(N/df) score.

    r9 (guide §2.4): df as `COUNT(*) OVER (PARTITION BY tok)` on the tf
    aggregate instead of a second `GROUP BY tok` CTE reference. The CTE
    form inlined tf into BOTH consumers and column pruning made the two
    copies non-identical, so ReuseExchange never fired — the executed
    plan scanned documents 3x and ran the token explode + (doc,tok)
    aggregation twice. The window form derives tf ONCE (2 scans, one
    explode pass); interleaved best-of-5 at the sf1 tier 1.88 -> 1.73s,
    sf0.1 0.93 -> 0.90s, rows identical. Skew note: the tok window
    partition holds df rows per token (bounded by n_docs, same profile
    as text_inverted_index's per-tok ranking window, which this engine
    already ships); for corpora where one token approaches corpus size,
    the skew-safe fallback is the old broadcast-join form at the cost
    of the second derivation pass.

    r10 (VERDICT r9 #7, guide §1.2/§3.3): the final bare ORDER BY is an
    Exchange rangepartitioning whose bound-sampling job re-executes the
    post-shuffle chain under it — here BOTH windows plus the cross join
    (the shuffle writes below are reused, the reduce-side compute is
    not). Spooling the finished top-k rows through a lazy
    localCheckpoint (the deferred r9 trade, now measured decisively)
    lets the sampler and the range shuffle read the spool: interleaved
    best-of-5 at the sf1 tier 1.98 -> 0.51s, 5/5 reps faster, rows
    identical in order. RDD-identity-keyed — a fresh spool per run, no
    cross-run reuse."""
    return spool_sort(_tfidf_topk_unsorted(spark, sf_dir), "doc_id", "rk")


def _tfidf_topk_unsorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_tfidf_topk before the terminal spooled sort — split out so the
    plan-shape tests can assert the scan/join invariants that the spool's
    localCheckpoint hides behind a Scan ExistingRDD stub."""
    views(spark, sf_dir)
    return spark.sql(
        f"""
        WITH toks AS ({_TOKS_SPARK}),
        tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT doc_id, tok, tf,
                 COUNT(*) OVER (PARTITION BY tok) AS df
          FROM tf
        ),
        ranked AS (
          SELECT doc_id, tok, tf, df, (tf * n.n_docs) DIV df AS score
          FROM scored CROSS JOIN n
        ),
        topk AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, tok) AS rk
          FROM ranked
        )
        SELECT doc_id, tok, tf, df, score, CAST(rk AS BIGINT) AS rk
        FROM topk WHERE rk <= 5
        """
    )


_TFIDF_SQL = f"""
WITH toks AS ({_TOKS_DUCK}),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
         CAST(tf.tf * n.n_docs AS BIGINT) // df.df AS score
  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, tok) AS rk
  FROM scored
)
SELECT doc_id, tok, tf, df, score, rk
FROM ranked WHERE rk <= 5
ORDER BY doc_id, rk
"""


def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index: per term, document frequency, total term frequency,
    and the head (first 8 doc_ids) of the postings list. The full postings
    list per term is unbounded at corpus scale, so the operator ranks
    postings inside the term partition and keeps a fixed-size head —
    the groupBy then rides the window's exchange (one shuffle total)."""
    # r10: spool before the terminal sort — the range sampler otherwise
    # re-runs the postings window + aggregate (see operators.spool_sort)
    return spool_sort(_inverted_index_unsorted(spark, sf_dir), "tok")


def _inverted_index_unsorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_inverted_index before the terminal spooled sort (see
    _tfidf_topk_unsorted for why this is split out)."""
    views(spark, sf_dir)
    return spark.sql(
        f"""
        WITH toks AS ({_TOKS_SPARK}),
        tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
        rn AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY tok ORDER BY doc_id) AS rn
          FROM tf
        )
        SELECT tok,
               COUNT(*) AS doc_freq,
               SUM(tf) AS total_tf,
               concat_ws(',', transform(
                 sort_array(collect_list(CASE WHEN rn <= 8 THEN doc_id END)),
                 x -> CAST(x AS STRING))) AS postings_head
        FROM rn
        GROUP BY tok
        """
    )


_INVIDX_SQL = f"""
WITH toks AS ({_TOKS_DUCK}),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
rn AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY tok ORDER BY doc_id) AS rn
  FROM tf
)
SELECT tok,
       COUNT(*) AS doc_freq,
       SUM(tf) AS total_tf,
       COALESCE(string_agg(CASE WHEN rn <= 8 THEN CAST(doc_id AS VARCHAR) END,
                           ',' ORDER BY doc_id), '') AS postings_head
FROM rn
GROUP BY tok
ORDER BY tok
"""


_PAIRS_SPARK = """
WITH d AS (SELECT doc_id, lang, source,
                  array_distinct(filter(split(text, ' '), x -> x != '')) AS toks
           FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM d a JOIN d b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE CAST(size(filter(a.toks, x -> array_contains(b.toks, x))) AS DOUBLE)
      / (size(a.toks) + size(b.toks)
         - size(filter(a.toks, x -> array_contains(b.toks, x)))) >= 0.8
"""

_PAIRS_DUCK = """
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM d a JOIN d b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE)
      / (len(a.toks) + len(b.toks)
         - len(list_filter(a.toks, x -> list_contains(b.toks, x)))) >= 0.8
"""


def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-duplicate clusters: min-label propagation over the
    blocked-Jaccard pair graph until fixpoint — the missing step between
    pairwise near-dup detection and actual dedup decisions (A~B and B~C
    must collapse into ONE cluster even when A!~C directly).

    This is the engine's iterative-algorithm shape (Pregel-style): each
    round is one shuffle join (edges x labels) + one groupBy(min), and
    the loop stops when a 1-row convergence count hits zero. Rounds =
    graph diameter; near-dup clusters are dense, so 2-3 rounds in
    practice. `localCheckpoint` truncates the growing lineage each round
    (on a cluster: `checkpoint` to durable storage instead). The oracle
    computes the same fixpoint declaratively with a recursive CTE —
    min over the reachable set per node."""
    views(spark, sf_dir)
    from pyspark.sql import functions as F

    pairs = spark.sql(_PAIRS_SPARK)
    edges = pairs.union(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).toDF("src", "dst")
    # eager, not operators.spool: these checkpoints bound the lineage an
    # iterative loop grows each round, which a lazy spool would not
    edges = edges.localCheckpoint(eager=True)

    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(20):
        nbr = (
            edges.join(labels, edges["src"] == labels["doc_id"])
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr, "doc_id", "left")
            .select(
                "doc_id",
                F.least("label", F.coalesce("nbr_min", F.col("label"))).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.withColumnRenamed("label", "new")
            .join(labels, "doc_id")
            .filter("new != label")
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError("connected components did not converge in 20 rounds")
    return labels.select("doc_id", F.col("label").alias("cluster_id")).orderBy("doc_id")


_CC_SQL = f"""
WITH RECURSIVE d AS (SELECT doc_id, lang, source,
                            list_distinct(list_filter(string_split(text, ' '),
                                                      x -> x != '')) AS toks
                     FROM documents),
pairs AS ({_PAIRS_DUCK}),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
reach AS (
  SELECT doc_id, doc_id AS r FROM nodes
  UNION
  SELECT e.dst AS doc_id, reach.r FROM reach JOIN edges e ON e.src = reach.doc_id
)
SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id ORDER BY doc_id
"""


def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-n-gram quality gate (the Gopher-rule family): per doc,
    the fraction of trigram occurrences that are repeats of an earlier
    trigram. High repetition marks boilerplate/spam. The ratio never
    materializes as a float — the keep decision is an integer
    cross-multiplication ((n_tri - n_distinct) * 50 <= n_tri, i.e. <=2%
    repeats — sized to the corpus's repetition tail), so the gate is bit-exact at any parallelism. One explode +
    one two-agg groupBy on doc_id; trigram generation is a per-row array
    transform, no shuffle of its own."""
    views(spark, sf_dir)
    return spark.sql(
        """
        WITH toks AS (
          SELECT doc_id, filter(split(text, ' '), x -> x != '') AS t
          FROM documents
        ),
        tri AS (
          SELECT doc_id,
                 explode(transform(sequence(1, size(t) - 2),
                                   i -> concat_ws(' ', slice(t, i, 3)))) AS g
          FROM toks WHERE size(t) >= 3
        )
        SELECT doc_id,
               COUNT(*) AS n_tri,
               COUNT(DISTINCT g) AS n_distinct,
               CAST((COUNT(*) - COUNT(DISTINCT g)) * 50 <= COUNT(*) AS INT) AS keep
        FROM tri
        GROUP BY doc_id
        ORDER BY doc_id
        """
    )


_REPETITION_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t
  FROM documents
),
tri AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 2),
                               i -> array_to_string(t[i:i+2], ' '))) AS g
  FROM toks WHERE len(t) >= 3
)
SELECT doc_id,
       COUNT(*) AS n_tri,
       COUNT(DISTINCT g) AS n_distinct,
       CAST((COUNT(*) - COUNT(DISTINCT g)) * 50 <= COUNT(*) AS INT) AS keep
FROM tri
GROUP BY doc_id
ORDER BY doc_id
"""


def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: scan the corpus for documents containing
    denylisted phrases (here: the leading 3-gram of the first three docs,
    standing in for an eval-set shingle list) and measure what scrubbing
    them removes. The plan is the scale shape that matters: the denylist
    broadcasts (eval shingle lists are tiny next to a corpus) against ONE
    linear scan; per-hit char deltas come from exact substring replace,
    so the oracle hash-matches. For large denylists, swap the contains
    join for the inverted-index bucket join (`text_inverted_index`)."""
    views(spark, sf_dir)
    return spark.sql(
        """
        WITH deny AS (
          SELECT doc_id AS bench_id,
                 array_join(slice(filter(split(text, ' '), x -> x != ''), 1, 3), ' ')
                   AS phrase
          FROM documents WHERE doc_id < 3
        )
        SELECT /*+ BROADCAST(d) */ d.bench_id, d.phrase,
               COUNT(*) AS n_docs_hit,
               SUM(CAST(doc_id >= 3 AS INT)) AS n_other_docs,
               SUM(CAST(length(t.text) - length(replace(t.text, d.phrase, ''))
                        AS BIGINT)) AS chars_removed
        FROM deny d JOIN documents t ON instr(t.text, d.phrase) > 0
        GROUP BY d.bench_id, d.phrase
        ORDER BY d.bench_id
        """
    )


_DECON_SQL = """
WITH deny AS (
  SELECT doc_id AS bench_id,
         array_to_string(list_filter(string_split(text, ' '), x -> x != '')[1:3], ' ')
           AS phrase
  FROM documents WHERE doc_id < 3
)
SELECT d.bench_id, d.phrase,
       COUNT(*) AS n_docs_hit,
       SUM(CAST(doc_id >= 3 AS INT)) AS n_other_docs,
       SUM(CAST(length(t.text) - length(replace(t.text, d.phrase, '')) AS BIGINT))
         AS chars_removed
FROM deny d JOIN documents t ON strpos(t.text, d.phrase) > 0
GROUP BY d.bench_id, d.phrase
ORDER BY d.bench_id
"""


def text_boilerplate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate removal (the line-dedup gate a web-scale
    corpus needs): split documents into lines, count each normalized
    line's document frequency corpus-wide, and drop lines appearing in
    more than BOILER_MIN_DOCS documents (nav bars, cookie banners,
    license footers repeat across pages). Returns per-doc kept/dropped
    line counts plus remaining length.

    Scale: explode -> distinct(doc, line) -> groupBy(line) is two
    linear shuffles on line hashes; the rejoin broadcasts nothing and
    shuffles only (line -> df) pairs, which is bounded by the distinct
    line count, not the corpus size. No Python in the path.
    """
    views(spark, sf_dir)
    return spark.sql(
        """
        WITH lines AS (
            SELECT doc_id, posexplode(split(text, '\n')) AS (line_no, line)
            FROM documents
        ),
        norm AS (
            SELECT doc_id, line_no, line, lower(trim(line)) AS nline
            FROM lines WHERE length(trim(line)) > 0
        ),
        linedf AS (
            SELECT nline, COUNT(DISTINCT doc_id) AS df
            FROM norm GROUP BY nline
        ),
        tagged AS (
            SELECT n.doc_id, n.line, n.nline, d.df
            FROM norm n JOIN linedf d ON n.nline = d.nline
        )
        SELECT doc_id,
               COUNT(CASE WHEN df <= 3 THEN 1 END) AS kept_lines,
               COUNT(CASE WHEN df > 3 THEN 1 END) AS dropped_lines,
               CAST(SUM(CASE WHEN df <= 3 THEN length(line) ELSE 0 END)
                    AS BIGINT) AS kept_chars
        FROM tagged
        GROUP BY doc_id
        ORDER BY doc_id
        """
    )


_BOILER_SQL = """
WITH lines AS (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS line
    FROM documents
),
norm AS (
    SELECT doc_id, line, lower(trim(line)) AS nline
    FROM lines WHERE length(trim(line)) > 0
),
linedf AS (
    SELECT nline, COUNT(DISTINCT doc_id) AS df
    FROM norm GROUP BY nline
),
tagged AS (
    SELECT n.doc_id, n.line, d.df
    FROM norm n JOIN linedf d ON n.nline = d.nline
)
SELECT doc_id,
       COUNT(CASE WHEN df <= 3 THEN 1 END) AS kept_lines,
       COUNT(CASE WHEN df > 3 THEN 1 END) AS dropped_lines,
       CAST(SUM(CASE WHEN df <= 3 THEN length(line) ELSE 0 END)
            AS BIGINT) AS kept_chars
FROM tagged
GROUP BY doc_id
ORDER BY doc_id
"""



REGISTRY: dict[str, QuerySpec] = {
    "text_boilerplate_filter": QuerySpec(
        text_boilerplate_filter,
        _BOILER_SQL,
        "C4-style line dedup: corpus line-df gate, two linear shuffles",
    ),
    "text_tfidf_topk": QuerySpec(
        text_tfidf_topk,
        _TFIDF_SQL,
        "top-5 keywords/doc, integer-exact tf·(N/df), WindowGroupLimit top-k",
    ),
    "text_inverted_index": QuerySpec(
        text_inverted_index,
        _INVIDX_SQL,
        "term -> (df, total_tf, postings head); groupBy reuses window exchange",
    ),
    "dedup_connected_components": QuerySpec(
        dedup_connected_components,
        _CC_SQL,
        "iterative min-label propagation == recursive-CTE fixpoint",
    ),
    "text_decontaminate": QuerySpec(
        text_decontaminate,
        _DECON_SQL,
        "denylist n-gram scan: broadcast phrases x corpus, exact hit/char counts",
    ),
    "text_repetition_filter": QuerySpec(
        text_repetition_filter,
        _REPETITION_SQL,
        "repeated-trigram quality gate, integer cross-multiplied (no float ratio)",
    ),
}
