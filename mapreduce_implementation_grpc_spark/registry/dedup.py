"""Registry queries for deduplication (exact, MinHash, SimHash, Jaccard,
clusters), each with its DuckDB oracle.
"""

from __future__ import annotations

from .shared import (
    DataFrame,
    F,
    SparkSession,
    Window,
    _SQL_SHINGLES,
    _SQL_TOKS,
    analytics,
    dedup_clusters,
    exact_dedup,
    label_propagation,
    load_table,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    quality_score_col,
    simhash_fp,
    simhash_near_dup_pairs,
    with_token_array,
)
from .oracle_builders import (
    _dedup_clusters_sql,
    _minhash_pairs_sql,
    _simhash_pairs_sql,
    _simhash_sql,
)
from .declare import query


@query("dedup_exact", oracle="""
      SELECT md5(trim(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))) AS fp_md5,
             min(doc_id) AS keep_doc_id, count(*) AS n_dups
      FROM documents GROUP BY 1
    """)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load_table(spark, sf_dir, "documents"))


@query("dedup_keep_best", oracle=f"""
      WITH s AS (
        SELECT doc_id,
               md5(trim(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))) AS fp_md5,
               round(
                 least(len(toks) / 50.0, 1.0) * 0.35
                 + (1.0 - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
                          / greatest(length(text), 1)) * 0.25
                 + (len(list_distinct(toks)) / greatest(len(toks), 1)) * 0.2
                 + least(len(list_filter(toks, t -> t IN ('the','a','and','of','is'))) / 5.0, 1.0) * 0.2
               , 6) AS quality
        FROM ({_SQL_TOKS})),
      r AS (SELECT fp_md5, doc_id, quality,
                   row_number() OVER (PARTITION BY fp_md5 ORDER BY quality DESC, doc_id ASC) AS rn,
                   count(*) OVER (PARTITION BY fp_md5) AS n_dups
            FROM s)
      SELECT fp_md5, doc_id AS keep_doc_id, quality, n_dups FROM r WHERE rn = 1
    """)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked exact dedup (operators/dedup.keep_best_dedup):
    among exact duplicates keep the cleanest raw copy, not the
    smallest id -- one digest-keyed window shuffle."""
    from ..operators.dedup import keep_best_dedup

    return keep_best_dedup(load_table(spark, sf_dir, "documents"))


@query("events_unpivot", oracle="""
      WITH p AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
               CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        FROM events GROUP BY 1)
      UNPIVOT p ON click, error, purchase, signup, view INTO NAME event_type VALUE n
    """)
def q_events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.events_unpivot(spark, sf_dir)


@query("weighted_doc_sample", oracle=f"""
      WITH q AS (
        SELECT doc_id, lang,
               round(
                 least(len(toks) / 50.0, 1.0) * 0.35
                 + (1.0 - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
                          / greatest(length(text), 1)) * 0.25
                 + (len(list_distinct(toks)) / greatest(len(toks), 1)) * 0.2
                 + least(len(list_filter(toks, t -> t IN ('the','a','and','of','is'))) / 5.0, 1.0) * 0.2
               , 6) AS quality,
               round(ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
                        / 4294967297.0), 9) AS lnu
        FROM ({_SQL_TOKS})),
      r AS (SELECT doc_id, lang, quality,
                   row_number() OVER (PARTITION BY lang
                     ORDER BY lnu / quality DESC, doc_id ASC) AS rn
            FROM q WHERE quality > 0)
      SELECT doc_id, lang, quality, CAST(rn AS BIGINT) AS "rank"
      FROM r WHERE rn <= 20
    """)
def q_weighted_doc_sample(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """Deterministic weighted sampling without replacement, per
    stratum (Efraimidis-Spirakis A-ES): each doc draws u from a
    CONTENT-FREE hash of its id (portable md5 -> (0,1)), gets key =
    ln(u)/quality, and the top-k keys per lang are the sample --
    inclusion probability proportional to the quality weight, fully
    reproducible (no RNG state, same sample in any engine or rerun).
    The quality-weighted step up from stratified_sample's uniform
    slices: the curation move 'keep k docs per language, preferring
    clean ones'.

    Exactness: u is exact integer arithmetic; ln runs JVM-side and is
    rounded to 9dp before the /quality division (the BM25-idf
    recipe); zero-quality docs are filtered (their key would be
    -inf). Scale: per-doc map work + one top-k window per lang
    partition."""
    from pyspark.sql import Window

    from ..functions.text_stats import quality_score_col, with_token_array
    from ..operators.dedup import portable_hash32

    docs = with_token_array(load_table(spark, sf_dir, "documents"))
    u = (portable_hash32(F.col("doc_id").cast("string")) + 1).cast("double") / F.lit(
        float(2**32 + 1)
    )
    scored = docs.select(
        "doc_id",
        "lang",
        quality_score_col("text", toks=F.col("toks")).alias("quality"),
        F.round(F.log(u), 9).alias("lnu"),
    ).filter(F.col("quality") > 0)
    key = F.col("lnu") / F.col("quality")
    w = Window.partitionBy("lang").orderBy(F.desc(key), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "lang", "quality", "rank")
    )


@query("events_profile", oracle="""
      SELECT 'event_id' AS "column", count(*) AS n_rows,
             count(*) - count(event_id) AS n_nulls,
             count(DISTINCT event_id) AS n_distinct FROM events
      UNION ALL SELECT 'ts' AS "column", count(*) AS n_rows,
             count(*) - count(ts) AS n_nulls,
             count(DISTINCT ts) AS n_distinct FROM events
      UNION ALL SELECT 'user_id' AS "column", count(*) AS n_rows,
             count(*) - count(user_id) AS n_nulls,
             count(DISTINCT user_id) AS n_distinct FROM events
      UNION ALL SELECT 'event_type' AS "column", count(*) AS n_rows,
             count(*) - count(event_type) AS n_nulls,
             count(DISTINCT event_type) AS n_distinct FROM events
      UNION ALL SELECT 'value' AS "column", count(*) AS n_rows,
             count(*) - count(value) AS n_nulls,
             count(DISTINCT value) AS n_distinct FROM events
      UNION ALL SELECT 'props' AS "column", count(*) AS n_rows,
             count(*) - count(props) AS n_nulls,
             count(DISTINCT props) AS n_distinct FROM events
    """)
def q_events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (the Deequ-style data-quality report): per
    column, row count, null count, and EXACT distinct count -- the
    first thing a pipeline owner asks of a new 100 TB drop. One
    single-column pruned scan + partial-agg'd aggregate per column
    (a single multi-countDistinct aggregate would plan an Expand
    replay of the scan per column -- measured 1.9x slower on the
    waiting_suppliers shape); the approx companion for trillion-row
    tables is approx_distinct_users' HLL path."""
    from functools import reduce

    ev = load_table(spark, sf_dir, "events")
    parts = [
        ev.select(F.col(c)).agg(
            F.lit(c).alias("column"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count(c)).alias("n_nulls"),
            F.countDistinct(c).alias("n_distinct"),
        )
        for c in ("event_id", "ts", "user_id", "event_type", "value", "props")
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


@query("user_activity_decay", oracle="""
      WITH r AS (
        SELECT user_id, CAST(value AS DOUBLE) AS v,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      SELECT user_id, count(*) AS n_events,
             round(CAST(CAST(sum(CAST(round(v * power(0.5, rn), 9) AS DECIMAL(20,9)))
                        AS VARCHAR) AS DOUBLE), 6) AS decayed_value
      FROM r GROUP BY 1
    """)
def q_user_activity_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.user_activity_decay(spark, sf_dir)


@query("user_activity_decay_fold", oracle="""
      SELECT user_id, count(*) AS n_events,
             round(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                            list(CAST(value AS DOUBLE) ORDER BY ts, event_id)),
               (acc, v) -> (acc + v) * 0.5), 6) AS decayed_value
      FROM events GROUP BY 1
    """)
def q_user_activity_decay_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.user_activity_decay_fold(spark, sf_dir)


@query("ngram_jaccard", oracle=f"""
      WITH sh AS ({_SQL_SHINGLES}),
      e AS (SELECT doc_id, unnest(shset) AS s FROM sh),
      rare AS (SELECT s FROM e GROUP BY s HAVING count(*) BETWEEN 2 AND 3),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM e a JOIN rare USING (s) JOIN e b USING (s)
               WHERE a.doc_id < b.doc_id),
      j AS (SELECT doc_a, doc_b,
                   round(len(list_intersect(sa.shset, sb.shset))
                         / len(list_distinct(list_concat(sa.shset, sb.shset))), 6) AS jaccard
            FROM cand
            JOIN sh sa ON sa.doc_id = cand.doc_a
            JOIN sh sb ON sb.doc_id = cand.doc_b)
      SELECT * FROM j WHERE jaccard >= 0.05
    """)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


# oracle = all-pairs scan, restricted ONLY by the size lemma
# (J >= t  =>  t*|b| <= |a| <= |b|/t: intersect <= min size,
# union >= max size, so J <= min/max), which is independent of
# the prefix filter under test -- the hash match still proves the
# prefix candidate generation lossless, and the 4x pair cut keeps
# the quadratic oracle runnable at sweep SFs.
@query("jaccard_prefix_pairs", oracle=f"""
      WITH g AS (SELECT doc_id, shset AS st FROM ({_SQL_SHINGLES})
                 WHERE len(shset) > 0),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              CAST(len(list_intersect(a.st, b.st)) AS BIGINT) AS inter,
              CAST(len(a.st) + len(b.st) - len(list_intersect(a.st, b.st)) AS BIGINT)
                AS union_sz
            FROM g a JOIN g b ON a.doc_id < b.doc_id
            WHERE len(a.st) * 5 >= len(b.st) * 4
              AND len(b.st) * 5 >= len(a.st) * 4)
      SELECT doc_a, doc_b, inter, union_sz,
             round(CAST(inter AS DOUBLE) / union_sz, 6) AS jaccard
      FROM p WHERE 5 * inter >= 4 * union_sz
    """)
def q_jaccard_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity join at Jaccard >= 0.8 via lossless
    prefix filtering (operators/setjoin.py); oracle is the naive
    all-pairs SQL, so the hash match proves completeness."""
    from ..operators.setjoin import jaccard_prefix_pairs

    return jaccard_prefix_pairs(load_table(spark, sf_dir, "documents"))


@query("minhash_near_dup", oracle=_minhash_pairs_sql())
def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_near_dup_pairs(load_table(spark, sf_dir, "documents"))


@query("dedup_clusters", oracle=_dedup_clusters_sql())
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative connected components over the MinHash near-dup
    graph. max_iter=20 so min-label propagation provably reaches the
    transitive closure the DuckDB recursive-CTE oracle computes even
    on long chain components (early exit keeps extra rounds free).
    EAGER: propagation rounds run at DataFrame-construction time."""
    return dedup_clusters(load_table(spark, sf_dir, "documents"), max_iter=20)


# connected components over the SQL-reproducible ngram-Jaccard
# edges: recursive CTE = transitive min-label closure
@query("leakage_safe_split", oracle=f"""
      WITH cl AS ({_dedup_clusters_sql()}),
      assigned AS (
        SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS cluster
        FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)
      SELECT doc_id, cluster,
             CASE WHEN substring(md5(CAST(cluster AS VARCHAR)), 1, 1) = '0'
                  THEN 'val' ELSE 'train' END AS split
      FROM assigned
    """)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split: membership is decided per
    NEAR-DUP CLUSTER, not per document, so two near-duplicates can
    never straddle the split and leak training text into validation
    (the published split-hygiene rule behind benchmark-decontamination
    practice). Singletons form their own cluster (cluster = doc_id);
    the split is a content-free hash of the cluster id -- deterministic
    under any partitioning. ~1/16 of clusters go to val.
    EAGER: cluster propagation runs at build time."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clusters = dedup_clusters(
        load_table(spark, sf_dir, "documents"), max_iter=20
    ).select("doc_id", F.col("cluster").alias("cl"))
    assigned = docs.join(clusters, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("cl"), F.col("doc_id")).alias("cluster")
    )
    bucket = F.substring(F.md5(F.col("cluster").cast("string")), 1, 1)
    return assigned.select(
        "doc_id",
        "cluster",
        F.when(bucket == "0", F.lit("val")).otherwise(F.lit("train")).alias("split"),
    )


@query("dedup_clusters_jaccard", oracle=f"""
      WITH RECURSIVE base AS (
        WITH sh AS ({_SQL_SHINGLES}),
        e AS (SELECT doc_id, unnest(shset) AS s FROM sh),
        rare AS (SELECT s FROM e GROUP BY s HAVING count(*) BETWEEN 2 AND 3),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM e a JOIN rare USING (s) JOIN e b USING (s)
                 WHERE a.doc_id < b.doc_id),
        j AS (SELECT doc_a, doc_b,
                     round(len(list_intersect(sa.shset, sb.shset))
                           / len(list_distinct(list_concat(sa.shset, sb.shset))), 6) AS jaccard
              FROM cand
              JOIN sh sa ON sa.doc_id = cand.doc_a
              JOIN sh sb ON sb.doc_id = cand.doc_b)
        SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.05
      ),
      ee AS (SELECT doc_a, doc_b FROM base
             UNION ALL
             SELECT doc_b AS doc_a, doc_a AS doc_b FROM base),
      cc AS (
        SELECT doc_a AS doc_id, doc_a AS label FROM ee
        UNION
        SELECT ee.doc_a AS doc_id, cc.label FROM ee JOIN cc ON cc.doc_id = ee.doc_b
      )
      SELECT doc_id, min(label) AS cluster FROM cc GROUP BY doc_id
    """)
def q_dedup_clusters_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the EXACT ngram-Jaccard pair graph:
    the same iterative min-label propagation as dedup_clusters, but
    with SQL-reproducible edges -- so the whole iterative algorithm
    is oracle-checked (DuckDB recursive CTE computes the identical
    transitive min-label closure). EAGER: propagation rounds run at
    DataFrame-construction time."""
    pairs = ngram_jaccard_pairs(load_table(spark, sf_dir, "documents")).select(
        "doc_a", "doc_b"
    )
    return label_propagation(pairs, max_iter=20)


@query("incremental_dedup", oracle="""
      WITH fp AS (
        SELECT doc_id,
               md5(trim(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))) AS fp_md5
        FROM documents)
      SELECT doc_id, fp_md5 FROM fp
      WHERE doc_id % 10 = 0
        AND fp_md5 NOT IN (SELECT fp_md5 FROM fp WHERE doc_id % 10 <> 0)
    """)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: treat doc_id % 10 == 0 as today's
    new batch and the rest as the existing corpus; return the novel
    new docs (content fingerprint unseen in the corpus). Anti-join
    keyed on the md5 digest -- uniform, skew-free; corpus side
    reduced to distinct fingerprints before the join."""
    from ..operators.incremental import incremental_dedup_exact

    docs = load_table(spark, sf_dir, "documents")
    new_docs = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return incremental_dedup_exact(new_docs, corpus)


@query("simhash", oracle=_simhash_sql())
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_fp(load_table(spark, sf_dir, "documents"))


@query("simhash_pairs", oracle=_simhash_pairs_sql())
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming <= 8 of 60 bits: close fingerprints only (16+ admits
    vocabulary-level noise on this small-vocab corpus). Recall is
    FULL at this threshold: the banding adapts to max_hamming
    (9 blocks for d<=8, pigeonhole) -- so the banded result equals
    the brute-force all-pairs oracle exactly."""
    return simhash_near_dup_pairs(load_table(spark, sf_dir, "documents"), max_hamming=8)
