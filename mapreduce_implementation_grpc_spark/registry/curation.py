"""Registry queries for corpus curation and filtering (decontamination,
sketches, PII, mixing, BM25 retrieval, PageRank), each with its DuckDB
oracle.
"""

from __future__ import annotations

from .shared import (
    DataFrame,
    F,
    PII_PATTERNS,
    SparkSession,
    Window,
    _SQL_TOKS,
    _SQL_WORDCOUNT,
    _bpe_compression_sql,
    _bpe_pack_sql,
    _pagerank_ctes,
    analytics,
    corpus_from_documents,
    decontaminate,
    eval_overlap_report,
    load_table,
    materialize,
    mixture_sample,
    normalized_col,
    pii_redact,
    repetition_stats,
    shard_manifest,
    tokenize,
    with_token_array,
    word_count,
)
from .text_shaping import BPE_MERGES
from .oracle_builders import (
    _duplicate_spans_sql,
    _temperature_sql,
)
from .declare import query

PAGERANK_ITERS = 3
PPR_SEGMENT = "BUILDING"


# ---------------------------------------------------------------------------
# curation / filtering (decontamination, quality, PII, mixing)
# ---------------------------------------------------------------------------


@query("decontaminate", oracle=f"""
      WITH toks AS ({_SQL_TOKS}),
      sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, len(toks) - 4),
                 i -> array_to_string(list_slice(toks, i, i + 5), ' ')))) AS sh
        FROM toks WHERE len(toks) >= 6),
      ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 20 = 0),
      tr AS (SELECT doc_id, sh FROM sh WHERE doc_id % 20 <> 0)
      SELECT tr.doc_id, count(*) AS n_shared_ngrams
      FROM tr JOIN ev USING (sh) GROUP BY tr.doc_id
    """)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs (doc_id % 20 != 0)
    sharing any 6-gram with the held-out eval slice (doc_id % 20 == 0),
    with the distinct shared-n-gram count. Eval n-gram set broadcast;
    corpus side never shuffles before the match."""
    docs = load_table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 20 == 0)
    train_docs = docs.filter(F.col("doc_id") % 20 != 0)
    return decontaminate(train_docs, eval_docs)


@query("cms_heavy_hitters", oracle=f"""
      WITH wc AS ({_SQL_WORDCOUNT}),
      h AS (SELECT word, cnt,
                   CAST(concat('0x', substr(md5(word), 1, 15)) AS BIGINT) AS hv
            FROM wc),
      {", ".join(
        f"s{j} AS (SELECT (hv >> {10 * j}) % 1024 AS b{j}, "
        f"CAST(sum(cnt) AS BIGINT) AS c{j} FROM h GROUP BY 1)"
        for j in range(4))},
      top AS (SELECT word, cnt, hv FROM h ORDER BY cnt DESC, word ASC LIMIT 20)
      SELECT top.word, top.cnt AS true_cnt,
             least(s0.c0, s1.c1, s2.c2, s3.c3) AS est_cnt,
             least(s0.c0, s1.c1, s2.c2, s3.c3) - top.cnt AS overcount
      FROM top
      JOIN s0 ON s0.b0 = (top.hv >> 0) % 1024
      JOIN s1 ON s1.b1 = (top.hv >> 10) % 1024
      JOIN s2 ON s2.b2 = (top.hv >> 20) % 1024
      JOIN s3 ON s3.b3 = (top.hv >> 30) % 1024
    """)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-sketch frequency estimates for the top-20 corpus
    words, next to the truth (operators/cms.py): est >= true always
    -- the one-sided CMS guarantee, test-pinned; the oracle checks
    the approximate path itself."""
    from ..operators.cms import cms_heavy_hitters

    return cms_heavy_hitters(word_count(corpus_from_documents(spark, sf_dir)))


@query("cms_screened_wordcount", oracle=f"""
  WITH wc AS ({_SQL_WORDCOUNT}),
  h AS (SELECT word, cnt,
               CAST(concat('0x', substr(md5(word), 1, 15)) AS BIGINT) AS hv
        FROM wc),
  {", ".join(
    f"s{j} AS (SELECT (hv >> {10 * j}) % 1024 AS b{j}, "
    f"CAST(sum(cnt) AS BIGINT) AS c{j} FROM h GROUP BY 1)"
    for j in range(4))},
  n AS (SELECT CAST(sum(c0) AS BIGINT) // 500 AS thr FROM s0),
  p AS (SELECT word, cnt, least(s0.c0, s1.c1, s2.c2, s3.c3) AS est_cnt
        FROM h
        JOIN s0 ON s0.b0 = (h.hv >> 0) % 1024
        JOIN s1 ON s1.b1 = (h.hv >> 10) % 1024
        JOIN s2 ON s2.b2 = (h.hv >> 20) % 1024
        JOIN s3 ON s3.b3 = (h.hv >> 30) % 1024)
  SELECT word, cnt AS true_cnt, est_cnt, cnt >= n.thr AS confirmed
  FROM p, n WHERE est_cnt >= n.thr
  ORDER BY true_cnt DESC, word ASC
""")
def q_cms_screened_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase sketch-screened exact heavy hitters: a map-side CMS
    pass finds candidate words (threshold = token total div 500,
    read off the sketch itself), and only candidate occurrences ever
    shuffle on the word key -- the 100 TB replacement for a
    full-vocabulary groupBy when only frequent words matter. CMS
    one-sidedness guarantees zero false negatives; false positives
    appear as confirmed=false rows (operators/cms.py)."""
    from ..operators.cms import cms_screened_wordcount

    corpus = corpus_from_documents(spark, sf_dir)
    tokens = tokenize(corpus.select(normalized_col("line").alias("norm")), "norm")
    return cms_screened_wordcount(tokens)


@query("kmv_user_overlap", oracle="""
  WITH ap AS (SELECT DISTINCT CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
              FROM events WHERE event_type = 'purchase'),
  bs AS (SELECT DISTINCT CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         FROM customer WHERE c_mktsegment = 'BUILDING'),
  ka AS (SELECT h FROM ap ORDER BY h LIMIT 256),
  kb AS (SELECT h FROM bs ORDER BY h LIMIT 256),
  ku AS (SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb)
         ORDER BY h LIMIT 256),
  st AS (SELECT max(h) AS hk, count(*) AS kct FROM ku),
  cm AS (SELECT count(*) AS cj FROM ku
         WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)),
  ex AS (SELECT count(*) AS exact_intersection FROM ap
         WHERE h IN (SELECT h FROM bs)),
  r AS (SELECT CASE WHEN kct < 256 THEN CAST(kct AS DOUBLE)
               ELSE round(255.0 * 1152921504606846976 / hk, 6) END AS est_union,
               kct, cj, exact_intersection
        FROM st, cm, ex),
  sel AS (SELECT est_union,
                 round(cj / CAST(kct AS DOUBLE), 6) AS est_jaccard,
                 round(cj * est_union / kct, 6) AS est_intersection,
                 exact_intersection
          FROM r)
  SELECT est_union, est_jaccard, est_intersection, exact_intersection,
         round((est_intersection - exact_intersection)
               / nullif(CAST(exact_intersection AS DOUBLE), 0), 6) AS rel_err
  FROM sel
""")
def q_kmv_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-operation sketch: estimate the overlap between
    purchasing users (events) and BUILDING-segment customer keys
    (customer) from two 256-row k-min-value summaries
    (operators/kmv.py -- HLL can count but not intersect; KMV
    sketches compose), with the exact intersection and relative
    error alongside. A CROSS-TABLE set intersection with a
    non-trivial Jaccard, and both estimator branches exercised
    across SFs: below 256 union values the sketch IS the set
    (exact), above it the (k-1)*2^60/h_k estimator engages."""
    from ..operators.kmv import kmv_intersection_report

    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("user_id")
    b = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    return kmv_intersection_report(a, b, F.col("user_id"), F.col("c_custkey"))


@query("bloom_pruned_revenue", oracle="""
  SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
              * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
         count(*) AS n_items
  FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                       WHERE o_orderpriority = '1-URGENT'
                         AND o_custkey IN (SELECT c_custkey FROM customer
                                           WHERE c_mktsegment = 'BUILDING'))
""")
def q_bloom_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter pattern, built manually and proven exact:
    revenue of lineitems belonging to URGENT orders of
    BUILDING-segment customers. The qualifying orderkey set (~4% of
    orders) is compacted to a 2^17-bit Bloom bitmap (4096 rows,
    broadcast); the lineitem side probes it MAP-SIDE
    (operators/bloom.bloom_prune) so only survivors -- members plus
    ~0.4% false positives -- enter the exact semi join's shuffle. At
    100 TB this is the difference between shuffling every lineitem
    and shuffling the selected few; the oracle is the PLAIN semi-join
    SQL, so the hash match proves the pruned plan drops nothing and
    the exact join cleans every false positive."""
    from ..operators.bloom import bloom_bitmap, bloom_prune

    orders = load_table(spark, sf_dir, "orders")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    keys = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .join(cust, "o_custkey", "left_semi")
        .select("o_orderkey")
        .transform(materialize)  # bitmap build + exact join share it
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    bitmap = bloom_bitmap(keys.select(F.col("o_orderkey").cast("string").alias("sh")))
    survivors = bloom_prune(li, F.col("l_orderkey").cast("string"), bitmap)
    exact = survivors.join(
        keys, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi"
    )
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)")
    )
    return exact.agg(
        analytics._dec2dbl(F.sum(revenue)).alias("revenue"),
        F.count("*").alias("n_items"),
    )


@query("hll_users_portable", oracle="""
      WITH h AS (
        SELECT event_type, user_id,
               CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        FROM events),
      r AS (SELECT event_type, hv % 256 AS reg,
                   CASE WHEN (hv >> 8) = 0 THEN 53
                        ELSE 53 - length(bin(hv >> 8)) END AS rho
            FROM h),
      m AS (SELECT event_type, reg, max(rho) AS mj FROM r GROUP BY 1, 2),
      g AS (SELECT event_type, count(*) AS n_filled,
                   CAST(sum(1::BIGINT << CAST(53 - mj AS INTEGER)) AS BIGINT) AS s_filled
            FROM m GROUP BY 1),
      e AS (SELECT event_type, n_filled,
                   4.2399330249068963e+20
                   / CAST(s_filled + (256 - n_filled) * (1::BIGINT << 53) AS DOUBLE) AS e_raw
            FROM g),
      est AS (SELECT event_type,
                     round(CASE WHEN e_raw <= 640.0 AND n_filled < 256
                           THEN 256.0 * ln(256.0 / CAST(256 - n_filled AS DOUBLE))
                           ELSE e_raw END, 6) AS est_distinct
              FROM e),
      ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_distinct
             FROM events GROUP BY 1)
      SELECT est.event_type, est_distinct, exact_distinct,
             round((est_distinct - exact_distinct) / exact_distinct, 6) AS rel_err
      FROM est JOIN ex USING (event_type)
    """)
def q_hll_users_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog distinct-user estimate per event type,
    reported NEXT TO the exact count with the relative error -- the
    oracle-checkable twin of approx_distinct_users (whose Spark-
    internal HLL++ hash makes it rows-only by necessity). See
    operators/hll.py for the exact-integer register-sum design."""
    from ..operators.hll import hll_estimate

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    est = hll_estimate(ev, "event_type", "user_id")
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "est_distinct",
        "exact_distinct",
        F.round(
            (F.col("est_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            6,
        ).alias("rel_err"),
    )


def _hll_est_sql(regs_rel: str, key_sel: str, key_group: str, grain: str, gkey: str) -> str:
    """Estimate CTE chain over a register relation [*, reg, mj] --
    the same harmonic-sum/linear-counting formula as the Spark
    estimate_from_registers, emitted once per rollup grain."""
    group = f"GROUP BY {key_group}" if key_group else ""
    return f"""
      (SELECT '{grain}' AS grain, {gkey} AS gkey,
              round(CASE WHEN e_raw <= 640.0 AND n_filled < 256
                    THEN 256.0 * ln(256.0 / CAST(256 - n_filled AS DOUBLE))
                    ELSE e_raw END, 6) AS est_distinct
       FROM (SELECT {key_sel} n_filled,
                    4.2399330249068963e+20
                    / CAST(s_filled + (256 - n_filled) * (1::BIGINT << 53) AS DOUBLE) AS e_raw
             FROM (SELECT {key_sel} count(*) AS n_filled,
                          CAST(sum(1::BIGINT << CAST(53 - mj AS INTEGER)) AS BIGINT) AS s_filled
                   FROM {regs_rel} {group}) g) e)
    """


@query("hll_user_rollup", oracle=f"""
  WITH h AS (
    SELECT event_type, CAST(ts AS DATE) AS d, user_id,
           CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
    FROM events),
  r AS (SELECT event_type, d, hv % 256 AS reg,
               CASE WHEN (hv >> 8) = 0 THEN 53
                    ELSE 53 - length(bin(hv >> 8)) END AS rho
        FROM h),
  dm AS (SELECT event_type, d, reg, max(rho) AS mj FROM r GROUP BY 1, 2, 3),
  tm AS (SELECT event_type, reg, max(mj) AS mj FROM dm GROUP BY 1, 2),
  am AS (SELECT reg, max(mj) AS mj FROM dm GROUP BY 1),
  ests AS (
    SELECT * FROM {_hll_est_sql("tm", "event_type,", "event_type", "event_type", "event_type")}
    UNION ALL
    SELECT * FROM {_hll_est_sql("am", "", "", "total", "'*'")}
  ),
  ex AS (SELECT event_type AS gkey, count(DISTINCT user_id) AS exact_distinct
         FROM events GROUP BY 1
         UNION ALL
         SELECT '*', count(DISTINCT user_id) FROM events)
  SELECT grain, gkey, est_distinct, exact_distinct,
         round((est_distinct - exact_distinct) / exact_distinct, 6) AS rel_err
  FROM ests JOIN ex USING (gkey)
  ORDER BY grain, gkey
""")
def q_hll_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style sketch rollup: ONE pass over events builds a
    per-(event_type, day) HLL register table -- the stored fine-grain
    continuous aggregate -- and every coarser grain (per event_type,
    grand total) derives from that table by reg-wise max alone,
    never re-reading raw rows. max is associative/commutative, so the
    merged registers are bit-identical to a direct sketch (pinned by
    the mergeability test); this is the layout a 1000-executor
    daily-rollup pipeline stores and serves. Output: [grain, gkey,
    est_distinct, exact_distinct, rel_err] -- estimate quality
    measured, not asserted."""
    from ..operators.hll import (
        estimate_from_registers,
        hll_registers,
        merge_registers,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("d"), "user_id"
    )
    day_regs = materialize(hll_registers(ev, ["event_type", "d"], "user_id"))
    t_est = estimate_from_registers(
        merge_registers(day_regs, ["event_type"]), ["event_type"]
    ).select(
        F.lit("event_type").alias("grain"),
        F.col("event_type").alias("gkey"),
        "est_distinct",
    )
    a_est = estimate_from_registers(merge_registers(day_regs, []), []).select(
        F.lit("total").alias("grain"), F.lit("*").alias("gkey"), "est_distinct"
    )
    exact = (
        ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("exact_distinct"))
        .select(F.col("event_type").alias("gkey"), "exact_distinct")
        .unionByName(
            ev.agg(F.count_distinct("user_id").alias("exact_distinct")).select(
                F.lit("*").alias("gkey"), "exact_distinct"
            )
        )
    )
    return (
        t_est.unionByName(a_est)
        .join(exact, "gkey")
        .select(
            "grain",
            "gkey",
            "est_distinct",
            "exact_distinct",
            F.round(
                (F.col("est_distinct") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("grain", "gkey")
    )


@query("copurchase_butterflies", oracle=f"""
  WITH e AS (SELECT DISTINCT o_custkey AS custkey, l_suppkey AS suppkey
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             WHERE o_custkey IN (SELECT c_custkey FROM customer
                                 WHERE c_mktsegment = '{PPR_SEGMENT}')),
  w AS (SELECT a.custkey AS c1, b.custkey AS c2
        FROM e a JOIN e b ON a.suppkey = b.suppkey AND a.custkey < b.custkey),
  s AS (SELECT c1, c2, count(*) AS shared_suppliers
        FROM w GROUP BY 1, 2 HAVING count(*) >= 2)
  SELECT c1 AS custkey_1, c2 AS custkey_2, shared_suppliers,
         CAST(shared_suppliers * (shared_suppliers - 1) / 2 AS BIGINT) AS butterflies
  FROM s
  ORDER BY shared_suppliers DESC, c1, c2
  LIMIT 50
""")
def q_copurchase_butterflies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite butterfly support among BUILDING-segment customers:
    top pairs by shared suppliers (see operators/graph_motifs.py for
    the wedge-join algorithm and the degree/segment scale knobs).
    Exact within the segment (max_degree=None) so the naive
    all-pairs oracle hash-checks the wedge join; the segment scope
    is what keeps the synthetic graph's ~4%-dense supplier degrees
    (measured: full exact = ~170 M wedges at sf0.1) out of the
    per-round gates."""
    from ..operators.graph_motifs import copurchase_butterflies

    return copurchase_butterflies(spark, sf_dir, segment=PPR_SEGMENT)


@query("bloom_decontaminate", oracle=f"""
      WITH toks AS ({_SQL_TOKS}),
      sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, len(toks) - 4),
                 i -> array_to_string(list_slice(toks, i, i + 5), ' ')))) AS sh
        FROM toks WHERE len(toks) >= 6),
      ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 20 = 0),
      tr AS (SELECT DISTINCT doc_id, sh FROM sh WHERE doc_id % 20 <> 0),
      evp AS (SELECT CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT) AS h FROM ev),
      bits AS (
        SELECT p >> 5 AS slot, bit_or(1::BIGINT << CAST(p % 32 AS INTEGER)) AS bits
        FROM (SELECT unnest([h % 131072, (h >> 17) % 131072, (h >> 34) % 131072]) AS p FROM evp)
        GROUP BY 1),
      trp AS (SELECT doc_id, sh,
                     CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT) AS h
              FROM tr),
      probed AS (
        SELECT t.doc_id,
               coalesce(((b0.bits >> CAST((t.h % 131072) % 32 AS INTEGER)) % 2) = 1, FALSE)
               AND coalesce(((b1.bits >> CAST(((t.h >> 17) % 131072) % 32 AS INTEGER)) % 2) = 1, FALSE)
               AND coalesce(((b2.bits >> CAST(((t.h >> 34) % 131072) % 32 AS INTEGER)) % 2) = 1, FALSE)
                 AS maybe
        FROM trp t
        LEFT JOIN bits b0 ON b0.slot = (t.h % 131072) >> 5
        LEFT JOIN bits b1 ON b1.slot = ((t.h >> 17) % 131072) >> 5
        LEFT JOIN bits b2 ON b2.slot = ((t.h >> 34) % 131072) >> 5),
      pd AS (SELECT doc_id, max(maybe) AS bloom_hit FROM probed GROUP BY 1),
      ex AS (SELECT DISTINCT tr.doc_id FROM tr JOIN ev USING (sh))
      SELECT pd.bloom_hit, ex.doc_id IS NOT NULL AS exact_hit,
             count(*) AS n_docs
      FROM pd LEFT JOIN ex ON pd.doc_id = ex.doc_id
      GROUP BY 1, 2
    """)
def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination audit (operators/bloom.py): the
    2^17-bit portable bloom probe vs the exact n-gram match, as a
    confusion matrix. The (bloom=false, exact=true) cell is
    structurally impossible (no false negatives); (true, false) is
    the measured FP rate the exact re-check cleans up."""
    from ..operators.bloom import bloom_decontaminate_audit

    docs = load_table(spark, sf_dir, "documents")
    return bloom_decontaminate_audit(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
    )


@query("eval_overlap_report", oracle=f"""
      WITH toks AS ({_SQL_TOKS}),
      sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, len(toks) - 4),
                 i -> array_to_string(list_slice(toks, i, i + 5), ' ')))) AS sh
        FROM toks WHERE len(toks) >= 6),
      ev AS (SELECT doc_id, sh FROM sh WHERE doc_id % 20 = 0),
      tr AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 20 <> 0)
      SELECT ev.doc_id, count(*) AS n_shingles,
             CAST(count(tr.sh) AS BIGINT) AS n_shared,
             round(CAST(count(tr.sh) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
               AS leak_frac
      FROM ev LEFT JOIN tr ON ev.sh = tr.sh
      GROUP BY ev.doc_id
    """)
def q_eval_overlap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-side leakage report: per held-out doc (doc_id % 20 == 0),
    its distinct 6-grams, how many the train slice contains anywhere,
    and the leaked fraction. Corpus side never shuffles (broadcast
    probe -> tiny hit set -> broadcast back)."""
    docs = load_table(spark, sf_dir, "documents")
    return eval_overlap_report(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
    )


@query("fuzzy_word_pairs", oracle=f"""
      WITH t AS ({_SQL_TOKS}),
      u AS (SELECT w, count(*) AS c
            FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1)
      SELECT a.w AS w1, b.w AS w2,
             CAST(levenshtein(a.w, b.w) AS BIGINT) AS dist,
             a.c AS c1, b.c AS c2
      FROM u a JOIN u b ON a.w < b.w
      WHERE levenshtein(a.w, b.w) <= 2
    """)
def q_fuzzy_word_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell-banded fuzzy vocabulary match: every word pair within
    Levenshtein distance 2, found via deletion-neighborhood buckets
    (keyed join, never all-pairs) + exact-distance filter. The oracle
    is the NAIVE all-pairs SQL, so hash parity proves the banding
    loses no pair."""
    from ..operators import bpe
    from ..operators.fuzzy import fuzzy_word_pairs

    return fuzzy_word_pairs(bpe.word_freqs(spark, sf_dir))


@query("bpe_compression_by_lang", oracle=_bpe_compression_sql(BPE_MERGES))
def q_bpe_compression_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-parity report: chars-per-BPE-token by language. The
    fairness metric tokenizer owners publish (a language with a much
    higher ratio is under-served by the learned merges and pays more
    tokens for the same text). Composes the trained encode with a
    one-shuffle rollup; the ratio is a division of two exact counts,
    so it is bit-identical cross-engine."""
    from ..functions.text_stats import with_token_array
    from ..operators import bpe

    merges = bpe.trained_merges(spark, sf_dir, num_merges=BPE_MERGES)
    docs = with_token_array(load_table(spark, sf_dir, "documents"))
    n_bpe = F.aggregate(
        F.transform(F.col("toks"), lambda w: bpe.encoded_len_col(w, merges)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )
    n_chars = F.aggregate(
        F.transform(F.col("toks"), lambda w: F.length(w)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )
    per_doc = docs.select("lang", n_bpe.alias("nb"), n_chars.alias("nc"))
    return (
        per_doc.groupBy("lang")
        .agg(
            F.sum("nc").alias("total_chars"),
            F.sum("nb").alias("total_bpe_tokens"),
        )
        .select(
            "lang",
            "total_chars",
            "total_bpe_tokens",
            F.round(
                F.col("total_chars").cast("double")
                / F.col("total_bpe_tokens").cast("double"),
                6,
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


@query("pack_sequences_bpe", oracle=_bpe_pack_sql(BPE_MERGES))
def q_pack_sequences_bpe(spark: SparkSession, sf_dir: str, budget: int = 256) -> DataFrame:
    """Sequence packing by the TRAINED tokenizer's real token counts
    (train BPE -> measure each doc -> lay head-to-tail into
    budget-token blocks) -- the packing a training job actually does,
    vs pack_sequences' length heuristic. Same scale-safe per-shard
    window; the count column is the map-only encode."""
    from pyspark.sql import Window

    from ..functions.text_stats import with_token_array
    from ..operators import bpe

    merges = bpe.trained_merges(spark, sf_dir, num_merges=BPE_MERGES)
    docs = with_token_array(load_table(spark, sf_dir, "documents"))
    n_bpe = F.aggregate(
        F.transform(F.col("toks"), lambda w: bpe.encoded_len_col(w, merges)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )
    base = docs.select("doc_id", "source", n_bpe.alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    return base.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(prefix / budget).cast("long").alias("bin_id"),
        (prefix % budget).cast("long").alias("offset"),
    )


BM25_QUERY = ("spark", "join", "fast")


def _eq_lit(t: str):
    """Single-arg HOF lambda factory: a two-parameter lambda would be
    treated by PySpark as an (element, index) function."""
    return lambda x: x == F.lit(t)


_SQL_BM25_TOPK = f"""
      WITH t AS ({_SQL_TOKS}),
      pd AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
               CAST(len(list_filter(toks, x -> x = 'spark')) AS BIGINT) AS tf_0,
               CAST(len(list_filter(toks, x -> x = 'join')) AS BIGINT) AS tf_1,
               CAST(len(list_filter(toks, x -> x = 'fast')) AS BIGINT) AS tf_2
             FROM t),
      st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
              CAST(sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_0,
              CAST(sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_1,
              CAST(sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_2
             FROM pd)
      SELECT doc_id, round(CAST(0.0 AS DOUBLE) + (round(ln((CAST(n_docs AS DOUBLE) - CAST(df_0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(df_0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)), 9) * (CAST(tf_0 AS DOUBLE) * CAST(2.2 AS DOUBLE)) / (CAST(tf_0 AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + (CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE)) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) + round(ln((CAST(n_docs AS DOUBLE) - CAST(df_1 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(df_1 AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)), 9) * (CAST(tf_1 AS DOUBLE) * CAST(2.2 AS DOUBLE)) / (CAST(tf_1 AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + (CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE)) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) + round(ln((CAST(n_docs AS DOUBLE) - CAST(df_2 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(df_2 AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)), 9) * (CAST(tf_2 AS DOUBLE) * CAST(2.2 AS DOUBLE)) / (CAST(tf_2 AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + (CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE)) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))), 6) AS bm25
      FROM pd CROSS JOIN st
      ORDER BY bm25 DESC, doc_id ASC LIMIT 50
    """


@query("bm25_topk", oracle=_SQL_BM25_TOPK)
def q_bm25_topk(spark: SparkSession, sf_dir: str, k1: float = 1.2,
                b: float = 0.75, topn: int = 50) -> DataFrame:
    """Lexical retrieval: Okapi BM25 top-k for a fixed query -- the
    sparse complement of the ANN dense-retrieval suite (hybrid search
    runs both and fuses). Plan: one corpus pass computes per-doc term
    frequencies and length from the materialized token array; the
    collection statistics (N, per-term df, avg doc length) are ONE
    tiny aggregate broadcast back (scalar-subquery pattern), so there
    is no shuffle proportional to the corpus beyond the single stats
    aggregate; top-k is TakeOrderedAndProject.

    Cross-engine exactness: idf = ln((N - df + 0.5)/(df + 0.5) + 1)
    is rounded to 9dp (the lm_score ln recipe); every other factor is
    arithmetic on identical doubles; contributions are summed as a
    FIXED-ORDER expression chain (query terms are literals), not an
    aggregation, so no reassociation can occur; final score rounds
    to 6dp."""
    from ..functions.text_stats import with_token_array

    docs = with_token_array(load_table(spark, sf_dir, "documents"))
    toks = F.col("toks")
    per_doc = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        *[
            F.size(F.filter(toks, _eq_lit(t))).cast("long").alias(f"tf_{i}")
            for i, t in enumerate(BM25_QUERY)
        ],
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(BM25_QUERY))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    n = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n
    score = F.lit(0.0)
    for i in range(len(BM25_QUERY)):
        df_ = F.col(f"df_{i}").cast("double")
        idf = F.round(F.log((n - df_ + 0.5) / (df_ + 0.5) + 1.0), 9)
        tf = F.col(f"tf_{i}").cast("double")
        denom = tf + k1 * (1.0 - b + b * F.col("dl").cast("double") / avgdl)
        score = score + idf * (tf * (k1 + 1.0)) / denom
    return (
        scored.select("doc_id", F.round(score, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(topn)
    )


@query("prf_rerank", oracle=f"""
  WITH bm AS (SELECT * FROM ({_SQL_BM25_TOPK})),
  fb AS (SELECT doc_id FROM bm ORDER BY bm25 DESC, doc_id ASC LIMIT 10),
  fv AS (SELECT CAST(e.embedding AS DOUBLE[]) AS dvec
         FROM embeddings e JOIN fb ON e.vec_id = fb.doc_id),
  i AS (SELECT dvec, unnest(range(1, len(dvec) + 1)) AS idx FROM fv),
  f AS (SELECT idx, dvec[idx] AS v FROM i),
  c AS (SELECT idx,
               round(CAST(CAST(sum(CAST(v AS DECIMAL(27,12))) AS VARCHAR) AS DOUBLE)
                     / count(*), 6) AS c
        FROM f GROUP BY idx),
  cv AS (SELECT list(c ORDER BY idx) AS cvec FROM c),
  s AS (SELECT bm.doc_id, bm.bm25,
               round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), cv.cvec), 6)
                 AS cosine
        FROM bm JOIN embeddings e ON e.vec_id = bm.doc_id CROSS JOIN cv),
  r AS (SELECT *, row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS rn FROM s)
  SELECT doc_id, bm25, cosine, CAST(rn AS BIGINT) AS "rank" FROM r WHERE rn <= 20
""")
def q_prf_rerank(spark: SparkSession, sf_dir: str, n_feedback: int = 10,
                 topn: int = 20) -> DataFrame:
    """Pseudo-relevance-feedback rerank (Rocchio-style): BM25
    retrieves 50 candidates; the top n_feedback docs' embedding
    CENTROID becomes the dense pseudo-query; candidates re-rank by
    cosine to it -- the classic sparse-retrieve -> dense-rerank
    composition (the other fusion besides hybrid_rrf_topk's rank
    fusion).

    Scale: the candidate list is 50 rows (lazily checkpointed so the
    corpus-wide BM25 pass runs once, not once per consumer); the
    centroid is a 64-row decimal-exact aggregate of 10 vectors folded
    to a 1-row array and broadcast; the rerank window orders 50 rows.
    Nothing corpus-sized shuffles beyond BM25's own stats aggregate.

    Exactness: centroid dims use the label_centroids recipe
    (DECIMAL(27,12) sums -> string-route -> /n -> round 6); cosine is
    the element-order fold that is bit-identical to DuckDB's
    list_cosine_similarity (functions/vectors.py)."""
    from pyspark.sql import Window

    from ..functions.vectors import dot_col, l2_norm_col

    cand = materialize(q_bm25_topk(spark, sf_dir))
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    fb = cand.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(n_feedback)
    dims = (
        fb.join(emb, "doc_id")
        .select(F.posexplode("embedding").alias("pos", "v"))
        .groupBy("pos")
        .agg(
            F.round(
                F.sum(F.col("v").cast("decimal(27,12)")).cast("string").cast("double")
                / F.count("*"),
                6,
            ).alias("c")
        )
    )
    cvec = dims.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda x: x["c"]
        ).alias("cvec")
    )
    scored = (
        cand.join(emb, "doc_id")
        .crossJoin(F.broadcast(cvec))
        .select(
            "doc_id",
            "bm25",
            F.round(
                dot_col("embedding", "cvec")
                / (l2_norm_col("embedding") * l2_norm_col("cvec")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.orderBy(F.desc("cosine"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topn)
    )


@query("segment_affinity_suppliers", oracle=f"""
      WITH {_pagerank_ctes(PAGERANK_ITERS, seeds_sql=(
          "SELECT DISTINCT 'c' || c_custkey AS node FROM customer "
          "WHERE c_mktsegment = '" + PPR_SEGMENT + "'"))}
      SELECT node, round(r, 6) AS "rank"
      FROM r{PAGERANK_ITERS} WHERE node LIKE 's%'
      ORDER BY r DESC, node ASC LIMIT 50
    """)
def q_segment_affinity_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank: teleport mass on one market segment's
    customers; the top-50 SUPPLIER nodes by resulting rank are the
    suppliers most proximate to that segment in the purchase graph --
    graph-walk recommendation, oracle-exact (unrolled CTEs with a
    seeded teleport)."""
    from ..operators.pagerank import personalized_pagerank

    cust = load_table(spark, sf_dir, "customer")
    seeds = cust.filter(F.col("c_mktsegment") == PPR_SEGMENT).select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("node")
    )
    r = personalized_pagerank(spark, sf_dir, seeds, iters=PAGERANK_ITERS)
    return (
        r.filter(F.col("node").startswith("s"))
        .orderBy(F.desc("r"), F.asc("node"))
        .limit(50)
        .select("node", F.round("r", 6).alias("rank"))
    )


@query("purchase_pagerank", oracle=f"""
      WITH {_pagerank_ctes(PAGERANK_ITERS)}
      SELECT node, round(r, 6) AS "rank"
      FROM r{PAGERANK_ITERS} ORDER BY r DESC, node ASC LIMIT 100
    """)
def q_purchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (3 power iterations) over the customer-supplier
    purchase graph; top-100 authority report with deterministic
    tie-break. No driver collects: the whole loop is one fixed-depth
    lazy plan (see operators/pagerank.py for the scale notes)."""
    from ..operators.pagerank import pagerank

    r = pagerank(spark, sf_dir, iters=PAGERANK_ITERS)
    return (
        r.orderBy(F.desc("r"), F.asc("node"))
        .limit(100)
        .select("node", F.round("r", 6).alias("rank"))
    )


@query("repetition_stats", oracle=f"""
      WITH toks AS ({_SQL_TOKS}),
      t AS (SELECT doc_id, unnest(toks) AS tok,
                   unnest(range(1, len(toks) + 1)) AS pos
            FROM toks WHERE len(toks) > 0),
      tc AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
      ts AS (SELECT doc_id, sum(c) AS n_tokens, max(c) AS top_tok FROM tc GROUP BY 1),
      bgc AS (SELECT doc_id, g, count(*) AS c FROM (
                SELECT doc_id,
                       tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS g
                FROM t) WHERE g IS NOT NULL GROUP BY 1, 2),
      bs AS (SELECT doc_id, max(c) AS top_bg FROM bgc GROUP BY 1),
      runs AS (SELECT doc_id, run_id, count(*) AS run_len FROM (
                 SELECT doc_id, pos,
                        sum(CASE WHEN prev IS NULL OR prev <> tok THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
                 FROM (SELECT doc_id, pos, tok,
                              lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
                       FROM t)) GROUP BY 1, 2),
      rs AS (SELECT doc_id, max(run_len) AS max_run_len FROM runs GROUP BY 1)
      SELECT d.doc_id,
             CAST(coalesce(ts.n_tokens, 0) AS BIGINT) AS n_tokens,
             round(coalesce(ts.top_tok, 0) / greatest(coalesce(ts.n_tokens, 0), 1), 6)
               AS top_token_frac,
             round(coalesce(bs.top_bg, 0) / greatest(coalesce(ts.n_tokens, 0) - 1, 1), 6)
               AS top_bigram_frac,
             CAST(coalesce(rs.max_run_len, 0) AS BIGINT) AS max_run_len
      FROM documents d
      LEFT JOIN ts USING (doc_id) LEFT JOIN bs USING (doc_id) LEFT JOIN rs USING (doc_id)
    """)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics (top-token / top-bigram
    fraction, longest same-token run) per document."""
    return repetition_stats(load_table(spark, sf_dir, "documents"))


@query("temperature_sample", oracle=_temperature_sql())
def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mT5-style temperature (alpha=0.5) language rebalancing with
    content-hash membership -- exact cross-engine kept set."""
    from ..operators.curation import temperature_sample

    return temperature_sample(load_table(spark, sf_dir, "documents"))


@query("duplicate_spans", oracle=_duplicate_spans_sql())
def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans (Lee et al. ACL 2022 shape):
    maximal per-doc token intervals covered by corpus-repeated
    8-gram windows."""
    from ..operators.curation import duplicate_spans

    return duplicate_spans(load_table(spark, sf_dir, "documents"))


def _pii_oracle_sql() -> str:
    """Generate the pii_redact oracle FROM PII_PATTERNS so the SQL
    can never drift from the Spark pipeline: same patterns, same
    order, counts taken on the progressively-redacted string."""
    ctes = ["s0 AS (SELECT doc_id, text AS t0 FROM documents)"]
    for i, (name, pat, repl) in enumerate(PII_PATTERNS, 1):
        p = pat.replace("'", "''")
        ctes.append(
            f"s{i} AS (SELECT * EXCLUDE (t{i - 1}),\n"
            f"  CAST(len(regexp_extract_all(t{i - 1}, '{p}')) AS BIGINT) AS n_{name},\n"
            f"  regexp_replace(t{i - 1}, '{p}', '{repl}', 'g') AS t{i} FROM s{i - 1})"
        )
    last = f"t{len(PII_PATTERNS)}"
    counts = ", ".join(f"n_{name}" for name, _, _ in PII_PATTERNS)
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT doc_id, {counts}, {last} AS redacted, "
        f"CAST(length({last}) AS BIGINT) AS redacted_len FROM s{len(PII_PATTERNS)}"
    )


@query("pii_redact", oracle=_pii_oracle_sql())
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: typed placeholder substitution with
    per-type counts. The synthetic corpus is PII-free, so this is an
    identity pass here (counts 0) -- the crafted-fixture tests in
    tests/test_curation.py exercise the actual redaction; the oracle
    proves both engines run the identical regex pipeline."""
    return pii_redact(load_table(spark, sf_dir, "documents"))


@query("token_budget_mixture", oracle=f"""
      WITH q AS (
        SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_toks, round(
          least(len(toks) / 50.0, 1.0) * 0.35
          + (1.0 - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
                   / greatest(length(text), 1)) * 0.25
          + (len(list_distinct(toks)) / greatest(len(toks), 1)) * 0.2
          + least(len(list_filter(toks, t -> t IN ('the','a','and','of','is'))) / 5.0, 1.0) * 0.2
        , 6) AS quality
        FROM ({_SQL_TOKS})),
      c AS (
        SELECT *, coalesce(sum(n_toks) OVER (
                 PARTITION BY lang ORDER BY quality DESC, doc_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        FROM q)
      SELECT lang, count(*) AS n_docs_kept,
             CAST(sum(n_toks) AS BIGINT) AS tokens_kept,
             min(quality) AS min_quality
      FROM c WHERE cum_before < 3000 GROUP BY lang
    """)
def q_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture: fill each language's 3000-token budget
    greedily with its highest-quality docs (per-group audit rows);
    the rate-based complements are mixture_sample/temperature_sample.
    Integer cumulative window over a 6dp-rounded quality key -> the
    exact kept set is oracle-checked."""
    from ..operators.curation import token_budget_mixture

    return token_budget_mixture(load_table(spark, sf_dir, "documents"))


@query("mixture_sample", oracle="""
      WITH c AS (SELECT lang, count(*) AS n_g FROM documents GROUP BY 1),
      m AS (SELECT min(n_g) AS min_n FROM c)
      SELECT d.doc_id, d.lang, d.source
      FROM documents d JOIN c USING (lang), m
      WHERE CAST(concat('0x', substr(md5(trim(lower(
              regexp_replace(d.text, '[^a-zA-Z0-9\\s]', '', 'g')))), 1, 8)) AS BIGINT)
            / 4294967296.0 < min_n / n_g
    """)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-balanced sampling: down-sample each language to the
    smallest language's size via deterministic content hashing."""
    return mixture_sample(load_table(spark, sf_dir, "documents"))


@query("shard_manifest", oracle=f"""
      WITH t AS (SELECT doc_id, len(toks) AS n_toks FROM ({_SQL_TOKS})),
      b AS (SELECT max(doc_id) AS max_id FROM documents)
      SELECT CAST(floor(doc_id / ceil((max_id + 1) / 8.0)) AS BIGINT) AS shard_id,
             count(*) AS n_docs,
             CAST(sum(n_toks) AS BIGINT) AS n_tokens,
             min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      FROM t, b GROUP BY 1
    """)
def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-shard manifest for a sharded training-data export:
    per-shard doc/token totals and doc_id bounds."""
    return shard_manifest(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------


@query("documents_sample", oracle="""
      SELECT doc_id, lang, source FROM documents
      WHERE substr(md5(trim(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))), 1, 1)
            IN ('0', '1')
    """)
def q_documents_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash sampling (~1/8 of docs): the
    reproducible train/test-split primitive -- membership depends only
    on content, never on partitioning, ordering, or RNG state."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(normalized_col("text")), 1, 1)
    return docs.filter(bucket.isin("0", "1")).select("doc_id", "lang", "source")
