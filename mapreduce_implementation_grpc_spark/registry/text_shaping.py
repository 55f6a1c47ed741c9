"""Registry queries for text analysis and training-data shaping (tokens,
BPE, chunking, packing, vocabularies), each with its DuckDB oracle.
"""

from __future__ import annotations

from .shared import (
    DataFrame,
    F,
    SparkSession,
    Window,
    _SQL_SHINGLES,
    _SQL_TOKS,
    _SQL_WORDCOUNT,
    _bpe_ctes,
    _bpe_encode_sql,
    bpe_like_token_count_col,
    corpus_from_documents,
    doc_fingerprint_cols,
    lang_score_cols,
    load_table,
    quality_score_col,
    text_stats_cols,
    with_token_array,
    word_count,
)
from .oracle_builders import _lang_hits_sql
from .declare import query


# ---------------------------------------------------------------------------
# text analysis (extension surface, SURVEY.md section 2b)
# ---------------------------------------------------------------------------


@query("text_stats", oracle=f"""
      SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
        round(len(list_distinct(toks)) / greatest(len(toks), 1), 6) AS distinct_ratio,
        round(coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
              / greatest(len(toks), 1), 6) AS avg_token_len,
        round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
              / greatest(length(text), 1), 6) AS punct_ratio
      FROM ({_SQL_TOKS})
    """)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_token_array(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", *text_stats_cols("text", toks=F.col("toks")))


@query("quality_score", oracle=f"""
      SELECT doc_id, round(
        least(len(toks) / 50.0, 1.0) * 0.35
        + (1.0 - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
                 / greatest(length(text), 1)) * 0.25
        + (len(list_distinct(toks)) / greatest(len(toks), 1)) * 0.2
        + least(len(list_filter(toks, t -> t IN ('the','a','and','of','is'))) / 5.0, 1.0) * 0.2
      , 6) AS quality
      FROM ({_SQL_TOKS})
    """)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_token_array(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", quality_score_col("text", toks=F.col("toks")).alias("quality")
    )


@query("lang_id", oracle=_lang_hits_sql())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_token_array(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", "lang", *lang_score_cols("text", toks=F.col("toks")))


@query("token_counts", oracle=f"""
      SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_ws_tokens,
        CAST(coalesce(list_sum(list_transform(toks,
              t -> CAST(floor((length(t) + 3) / 4.0) AS BIGINT))), 0) AS BIGINT) AS n_bpe_tokens
      FROM ({_SQL_TOKS})
    """)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_token_array(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_ws_tokens"),
        bpe_like_token_count_col("text", toks=F.col("toks")).alias("n_bpe_tokens"),
    )


@query("doc_fingerprint", oracle=f"""
      SELECT doc_id,
        md5(trim(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))) AS fp_md5,
        sha256(trim(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))) AS fp_sha256,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(toks, t -> CAST(ascii(t) * length(t) AS BIGINT))),
          (acc, v) -> (acc * 31 + v) % 1000000007) AS fp_rolling
      FROM ({_SQL_TOKS})
    """)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", *doc_fingerprint_cols("text"))


# ---------------------------------------------------------------------------
# training-data shaping (chunking / packing / vocab)
# ---------------------------------------------------------------------------


@query("inverted_index", oracle=f"""
      WITH s AS ({_SQL_SHINGLES}),
      p AS (SELECT DISTINCT doc_id, unnest(shset) AS phrase FROM s)
      SELECT phrase, count(*) AS df,
             array_to_string(list_sort(list(doc_id)), ',') AS postings
      FROM p GROUP BY phrase HAVING count(*) BETWEEN 2 AND 20
    """)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase inverted index (3-token shingles, df in [2, 20]): the
    search-side generalization of word count -- phrase -> document
    frequency + sorted posting list (comma-joined so the gate can
    hash it). Posting rows are bounded by max_df, so no reducer row
    can blow up on a boilerplate phrase."""
    from ..functions.indexing import inverted_index

    return inverted_index(load_table(spark, sf_dir, "documents"))


@query("bigram_pmi", oracle=f"""
      WITH t AS ({_SQL_TOKS}),
      u AS (SELECT w, count(*) AS c
            FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
      b AS (SELECT pr[1] AS w1, pr[2] AS w2, count(*) AS cnt
            FROM (SELECT unnest(list_transform(range(1, len(toks)),
                        i -> [toks[i], toks[i + 1]])) AS pr FROM t)
            GROUP BY 1, 2 HAVING count(*) >= 5),
      tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n_tok_total FROM u),
      nbt AS (SELECT CAST(sum(greatest(len(toks) - 1, 0)) AS DOUBLE) AS n_big_total
              FROM t)
      SELECT w1 || ' ' || w2 AS gram, CAST(cnt AS BIGINT) AS cnt,
             round(ln((CAST(cnt AS DOUBLE) * n_tok_total * n_tok_total)
                  / (n_big_total * CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))), 6) AS pmi
      FROM b
      JOIN (SELECT w AS w1, c AS c1 FROM u) USING (w1)
      JOIN (SELECT w AS w2, c AS c2 FROM u) USING (w2), tot, nbt
    """)
def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocations over adjacent-token bigrams (count >= 5):
    phrase mining for corpus analysis. Vocab-sized joins only; the
    corpus-sized work is the two token aggregations."""
    from ..functions.indexing import bigram_pmi

    return bigram_pmi(load_table(spark, sf_dir, "documents"))


@query("top_terms_per_lang", oracle=f"""
      WITH t AS ({_SQL_TOKS}),
      cc AS (SELECT lang, word, count(*) AS cnt
             FROM (SELECT lang, unnest(toks) AS word FROM t) GROUP BY 1, 2)
      SELECT lang, word, cnt, rn FROM (
        SELECT lang, word, cnt,
               CAST(row_number() OVER (PARTITION BY lang
                    ORDER BY cnt DESC, word ASC) AS BIGINT) AS rn
        FROM cc) WHERE rn <= 5
    """)
def q_top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most frequent terms per language: per-group top-k over
    the post-aggregation (lang, word) table with deterministic
    tie-breaks -- never a global sort."""
    from ..functions.indexing import top_terms_per_group

    return top_terms_per_group(load_table(spark, sf_dir, "documents"))


@query("doc_chunks", oracle=f"""
      WITH t AS ({_SQL_TOKS}),
      nz AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
      s AS (SELECT doc_id, toks,
                   unnest(range(1, greatest(len(toks) - 1, 0) + 2, 24)) AS start1
            FROM nz),
      c AS (SELECT doc_id,
                   CAST((start1 - 1) // 24 AS BIGINT) AS chunk_id,
                   list_slice(toks, start1, start1 + 31) AS chunk
            FROM s)
      SELECT doc_id, chunk_id,
             CAST(len(chunk) AS BIGINT) AS n_tokens,
             array_to_string(chunk, ' ') AS chunk_text
      FROM c
    """)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding token-window chunking (32-token windows, stride 24)."""
    from ..operators.chunking import doc_chunks

    return doc_chunks(load_table(spark, sf_dir, "documents"))


@query("pack_sequences", oracle="""
      WITH n AS (
        SELECT doc_id, source,
               CAST(coalesce(list_sum(list_transform(
                 list_filter(string_split_regex(trim(lower(
                   regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))), '\\s+'),
                   w -> w <> ''),
                 t -> CAST(floor((length(t) + 3) / 4.0) AS BIGINT))), 0) AS BIGINT) AS n_tokens
        FROM documents),
      p AS (
        SELECT doc_id, source, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
                    ORDER BY doc_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix
        FROM n)
      SELECT doc_id, source, n_tokens,
             CAST(prefix // 256 AS BIGINT) AS bin_id,
             CAST(prefix % 256 AS BIGINT) AS offset
      FROM p
    """)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard sequential sequence packing into 256-token blocks."""
    from ..operators.chunking import pack_sequences

    return pack_sequences(load_table(spark, sf_dir, "documents"))


@query("ngram_counts", oracle=f"""
      WITH t AS ({_SQL_TOKS}),
      g AS (SELECT unnest(list_transform(range(1, len(toks)),
                   i -> toks[i] || ' ' || toks[i + 1])) AS gram
            FROM t)
      SELECT gram, count(*) AS cnt FROM g GROUP BY gram
      ORDER BY cnt DESC, gram ASC LIMIT 100
    """)
def q_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 corpus bigrams (all occurrences, not per-doc distinct):
    the n-gram LM statistics pass. Uses the shuffle-free flat shingle
    builder -- the aggregation keys on the gram itself, so the
    window variant's doc_id Exchange would be pure overhead."""
    from ..operators.dedup import shingle_rows_flat

    grams = shingle_rows_flat(load_table(spark, sf_dir, "documents"), k=2)
    return (
        grams.groupBy(F.col("sh").alias("gram"))
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("gram"))
        .limit(100)
    )


_SQL_VOCAB_IDS = f"""
      SELECT word, cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, word ASC) AS BIGINT) AS vocab_id
      FROM ({_SQL_WORDCOUNT}) WHERE cnt >= 5
    """


@query("vocab_ids", oracle=_SQL_VOCAB_IDS)
def q_vocab_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction: words with count >= 5, ranked into
    contiguous ids by (cnt desc, word asc). The global window runs
    over the POST-AGGREGATION table (vocab size, not corpus size) --
    the single-partition rank of a small aggregate, same shape as
    top-N."""
    from pyspark.sql import Window

    wc = word_count(corpus_from_documents(spark, sf_dir)).filter(F.col("cnt") >= 5)
    w = Window.orderBy(F.desc("cnt"), F.asc("word"))
    return wc.select(
        "word", "cnt", F.row_number().over(w).cast("long").alias("vocab_id")
    )


# the *_scalable variants are plan-level rewrites (distributed exact
# ranking) of the same queries -- sharing the oracle is the point:
# the hash match proves the rewrite exact
@query("vocab_ids_scalable", oracle=_SQL_VOCAB_IDS)
def q_vocab_ids_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vocab_ids without the unpartitioned rank window: exact ids
    from operators/ranking.with_global_row_number (two-level bucketed
    ranking -- no single-partition exchange over the vocab), for
    vocabularies too large for a one-task sort. Shares vocab_ids'
    oracle: the hash match proves the decomposition exact."""
    from ..operators.ranking import with_global_row_number

    wc = word_count(corpus_from_documents(spark, sf_dir)).filter(F.col("cnt") >= 5)
    ranked = with_global_row_number(
        wc, "cnt", tiebreaks=[F.asc("word")], ascending=False, out_col="vocab_id"
    )
    return ranked.select("word", "cnt", F.col("vocab_id").cast("long").alias("vocab_id"))


@query("training_shuffle_order", oracle="""
  WITH h AS (
    SELECT doc_id,
           CAST(concat('0x', substr(md5(concat('shuf1:',
                CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) AS hk
    FROM documents)
  SELECT doc_id, hk,
         row_number() OVER (ORDER BY hk ASC, doc_id ASC) AS position
  FROM h
""")
def q_training_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic global shuffle of the training corpus --
    the epoch-ordering primitive of every pretraining run: each doc's
    position is its exact global rank under a keyed portable hash
    (seed in the hash input; change the seed string, get an
    independent permutation). Composed from existing machinery:
    portable_hash32 (32-bit, so the rank key is double-exact) +
    operators/ranking.with_global_row_number -- NO single-partition
    sort over the corpus; the oracle's naive row_number() OVER
    (ORDER BY hash) proves the two-level decomposition exact.
    At 100 TB the positions feed a range-partitioned write, giving
    shuffled shards without any global sort task."""
    from ..operators.dedup import portable_hash32
    from ..operators.ranking import with_global_row_number

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    hashed = docs.withColumn(
        "hk",
        portable_hash32(F.concat(F.lit("shuf1:"), F.col("doc_id").cast("string"))),
    )
    ranked = with_global_row_number(
        hashed, "hk", tiebreaks=[F.asc("doc_id")], out_col="position"
    )
    return ranked.select(
        "doc_id", "hk", F.col("position").cast("long").alias("position")
    )


BPE_MERGES = 4


@query("bpe_pair_counts", oracle=f"""
      WITH {_bpe_ctes(1)}
      SELECT l AS "left", r AS "right", cnt AS pair_freq
      FROM p0 ORDER BY pair_freq DESC, "left", "right" LIMIT 50
    """)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str, topn: int = 50) -> DataFrame:
    """The BPE-trainer kernel: adjacent-symbol pair frequencies over
    the word-frequency table (corpus scanned once; the pair stage runs
    on |vocab| rows). Top-N with deterministic tie-break."""
    from ..operators import bpe

    vocab = bpe.word_freqs(spark, sf_dir).select(
        bpe.symbolized(F.col("w")).alias("ws"), "c"
    )
    return (
        bpe.pair_counts(vocab)
        .orderBy(F.desc("pair_freq"), "left", "right")
        .limit(topn)
    )


@query("bpe_merges", oracle=f"""
      WITH {_bpe_ctes(BPE_MERGES)}
      SELECT * FROM (
        {" UNION ALL ".join(
            f'SELECT CAST({i + 1} AS BIGINT) AS "rank", l AS "left", r AS "right", '
            f'l || r AS merged, cnt AS pair_freq FROM b{i}'
            for i in range(BPE_MERGES))}
      ) ORDER BY "rank"
    """)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE training (Sennrich et al. 2016): BPE_MERGES
    greedy merge rounds; each round re-counts pairs over the merged
    vocab and picks the max (1-row collect, k-means driver-loop
    pattern). Oracle: the rounds unrolled in SQL (_bpe_ctes)."""
    from ..operators import bpe

    merges, _ = bpe.bpe_train(spark, sf_dir, num_merges=BPE_MERGES)
    return spark.createDataFrame(
        merges, "rank long, left string, right string, merged string, pair_freq long"
    ).orderBy("rank")


@query("bpe_encode", oracle=_bpe_encode_sql(BPE_MERGES))
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained merges to every document: per-doc real BPE
    token count next to the whitespace count. The k learned merges are
    literal replace() calls -- encode is MAP-ONLY over the corpus."""
    from ..functions.text_stats import with_token_array
    from ..operators import bpe

    merges = bpe.trained_merges(spark, sf_dir, num_merges=BPE_MERGES)
    docs = with_token_array(load_table(spark, sf_dir, "documents"))
    n_bpe = F.aggregate(
        F.transform(F.col("toks"), lambda w: bpe.encoded_len_col(w, merges)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )
    return docs.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
    )
