"""Registry queries of the reference job's surface: the word-count
variants, the SQL front end and the corpus/map-task statistics, each
with its DuckDB oracle.
"""

from __future__ import annotations

from .shared import (
    DataFrame,
    F,
    SparkSession,
    _SQL_TOKS,
    _SQL_WORDCOUNT,
    _SQL_WORDS,
    corpus_from_documents,
    load_table,
    normalized_col,
    read_text_corpus,
    register_views,
    task_id_col,
    tfidf_top_terms,
    tokenize,
    top_k,
    word_count,
    word_count_rdd,
    word_count_salted,
    word_count_sql,
)
from .analytics_plans import _SQL_PRICING_SUMMARY
from .declare import query


# ---------------------------------------------------------------------------
# faithful reference surface (SURVEY.md section 2a)
# ---------------------------------------------------------------------------


@query("wordcount", oracle=_SQL_WORDCOUNT)
def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1..O9: the reference's entire job as one declarative plan."""
    return word_count(corpus_from_documents(spark, sf_dir))


@query(
    "wordcount_topn",
    oracle=f"SELECT * FROM ({_SQL_WORDCOUNT}) ORDER BY cnt DESC, word ASC LIMIT 100",
)
def q_wordcount_topn(spark: SparkSession, sf_dir: str, n: int = 100) -> DataFrame:
    """O11: top-N report with deterministic tie-break."""
    return top_k(q_wordcount(spark, sf_dir), n)


# checked-in newline-delimited fixture (airline-tweet flavored, like
# the reference's corpus); absolute path so the oracle SQL can read
# the identical bytes (three dirnames: this file lives one level
# deeper since the registry/ package split)
_CORPUS_TXT = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.dirname(__import__("os").path.dirname(__import__("os").path.abspath(__file__)))),
    "tests", "fixtures", "corpus.txt",
)


@query("wordcount_textfile", oracle=f"""
      WITH lines AS (
        SELECT unnest(string_split(content, chr(10))) AS line
        FROM read_text('{_CORPUS_TXT}')),
      words AS (
        SELECT unnest(string_split_regex(trim(lower(
                 regexp_replace(line, '[^a-zA-Z0-9\\s]', '', 'g'))), '\\s+')) AS word
        FROM lines)
      SELECT word, count(*) AS cnt FROM words WHERE word <> '' GROUP BY word
    """)
def q_wordcount_textfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 exercised end-to-end from a real text FILE, the way the
    reference reads /Assignment5/input.txt (greeter_client.cc:298-314):
    spark.read.text -> normalize -> tokenize -> count. The file-scan
    path (byte-range splits per executor, never a master-side string)
    rather than the parquet documents table the other wordcounts use.
    sf_dir is ignored: the source is the checked-in fixture corpus."""
    return word_count(read_text_corpus(spark, _CORPUS_TXT))


@query("wordcount_rdd", oracle=_SQL_WORDCOUNT)
def q_wordcount_rdd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BASELINE 'RDD API' surface: flatMap -> map -> reduceByKey."""
    return word_count_rdd(corpus_from_documents(spark, sf_dir))


@query("wordcount_sql", oracle=_SQL_WORDCOUNT)
def q_wordcount_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same plan through the SQL front end (Catalyst output identical
    to the DataFrame form -- the engine is API-agnostic)."""
    return word_count_sql(spark, corpus_from_documents(spark, sf_dir))


# the SQL-front-end twin shares the DataFrame variant's oracle
@query("pricing_summary_sql", oracle=_SQL_PRICING_SUMMARY)
def q_pricing_summary_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary via spark.sql over registered catalog views --
    a user can drive this engine with nothing but SQL strings."""
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
          CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sum_qty,
          CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sum_base_price,
          CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS STRING) AS DOUBLE) AS sum_disc_price,
          CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
                        * (CAST(1 AS DECIMAL(8,4)) + CAST(l_tax AS DECIMAL(8,4)))) AS STRING) AS DOUBLE) AS sum_charge,
          round(CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS STRING) AS DOUBLE) / count(*), 6) AS avg_qty,
          round(CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS STRING) AS DOUBLE) / count(*), 6) AS avg_disc,
          count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """)


@query("wordcount_salted", oracle=_SQL_WORDCOUNT)
def q_wordcount_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew path: two-stage salted aggregation, identical result."""
    return word_count_salted(corpus_from_documents(spark, sf_dir))


# Deliberately the NAIVE (unsalted) join: the hash match proves the
# salted rewrite changes partitioning only. idf terms are round-9dp
# decimals so the per-doc sum is associative (doc_perplexity recipe).
@query("doc_idf_salted_join", oracle=f"""
  WITH t AS ({_SQL_TOKS}),
  tok AS (SELECT doc_id, unnest(toks) AS word FROM t),
  tk AS (SELECT doc_id, word FROM tok WHERE word <> ''),
  v AS (SELECT word, count(DISTINCT doc_id) AS df FROM tk GROUP BY 1),
  n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
  idf AS (SELECT word, CAST(round(ln(n_docs / df), 9) AS DECIMAL(12,9)) AS idf
          FROM v, n)
  SELECT tk.doc_id, count(*) AS n_tokens,
         CAST(CAST(sum(idf.idf) AS VARCHAR) AS DOUBLE) AS idf_sum
  FROM tk JOIN idf USING (word)
  GROUP BY 1
""")
def q_doc_idf_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient shuffle JOIN (the join-side complement of
    wordcount_salted's salted aggregation): every token row joins the
    corpus-derived idf vocabulary on the word -- a Zipf-hot key per
    hot word -- through operators/skewjoin.salted_join, which spreads
    each hot word over 16 salt partitions and replicates the vocab
    side 16x. The oracle is the NAIVE SQL join, so the driver's hash
    match proves salting changes partitioning only, never results.
    Measured straggler evidence: tools/skew_probe.py -> SCALING.md."""
    from ..operators.skewjoin import doc_idf_sum

    return doc_idf_sum(load_table(spark, sf_dir, "documents"))


@query("tfidf_top_terms", oracle=f"""
      WITH w AS (SELECT doc_id, word FROM (
             SELECT doc_id, unnest(string_split_regex(trim(lower(
               regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))), '\\s+')) AS word
             FROM documents) WHERE word <> ''),
      tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
      n AS (SELECT count(*) AS n_docs FROM documents),
      dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
      idf AS (SELECT word, ln((n_docs + 1.0) / (df + 1.0)) + 1.0 AS idf FROM dfq, n),
      s AS (SELECT doc_id, tf.word AS word, tf, round(tf * idf, 6) AS score
            FROM tf JOIN idf USING (word))
      SELECT doc_id, word, tf, score, CAST(rn AS BIGINT) AS rn FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, word ASC) AS rn FROM s)
      WHERE rn <= 3
    """)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_top_terms(load_table(spark, sf_dir, "documents"))


@query("corpus_stats", oracle=f"""
      SELECT w.n_tokens, w.n_distinct_words, d.n_lines
      FROM (SELECT count(*) AS n_tokens, count(DISTINCT word) AS n_distinct_words
            FROM ({_SQL_WORDS}) WHERE word <> '') w,
           (SELECT count(*) AS n_lines FROM documents) d
    """)
def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 line count generalized: corpus-level totals in one pass."""
    docs = corpus_from_documents(spark, sf_dir)
    words = tokenize(docs.select(normalized_col("line").alias("norm")), "norm")
    return words.agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("word").alias("n_distinct_words"),
    ).crossJoin(docs.agg(F.count("*").alias("n_lines")))


@query("map_task_stats", oracle="""
      WITH w AS (
        SELECT CAST(doc_id % 4 AS INT) AS task_id,
               unnest(string_split_regex(trim(lower(
                 regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))), '\\s+')) AS word
        FROM documents)
      SELECT task_id, count(DISTINCT word) AS n_distinct_words, count(*) AS n_tokens
      FROM w WHERE word <> '' GROUP BY task_id
    """)
def q_map_task_stats(spark: SparkSession, sf_dir: str, num_tasks: int = 4) -> DataFrame:
    """O4 observable surface: per-task (word,count) rollup mirroring
    the reference's MapOutputTask<N>.txt intermediates
    (greeter_server.cc:81-86), with deterministic doc_id%4 task
    assignment standing in for the contiguous split."""
    docs = corpus_from_documents(spark, sf_dir)
    words = tokenize(
        docs.select(task_id_col(F.col("doc_id"), num_tasks).alias("task_id"),
                    normalized_col("line").alias("norm")),
        "norm",
        keep=["task_id"],
    )
    return words.groupBy("task_id").agg(
        F.countDistinct("word").alias("n_distinct_words"),
        F.count("*").alias("n_tokens"),
    )
