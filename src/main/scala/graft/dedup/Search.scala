package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.util.Exact

/** Keyword retrieval + vocabulary census over `documents` (SURVEY
  * §2.D) — the search/inspection side of a training-data pipeline:
  * before training you census the vocabulary (tokenizer prep, corpus
  * drift checks) and retrieve by keyword (targeted audits: "show me
  * the docs that mention X").
  *
  * Scale notes (100 TB):
  *   - `search_vocab` is one map-side-partial groupBy on term — the
  *     aggregate state is vocabulary-sized, orders of magnitude
  *     smaller than the corpus — followed by a distributed top-k
  *     (TakeOrdered, never a single-partition global sort of the
  *     vocabulary).
  *   - `search_bm25` never builds a posting list for its LITERAL query
  *     terms: per-document term frequencies are array expressions
  *     inside one codegen'd scan pass, and the corpus statistics the
  *     score needs (N, Σdl, per-term df) reduce to ONE row that is
  *     broadcast back. Two corpus passes total (stats, score), no
  *     shuffle wider than the 1-row aggregate, and a distributed
  *     top-k for the hit list. For ad-hoc (non-literal) query terms at
  *     scale you'd serve from an inverted-index layout instead — the
  *     index-build is exactly the `search_vocab` shuffle keyed by
  *     (term, doc).
  *   - The score is BM25-SHAPED: the standard k1=1.2 / b=0.75 tf
  *     saturation and length normalization, but a RATIONAL idf,
  *     `(N - df + 0.5) / (df + 0.5)`, i.e. the usual `ln(… + 1)` form
  *     with the log dropped. Per TERM the df ordering is identical;
  *     for MULTI-term queries the un-logged idf weights rare terms
  *     more heavily than log-idf BM25, so rankings can differ where
  *     log-BM25 would let saturated common-term tf outweigh one rare
  *     hit, and absolute magnitudes are not BM25's — don't reuse
  *     these scores in a fusion/thresholding step calibrated for
  *     log-idf. The trade is deliberate: measured on this box, JVM
  *     `Math.log` and DuckDB `ln` disagree by 1 ulp on 1 of 500 df
  *     values, which would make the score hash-unstable; rational idf
  *     keeps every arithmetic step an IEEE-exact double op on
  *     integer-derived values, so the score column is bit-identical
  *     in the oracle. Swap `idf` for the log form (one line) if
  *     calibrated BM25 matters more than an exact oracle.
  */
object Search {

  /** The literal audit query: one rare injected marker and two common
    * corpus terms, so the ranking exercises the full idf range. */
  val bm25Terms: Seq[String] = Seq("dup", "spark", "merge")
  // BM25 constants as literal doubles on BOTH sides (e-notation in the
  // oracle forces DOUBLE, never DECIMAL — decimal literals promote at
  // engine-specific points and would unpin the bit pattern). k1 + 1 is
  // pre-written as 2.2, not derived, for the same reason — the
  // requires prove the hand-written pairs are the exact double
  // identities (both sums are representable, so == is exact here).
  private val K1 = 1.2
  private val K1P1 = 2.2
  private val B = 0.75
  private val OneMinusB = 0.25
  require(K1P1 == K1 + 1.0, "K1P1 must be the exact double K1 + 1")
  require(OneMinusB == 1.0 - B, "OneMinusB must be the exact double 1 - B")

  /** search_vocab — vocabulary census (Zipf view): total occurrences,
    * document frequency, corpus share, and frequency rank for the top
    * 100 terms. The rank window runs AFTER the distributed top-k, over
    * at most 100 rows. */
  def searchVocab(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    // the census fans out into both the total and the top-k — without
    // materialization each branch would re-run the corpus explode +
    // groupBy (Catalyst does no cross-branch CSE; SURVEY §5 rule). The
    // checkpoint is vocabulary-sized, freed once the ≤100-row result
    // is materialized.
    val counts = toks.groupBy(col("term"))
      .agg(count(lit(1)).as("n"), count_distinct(col("doc_id")).as("df"))
      .transform(graft.util.Checkpoints.compact(_, eager = true))
    val total = counts.agg(sum(col("n")).as("n_total"))
    val top = counts.orderBy(col("n").desc, col("term")).limit(100)
    val out = top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(Window.orderBy(col("n").desc, col("term"))))
      .withColumn("share", col("n").cast("double") / col("n_total").cast("double"))
      .select(col("term"), col("n"), col("df"), col("rank"), col("share"))
      .transform(graft.util.Checkpoints.compact(_, eager = true))
    graft.util.Checkpoints.free(counts)
    out
  }

  /** search_bm25 — top-20 documents for the fixed query terms, scored
    * by BM25 (rational idf, see the object doc). Output carries the
    * per-term tfs and the doc length so a hit is auditable. */
  def searchBm25(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(Seq(col("doc_id"), size(col("t")).as("dl")) ++
        bm25Terms.map(q => expr(s"size(filter(t, x -> x = '$q'))").as(s"tf_$q")): _*)
    val statCols = Seq(
      count(lit(1)).as("n_docs"),
      sum(col("dl").cast("long")).as("sum_dl")) ++
      bm25Terms.map(q =>
        sum(when(col(s"tf_$q") > 0, 1L).otherwise(0L)).as(s"df_$q"))
    val stats = d.agg(statCols.head, statCols.tail: _*)
    // one row of corpus stats, broadcast back into the scoring pass
    val scored = d.crossJoin(broadcast(stats))
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    def contrib(q: String): Column = {
      val tf = col(s"tf_$q").cast("double")
      val idf = (col("n_docs").cast("double") - col(s"df_$q").cast("double") + lit(0.5)) /
        (col(s"df_$q").cast("double") + lit(0.5))
      idf * ((tf * lit(K1P1)) /
        (tf + lit(K1) * (lit(OneMinusB) + lit(B) * (col("dl").cast("double") / avgdl))))
    }
    val score = bm25Terms.map(contrib).reduce(_ + _)
    scored
      .filter(bm25Terms.map(q => col(s"tf_$q")).reduce(_ + _) > 0)
      .select(Seq(col("doc_id"), col("dl")) ++
        bm25Terms.map(q => col(s"tf_$q")) :+ score.as("score"): _*)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  /** text_keywords — per-document keyword extraction: top-3 terms by
    * tf·idf. The idf is the RATIONAL `N/df` (same bit-exactness
    * argument as [[searchBm25]]'s rational idf: every score op —
    * one division, one multiply — is a single IEEE double op on
    * integer-derived values, identical in any engine; the log form is
    * one line away if calibrated tf-idf matters more than an exact
    * oracle). Scale: tf is the (doc, term) shuffle every indexer pays;
    * the df census derives from tf (vocabulary-sized, checkpointed so
    * the corpus shuffle runs once); N is a broadcast 1-row; per-doc
    * top-3 is a window over the doc's own terms. */
  def textKeywords(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .transform(graft.util.Checkpoints.compact(_, eager = true)) // fans into the df census + the join
    val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nd = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val score = col("tf").cast("double") *
      (col("n_docs").cast("double") / col("df").cast("double"))
    val out = tf.join(dfc, Seq("term")).crossJoin(broadcast(nd))
      .withColumn("score", score)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"))
      .transform(graft.util.Checkpoints.compact(_, eager = true))
    graft.util.Checkpoints.free(tf)
    out
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "search_vocab"  -> (searchVocab _),
    "search_bm25"   -> (searchBm25 _),
    "text_keywords" -> (textKeywords _))

  val oracles: Map[String, String] = {
    val tfSelects = bm25Terms
      .map(q => s"len(list_filter(t, x -> x = '$q')) AS tf_$q").mkString(",\n    ")
    val dfSelects = bm25Terms
      .map(q => s"sum(CASE WHEN tf_$q > 0 THEN 1 ELSE 0 END) AS df_$q").mkString(",\n    ")
    // the per-term score term, parenthesized EXACTLY like the Column
    // tree above so every IEEE double op runs in the same order
    def contribSql(q: String): String =
      s"""(((CAST(n_docs AS DOUBLE) - CAST(df_$q AS DOUBLE)) + 5.0e-1) / (CAST(df_$q AS DOUBLE) + 5.0e-1))
         |    * ((CAST(tf_$q AS DOUBLE) * ${Exact.duckDouble(K1P1)})
         |       / (CAST(tf_$q AS DOUBLE) + ${Exact.duckDouble(K1)} * (${Exact.duckDouble(OneMinusB)} + ${Exact.duckDouble(B)} * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))""".stripMargin
    Map(
      "text_keywords" ->
        """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
          |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          |nd AS (SELECT count(*) AS n_docs FROM documents)
          |SELECT doc_id, term, tf, df, score FROM (
          |  SELECT doc_id, term, tf, df,
          |    CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS score,
          |    row_number() OVER (PARTITION BY doc_id
          |      ORDER BY CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) DESC, term) AS rk
          |  FROM tf JOIN dfc USING (term) CROSS JOIN nd) t
          |WHERE rk <= 3""".stripMargin,
      "search_vocab" ->
        """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
          |c AS (SELECT term, count(*) AS n, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
          |tot AS (SELECT sum(n) AS n_total FROM c)
          |SELECT term, n, df,
          |  CAST(row_number() OVER (ORDER BY n DESC, term) AS INTEGER) AS rank,
          |  CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) AS share
          |FROM c, tot ORDER BY n DESC, term LIMIT 100""".stripMargin,
      "search_bm25" ->
        s"""WITH d AS (
           |  SELECT doc_id, CAST(len(t) AS INTEGER) AS dl,
           |    ${bm25Terms.map(q => s"CAST(len(list_filter(t, x -> x = '$q')) AS INTEGER) AS tf_$q").mkString(",\n    ")}
           |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) t0),
           |st AS (
           |  SELECT count(*) AS n_docs, sum(CAST(dl AS BIGINT)) AS sum_dl,
           |    $dfSelects
           |  FROM d)
           |SELECT doc_id, dl, ${bm25Terms.map(q => s"tf_$q").mkString(", ")},
           |  ${bm25Terms.map(contribSql).mkString("\n  + ")} AS score
           |FROM d, st
           |WHERE ${bm25Terms.map(q => s"tf_$q").mkString(" + ")} > 0
           |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)
  }
}
