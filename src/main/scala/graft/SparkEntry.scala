package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {
  private val sfSmoke = "/root/testdata/sf0.001"

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.q5MultiJoin(spark, sfSmoke)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.queries ++
      graft.queries.Temporal.queries ++
      graft.queries.Incremental.queries ++
      graft.queries.Robust.queries ++
      graft.queries.Events.queries ++
      graft.kg.KGQueries.queries ++
      graft.kg.Wikibase.queries ++
      graft.kg.GraphMetrics.queries ++
      graft.kg.SparqlQueries.queries ++
      graft.kg.Rdf.queries ++
      graft.er.ER.queries ++
      graft.dedup.Dedup.queries ++
      graft.dedup.Embed.queries ++
      graft.dedup.Search.queries ++
      graft.dedup.Corpus.queries ++
      graft.dedup.Text.queries ++
      graft.dedup.Multimodal.queries ++
      graft.dedup.Sketch.queries ++
      graft.dedup.Bpe.queries ++
      graft.streaming.Streaming.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → driver rows-only check. */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracles ++
      graft.queries.Temporal.oracles ++
      graft.queries.Incremental.oracles ++
      graft.queries.Robust.oracles ++
      graft.queries.Events.oracles ++
      graft.kg.KGQueries.oracles ++
      graft.kg.Wikibase.oracles ++
      graft.kg.GraphMetrics.oracles ++
      graft.kg.SparqlQueries.oracles ++
      graft.kg.Rdf.oracles ++
      graft.er.ER.oracles ++
      graft.dedup.Dedup.oracles ++
      graft.dedup.Embed.oracles ++
      graft.dedup.Search.oracles ++
      graft.dedup.Corpus.oracles ++
      graft.dedup.Text.oracles ++
      graft.dedup.Multimodal.oracles ++
      graft.dedup.Sketch.oracles ++
      graft.dedup.Bpe.oracles ++
      graft.streaming.Streaming.oracles
}
