package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.util.{Exact, Memo}

/** Incremental view maintenance (SURVEY §2.C): the continuous-
  * aggregation production shape — a per-customer revenue view is kept
  * as a PERSISTED partial-aggregate store, and each new order batch
  * merges its own partials into the view without ever rescanning
  * history. The relational twin of `dedup_incremental` /
  * `er_incremental`: history is touched only through the bucketed
  * store, never re-aggregated.
  *
  * Exactness: the store keeps the DECIMAL partial sum (never the
  * rounded double) — merging partials is then exact decimal addition,
  * so the merged view is bit-identical to a full recompute over all
  * orders, which is precisely what the oracle checks. The double cast
  * happens once, at the output surface ([[Exact.exactDouble]]).
  *
  * Scale notes (100 TB): the store is bucketed+sorted on `o_custkey`,
  * so the merge is a co-located full-outer SMJ — the store side reads
  * straight into the join with NO exchange at any view size; only the
  * batch's (much smaller) partial aggregate shuffles to the bucket
  * count. ScaleSpec asserts the single-exchange plan. This is the
  * standard warehouse "merge into summary table" pattern with the
  * summary layout chosen so the merge never moves the summary.
  */
object Incremental {

  /** History/batch split: order keys ≡ 0 (mod 10) are the new batch. */
  private def isBatch = col("o_orderkey") % 10 === 0

  /** View bucket count — the batch side shuffles TO this layout (see
    * [[qIncrementalAgg]]). */
  private val NBuckets = 8

  private def partials(df: DataFrame): DataFrame =
    df.groupBy(col("o_custkey"))
      .agg(sum(Exact.money(col("o_totalprice"))).as("rev_partial"),
        count(lit(1)).as("n_orders"))

  /** The persisted per-customer partial-aggregate store over
    * HISTORICAL orders, built once per (session, dir) and re-read as
    * a bucketed managed table. */
  private val storeMemo = Memo[(SparkSession, String), String](this) {
    case ((spark, _), t) => spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  private[graft] def aggStoreTable(spark: SparkSession, dir: String): String =
    storeMemo((spark, dir)) {
      val t = graft.util.Scale.tableName("aggstore", dir)
      graft.util.Scale.writeBucketed(
        partials(Tables.orders(spark, dir).filter(!isBatch)), t, "o_custkey", NBuckets)
      t
    }

  /** Drop the memoized agg store and its table (Bench cold honesty —
    * mirrors [[graft.dedup.Dedup.resetStores]]). */
  def resetStores(): Unit = Memo.reset(this)

  /** q_incremental_agg — merge the new batch's partial aggregate into
    * the persisted view: full-outer co-located SMJ on `o_custkey`,
    * exact decimal partial addition, result identical to a full
    * recompute over ALL orders (the oracle). */
  def qIncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val store = spark.table(aggStoreTable(spark, dir)).hint("merge")
      .select(col("o_custkey"), col("rev_partial").as("rev_s"), col("n_orders").as("n_s"))
    // the batch shuffles to the VIEW's bucket layout before its partial
    // agg (one explicit exchange, reused by both the agg and the join).
    // Left to itself the planner reuses the agg's default-width
    // partitioning and re-shuffles the STORE side to match — shuffling
    // the view-sized side to spare the batch-sized one, exactly
    // backwards at scale (observed: store scan "Bucketed: false
    // (disabled by query planner)" + store-side Exchange).
    val batch = partials(Tables.orders(spark, dir).filter(isBatch)
        .repartition(NBuckets, col("o_custkey")))
      .select(col("o_custkey"), col("rev_partial").as("rev_b"), col("n_orders").as("n_b"))
    store.join(batch, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        Exact.exactDouble(
          coalesce(col("rev_s"), lit(0)) + coalesce(col("rev_b"), lit(0))).as("revenue"),
        (coalesce(col("n_s"), lit(0L)) + coalesce(col("n_b"), lit(0L))).as("n_orders"))
  }

  /** q_cdc_merge — change-data-capture apply (the Delta/Iceberg MERGE
    * shape): a base snapshot plus an op log (insert/update/delete,
    * each with a sequence number) → the new snapshot, where the
    * LATEST op per key wins and a final delete removes the key. One
    * shuffle on the key for the per-key argmax window; the op log is
    * synthesized deterministically from the customer table (updates
    * at seq 1, deletes at seq 2, re-inserts at seq 3, brand-new keys
    * at seq 1) so every CDC path — update-only, delete, delete-then-
    * reinsert, fresh insert — is exercised and oracle-checked.
    *
    * Scale note: per-key argmax is the map-side-combinable max_by
    * pattern; at 100 TB the base snapshot would live bucketed on the
    * key (see [[qIncrementalAgg]]'s store) so only the op log
    * shuffles — same merge layout, omitted here to keep the CDC
    * semantics the subject. */
  def qCdcMerge(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("seq").desc)
    cdcLog(spark, dir).withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("key"), col("name"), col("seq").as("last_seq"), col("op").as("last_op"))
  }

  /** The synthesized CDC op log `(key, name, seq, op)` q_cdc_merge
    * applies — exposed so [[graft.streaming.Streaming.streamCdc]] can
    * replay the SAME log through the streaming apply path (shared
    * synthesis = the batch and stream gates check the same facts). */
  def cdcLog(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val base = c.select(col("c_custkey").as("key"), col("c_name").as("name"),
      lit(0L).as("seq"), lit("I").as("op"))
    val updates = c.filter(col("c_custkey") % 4 === 0)
      .select(col("c_custkey").as("key"), concat(lit("UPD1 "), col("c_name")).as("name"),
        lit(1L).as("seq"), lit("U").as("op"))
    val deletes = c.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey").as("key"), lit(null).cast("string").as("name"),
        lit(2L).as("seq"), lit("D").as("op"))
    val reinserts = c.filter(col("c_custkey") % 14 === 0)
      .select(col("c_custkey").as("key"), concat(lit("REINS "), col("c_name")).as("name"),
        lit(3L).as("seq"), lit("I").as("op"))
    val fresh = c.filter(col("c_custkey") % 11 === 0)
      .select((col("c_custkey") + lit(1000000000L)).as("key"),
        concat(lit("NEW "), col("c_name")).as("name"), lit(1L).as("seq"), lit("I").as("op"))
    base.union(updates).union(deletes).union(reinserts).union(fresh)
  }

  /** q_scd2 — slowly-changing-dimension TYPE-2 history from the same
    * CDC log: every non-delete op opens a version row valid
    * [its seq, the next op's seq); the key's last op leaves an OPEN
    * version (valid_to null, is_current) unless that last op is a
    * delete — then the delete CLOSES the previous version and emits
    * nothing itself. One shuffle on the key for the lead() window —
    * the standard warehouse history-table build; at scale the
    * dimension lives bucketed on the key so only the op log shuffles
    * (the q_cdc_merge note). */
  def qScd2(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("seq"))
    cdcLog(spark, dir)
      .withColumn("valid_to", lead(col("seq"), 1).over(w))
      .filter(col("op") =!= "D")
      .select(col("key"), col("name"), col("seq").as("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scd2"            -> (qScd2 _),
    "q_incremental_agg" -> (qIncrementalAgg _),
    "q_cdc_merge"       -> (qCdcMerge _))

  val oracles: Map[String, String] = Map(
    "q_scd2" ->
      """WITH log AS (
        |  SELECT c_custkey AS key, c_name AS name, 0 AS seq, 'I' AS op FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 'UPD1 ' || c_name, 1, 'U' FROM customer WHERE c_custkey % 4 = 0
        |  UNION ALL
        |  SELECT c_custkey, CAST(NULL AS VARCHAR), 2, 'D' FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey, 'REINS ' || c_name, 3, 'I' FROM customer WHERE c_custkey % 14 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000000, 'NEW ' || c_name, 1, 'I' FROM customer WHERE c_custkey % 11 = 0),
        |v AS (SELECT key, name, seq, op,
        |        lead(seq) OVER (PARTITION BY key ORDER BY seq) AS valid_to
        |      FROM log)
        |SELECT key, name, CAST(seq AS BIGINT) AS valid_from,
        |  CAST(valid_to AS BIGINT) AS valid_to, valid_to IS NULL AS is_current
        |FROM v WHERE op <> 'D'""".stripMargin,
    "q_cdc_merge" ->
      """WITH log AS (
        |  SELECT c_custkey AS key, c_name AS name, 0 AS seq, 'I' AS op FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 'UPD1 ' || c_name, 1, 'U' FROM customer WHERE c_custkey % 4 = 0
        |  UNION ALL
        |  SELECT c_custkey, CAST(NULL AS VARCHAR), 2, 'D' FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey, 'REINS ' || c_name, 3, 'I' FROM customer WHERE c_custkey % 14 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000000, 'NEW ' || c_name, 1, 'I' FROM customer WHERE c_custkey % 11 = 0),
        |r AS (SELECT key, name, seq, op,
        |        row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
        |      FROM log)
        |SELECT key, name, CAST(seq AS BIGINT) AS last_seq, op AS last_op
        |FROM r WHERE rn = 1 AND op <> 'D'""".stripMargin,
    "q_incremental_agg" ->
      """SELECT o_custkey,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(25,4)) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders GROUP BY 1""".stripMargin)
}
