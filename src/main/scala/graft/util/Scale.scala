package graft.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout and skew utilities for the 100 TB path.
  *
  * Bucketing: writing both sides of a recurring fact-fact join
  * bucketed (and sorted) by the join key makes the join CO-LOCATED —
  * Spark's scan preserves the bucket partitioning, so the sort-merge
  * join runs with NO Exchange on either side. At 100 TB that removes
  * the two largest shuffles in the pipeline; the spec asserts the
  * exchange-free plan.
  *
  * Salting: when one join key is hot (the "Smith" problem), a plain
  * shuffle join puts the whole key on one task. `saltedJoin` spreads
  * the large side across `nSalts` sub-keys and replicates the small
  * side to match — result-identical to the plain join, parallelism ×
  * nSalts on the hot key. (AQE's skew-join split handles moderate
  * skew automatically; salting is for the pathological keys AQE can't
  * split, e.g. a single key larger than an executor.)
  */
object Scale {

  /** Fan a COMPUTE-DENSE frame out to the session's parallelism when
    * its file scan cannot provide it (optimization guide §2.5, input
    * skew: "one huge unsplittable file … repartition immediately after
    * the read"). The test corpus ships each table as ONE parquet file
    * with ONE row group, so every scan is effectively single-task no
    * matter the core count — and an expensive per-row projection
    * sitting directly on the scan (per-character winnowing hashes,
    * NT/TTL rendering, regex batteries) runs serial while the other 31
    * cores idle (measured: text_contamination's fingerprint stage,
    * 3.0 s in ONE task at sf0.1 local[32]).
    *
    * Scale-adaptive, not a constant: the decision reads only catalog
    * metadata (`inputFiles` — nothing executes). A production layout
    * whose scan already carries ≥ core-count file splits returns the
    * frame UNCHANGED — zero cost at 100 TB, where the repartition
    * would otherwise be a full-input shuffle. Apply it only where
    * per-row compute dominates a narrow projected shuffle; never to a
    * plain filter/join pattern scan (those are shuffle-bound already).
    * Row multiset is untouched (round-robin repartition), so oracle
    * hashes are unaffected. */
  def fanScan(df: DataFrame): DataFrame = fanScan(df, Nil)

  /** [[fanScan]] with explicit distribution keys: when `keys` is
    * non-empty the fan-out hashes on them (deterministic, and skips
    * round-robin's sort-before-repartition safety sort — SPARK-23207 —
    * which would run inside the single scan task this helper exists to
    * unburden). Pass keys that spread well (a high-cardinality column
    * or pair); keyless calls use round-robin. */
  def fanScan(df: DataFrame, keys: Seq[Column]): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    // inputFiles = 0 means the plan has no file-backed leaves at all
    // (an in-memory/VALUES relation) — leave those unchanged: there is
    // no scan to unburden, and a trivially small frame would pay a
    // pointless exchange. An inspection failure also leaves the frame
    // unchanged (fail-safe: no silent fan-out on an unknown plan), but
    // is logged once so real analysis errors aren't swallowed.
    val files = try df.inputFiles.length catch {
      case e: Exception =>
        if (inputFilesWarned.compareAndSet(false, true))
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"fanScan: inputFiles inspection failed (${e.getMessage}); leaving frame unchanged")
        Int.MaxValue
    }
    if (files >= cores || files == 0) df
    else if (keys.nonEmpty) df.repartition(cores, keys: _*)
    else df.repartition(cores)
  }

  private val inputFilesWarned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Managed-table name for a memoized per-dataset table of `kind`:
    * `graft_<kind>_<first 8 hex digits of md5(dir)>`, so every input
    * dir gets its own table in the session catalog. */
  def tableName(kind: String, dir: String): String = {
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    s"graft_${kind}_$tag"
  }

  /** Write `df` as a bucketed+sorted managed table (parquet).
    *
    * Self-healing against stale locations: `mode("overwrite")` only
    * helps when the CATALOG knows the table — a fresh JVM with an
    * in-memory catalog refuses to create a managed table whose
    * warehouse directory survives from a previous process
    * (LOCATION_ALREADY_EXISTS). If the table is absent from the
    * catalog but its default location exists on disk, the leftover is
    * unreachable garbage — delete it before writing. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, nBuckets: Int): Unit = {
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(table)) {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val loc = new org.apache.hadoop.fs.Path(wh, table.toLowerCase(java.util.Locale.ROOT))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Join two bucketed tables on their bucket key — co-located, no
    * exchange (hint forces SMJ so the demo isn't broadcast). */
  def colocatedJoin(spark: SparkSession, leftTable: String, rightTable: String,
      key: String): DataFrame =
    spark.table(leftTable).hint("merge")
      .join(spark.table(rightTable).hint("merge"), key)

  /** Distributed fill-down (`tidyr::fill(.direction = "down")` /
    * last-observation-carried-forward): replace NULLs in `valueCol`
    * with the latest non-NULL value in the total order given by
    * `order` — WITHOUT the single-partition window a naive
    * `last(ignoreNulls) over (ORDER BY …)` plans (Spark warns
    * "Moving all data to a single partition").
    *
    * Two-pass carry shape (the distributed-prefix-sum pattern
    * corpus_pack uses for offsets, applied to carry values):
    *   1. range-partition + sort by `order` — partitions now tile the
    *      total order;
    *   2. per partition, take the LAST non-NULL value (one tiny row
    *      per partition to the driver — partition-count-sized, never
    *      data-sized);
    *   3. prefix-scan those carries on the driver and broadcast the
    *      per-partition "inherited" value;
    *   4. per partition, fill: rows before the first local non-NULL
    *      take the inherited carry, the rest standard LOCF.
    * Correctness does not depend on where the range boundaries fall;
    * `order` must be a TOTAL order (ties could straddle a boundary in
    * arbitrary order). `valueCol` must be a string column (the only
    * shape the callers need; generalize via encoder if ever needed).
    *
    * Storage lifecycle: the internal localCheckpoint is LOAD-BEARING
    * (range-partition sampling is not deterministic across
    * re-evaluations — pass 2 and the result must read pass 1's exact
    * partitioning) and BACKS the returned frame, so it cannot be
    * freed here and sits one RDD-dependency up from the result where
    * Checkpoints.freeAll cannot reach it. It is reclaimed by the
    * ContextCleaner once the returned frame becomes unreachable (the
    * cascadeMemo convention), and Bench's between-query sweep
    * unpersists it explicitly; a long-running driver that holds many
    * fillDown results should drop the references when done.
    */
  def fillDown(df: DataFrame, order: Seq[Column], valueCol: String,
      partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val n = if (partitions > 0) partitions
            else spark.sessionState.conf.numShufflePartitions
    require(df.schema(valueCol).dataType == org.apache.spark.sql.types.StringType,
      s"fillDown carries string columns; got ${df.schema(valueCol).dataType}")
    val idx = df.schema.fieldIndex(valueCol)
    val ranged = df.repartitionByRange(n, order: _*).sortWithinPartitions(order: _*)
      .localCheckpoint() // pass 2 must see pass 1's exact partitioning
    val lasts: Array[(Int, String)] = ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
      var last: String = null
      it.foreach { r => if (!r.isNullAt(idx)) last = r.getString(idx) }
      Iterator.single(pid -> last)
    }.collect()
    val carry = new Array[String](n + 1) // carry(p) = value inherited BY partition p
    lasts.sortBy(_._1).foreach { case (pid, l) =>
      carry(pid + 1) = if (l != null) l else carry(pid)
    }
    for (p <- 1 to n) if (carry(p) == null) carry(p) = carry(p - 1)
    val carryB = spark.sparkContext.broadcast(carry)
    val schema = ranged.schema
    val filled = ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
      var cur = carryB.value(pid)
      it.map { r =>
        if (!r.isNullAt(idx)) { cur = r.getString(idx); r }
        else {
          val vals = r.toSeq.toArray
          vals(idx) = cur
          org.apache.spark.sql.Row.fromSeq(vals.toSeq)
        }
      }
    }
    spark.createDataFrame(filled, schema)
  }

  /** Salted equi-join: result-identical to `large.join(small, key)`,
    * with the large side spread over `nSalts` sub-keys and the small
    * side replicated nSalts× THROUGH THE SHUFFLE (never the driver —
    * unlike a broadcast, nothing here is bounded by one JVM's memory).
    * `saltOn` picks the salt source: default is per-row position
    * (uniform); pass a stable column (e.g. the row's id) when the plan
    * must be deterministic across retries/stage re-runs. */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String, nSalts: Int,
      saltOn: Column = monotonically_increasing_id()): DataFrame = {
    // EXPLICIT repartition on the (key, salt) join key: when the join
    // output is much larger than its inputs (pair generation), AQE's
    // input-size-based coalescing would collapse the small shuffles to
    // a handful of partitions and serialize the explosive join — a
    // user-specified partition count is exempt from coalescing, so the
    // join keeps full parallelism. Partitioning matches the join keys,
    // so no further exchange is planned.
    val n = large.sparkSession.sessionState.conf.numShufflePartitions
    val salted = large.withColumn("_salt",
        pmod(xxhash64(saltOn), lit(nSalts.toLong)).cast("int"))
      .repartition(n, col(key), col("_salt"))
    val replicated = small.withColumn("_salt",
        explode(array((0 until nSalts).map(lit): _*)))
      .repartition(n, col(key), col("_salt"))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }
}
