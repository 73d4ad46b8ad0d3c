package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Derive a 10×-scale bench dataset from an existing sf dir by keyed
  * replication — the round-10 scale spot-bench input (the driver ships
  * sf ≤ 0.1; every scale claim was extrapolation until this).
  *
  * Replica r shifts every entity key by r·10⁷ so referential integrity
  * holds across tables (orders→customer, lineitem→orders/part/supplier)
  * and the Triples id namespacing (ns·10¹² + key) stays in range.
  * Dimensions (region, nation) are NOT replicated — TPC-H scaling
  * semantics. Two data-shape choices model how real corpora grow:
  *
  *   - part names get a per-replica lead token (`r3x …`): name
  *     VOCABULARY grows with the data, so the ER first-token blocks
  *     gain cardinality instead of depth — without it every block
  *     deepens 10× and blocked pair volume grows 100× (a property of
  *     the fixed 8-token synthetic vocab, not of the operators);
  *   - document texts get a per-replica lead token: exact-duplicate
  *     groups keep their sf0.1 size instead of ×10 (a crawl's dup RATE
  *     is scale-free), near-dup structure inside a replica unchanged.
  *
  * Embeddings perturb one coordinate per replica so replicated vectors
  * are near- but not exact-duplicates (ANN/kNN neighbor structure stays
  * non-degenerate). Bench-only data: no oracle reads this. */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.get()
    spark.sparkContext.setLogLevel("WARN")
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/root/repo/scaledata/sf1")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val K = 10000000L

    def replicate(t: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = Tables.load(spark, src, t)
      val out = (0 until reps).map(r => f(base, r)).reduce(_ unionAll _)
      out.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"SCALEUP $t: ${Tables.load(spark, dst, t).count()}")
    }

    Seq("region", "nation").foreach { t =>
      Tables.load(spark, src, t)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"SCALEUP $t: copied")
    }
    replicate("customer")((df, r) => df
      .withColumn("c_custkey", col("c_custkey") + lit(r * K)))
    replicate("supplier")((df, r) => df
      .withColumn("s_suppkey", col("s_suppkey") + lit(r * K)))
    replicate("part")((df, r) => df
      .withColumn("p_partkey", col("p_partkey") + lit(r * K))
      .withColumn("p_name",
        if (r == 0) col("p_name") else concat(lit(s"r${r}x "), col("p_name"))))
    replicate("orders")((df, r) => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(r * K))
      .withColumn("o_custkey", col("o_custkey") + lit(r * K)))
    replicate("lineitem")((df, r) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(r * K))
      .withColumn("l_partkey", col("l_partkey") + lit(r * K))
      .withColumn("l_suppkey", col("l_suppkey") + lit(r * K)))
    replicate("events")((df, r) => df
      .withColumn("event_id", col("event_id") + lit(r * K))
      .withColumn("user_id", col("user_id") + lit(r * K)))
    // replica texts must be DISTINCT at the SHINGLE level, not just a
    // lead token: a lead-token-only variant leaves minhash signatures
    // nearly identical, so every doc gained 9 near-duplicates and the
    // dedup verify stage did ~100× the pair work — a generator
    // artifact, not a scaling property. Interleaving a replica marker
    // every 6 words breaks every word-8-gram window, so near-dup
    // structure exists within a replica exactly as it does at sf0.1.
    replicate("documents")((df, r) => df
      .withColumn("doc_id", col("doc_id") + lit(r * K))
      .withColumn("text",
        if (r == 0) col("text")
        else array_join(flatten(transform(split(col("text"), " "),
          (w, i) => when(i % 6 === 5, array(w, lit(s"qq${r}q")))
            .otherwise(array(w)))), " "))
      .withColumn("n_chars", length(col("text")).cast("long")))
    replicate("embeddings")((df, r) => df
      .withColumn("vec_id", col("vec_id") + lit(r * K))
      .withColumn("embedding",
        if (r == 0) col("embedding")
        else transform(col("embedding"), (x, i) =>
          when(i === lit(r % 64), x + lit((r * 0.001).toFloat)).otherwise(x))))
    spark.stop()
  }
}
