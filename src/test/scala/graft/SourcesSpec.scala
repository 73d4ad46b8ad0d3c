package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.sources.{Ingest, Tables}

class SourcesSpec extends SparkSpec {

  /** Spark jobs started while `body` runs, counted with the listener
    * bus drained on both sides. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    SpecBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; SpecBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  test("Tables.load gives the schema spark.read.parquet infers, for every table") {
    Tables.all.foreach { t =>
      assert(Tables.load(spark, sf, t).schema == spark.read.parquet(s"$sf/$t.parquet").schema, t)
    }
  }

  test("Tables.parquet gives the inferred schema for multi-file and partitioned directories") {
    val docs = Tables.documents(spark, sf).repartition(3)
    val flat = Files.createTempDirectory("graft_multi").toString
    Ingest.writeParquet(docs, flat)
    val parts = Files.createTempDirectory("graft_multi_parts").toString
    Ingest.writeParquet(docs, parts, Seq("lang"))
    Seq(flat, parts).foreach { dir =>
      assert(jobsDuring(Tables.parquet(spark, dir)) == 0, dir)
      val got = Tables.parquet(spark, dir)
      assert(got.schema == spark.read.parquet(dir).schema, dir)
      assert(got.count() == docs.count(), dir)
    }
  }

  test("Tables.load runs no Spark job, nor does building the statements frame") {
    assert(jobsDuring { Tables.all.foreach(t => Tables.load(spark, sf, t)); Tables.events(spark, sf) } == 0)
    assert(jobsDuring(graft.kg.Triples.statements(spark, sf)) == 0)
    // the listener is not blind: Spark's own inference is one job
    assert(jobsDuring(spark.read.parquet(s"$sf/region.parquet")) >= 1)
  }

  test("a missing table fails and names its path") {
    val dir = Files.createTempDirectory("graft_missing").toString
    val e = intercept[Exception](Tables.load(spark, dir, "nope"))
    assert(e.getMessage.contains(s"$dir/nope.parquet"), e.getMessage)
  }

  test("a directory with no data files fails the way spark.read.parquet does") {
    val dir = Files.createTempDirectory("graft_nodata")
    Files.createFile(dir.resolve("_SUCCESS"))
    val expected = intercept[Exception](spark.read.parquet(dir.toString)).getMessage
    val e = intercept[Exception](Tables.parquet(spark, dir.toString))
    assert(e.getMessage.contains("Unable to infer schema"), e.getMessage)
    assert(e.getMessage == expected)
  }

  test("csv sink + source round-trip preserves rows") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "n_chars")
    Ingest.writeCsv(docs, dir)
    val back = Ingest.csv(spark, dir, "doc_id BIGINT, lang STRING, n_chars BIGINT")
    assert(back.count() == docs.count())
    assert(back.agg(sum("n_chars")).first().getLong(0) ==
      docs.agg(sum("n_chars")).first().getLong(0))
  }

  test("partitioned parquet sink enables partition pruning") {
    val dir = Files.createTempDirectory("graft_parts").toString
    Ingest.writeParquet(Tables.documents(spark, sf), dir, Seq("lang"))
    val pruned = spark.read.parquet(dir).filter(col("lang") === "en")
    val expected = Tables.documents(spark, sf).filter(col("lang") === "en").count()
    assert(pruned.count() == expected)
    // the pruned scan must touch only the lang=en directory
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("lang=de"))
  }

  test("orc sink + source round-trip preserves rows, prunes partitions, pushes filters") {
    val dir = Files.createTempDirectory("graft_orc").toString
    Ingest.writeOrc(Tables.documents(spark, sf), dir, Seq("lang"))
    val back = Ingest.orc(spark, dir)
    assert(back.count() == Tables.documents(spark, sf).count())
    assert(back.agg(sum("n_chars")).first().getLong(0) ==
      Tables.documents(spark, sf).agg(sum("n_chars")).first().getLong(0))
    val pruned = back.filter(col("lang") === "en").filter(col("doc_id") < 100)
      .select("doc_id")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("lang=de"), "partition pruning must skip lang=de")
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]"),
      s"doc_id filter must reach the ORC scan:\n$plan")
  }

  test("statements partitioned by p: a triple pattern is a pruned scan") {
    // the production KG layout the scale notes prescribe: statements
    // partitioned by predicate, so pattern(p) never reads other
    // predicates' files
    val dir = Files.createTempDirectory("graft_stmt_parts").toString
    Ingest.writeParquet(graft.kg.Triples.statements(spark, sf), dir, Seq("p"))
    val store = graft.kg.TripleStore(spark, spark.read.parquet(dir))
    val pattern = store.pattern("in_nation")
    val expected = graft.kg.Triples.statements(spark, sf)
      .filter(col("p") === "in_nation").count()
    assert(pattern.count() == expected)
    val plan = pattern.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no partition filter in:\n$plan")
    assert(!plan.contains("p=label"), "pattern scan read another predicate's partition")
  }

  test("Tables.events normalizes every ts encoding the generator has shipped") {
    // the events data has arrived in three parquet encodings across
    // driver regenerations; the reader contract is: whatever the file
    // says, downstream sees a µs TimestampType with the same instant.
    // Fixtures are written in-test, one per encoding:
    //   ltz  — TIMESTAMP(isAdjustedToUTC=true, MICROS)   (TimestampType)
    //   ntz  — TIMESTAMP(isAdjustedToUTC=false, MICROS)  (TimestampNTZType)
    //   long — int64 ts (what TIMESTAMP(NANOS) becomes under
    //          spark.sql.legacy.parquet.nanosAsLong), in nanos
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    import spark.implicits._
    val micros = Seq(0L, 1_700_000_000_123_456L, 86_400_000_000L)
    val base = Files.createTempDirectory("graft_events_enc").toString
    val us = micros.zipWithIndex
      .map { case (m, i) => (i.toLong, m) }
      .toDF("event_id", "us")
    us.select(col("event_id"), timestamp_micros(col("us")).as("ts"))
      .write.parquet(s"$base/ltz/events.parquet")
    // session tz is pinned UTC, so the NTZ wall-clock equals the instant
    us.select(col("event_id"),
        timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
      .write.parquet(s"$base/ntz/events.parquet")
    us.select(col("event_id"), (col("us") * 1000).as("ts")) // nanos-as-long
      .write.parquet(s"$base/long/events.parquet")
    Seq("ltz", "ntz", "long").foreach { enc =>
      val df = Tables.events(spark, s"$base/$enc")
      assert(df.schema("ts").dataType == TimestampType,
        s"$enc: ts not normalized to TimestampType")
      val got = df.orderBy("event_id").select(unix_micros(col("ts")))
        .collect().map(_.getLong(0)).toSeq
      assert(got == micros, s"$enc: decoded $got, expected $micros")
    }
  }

  test("text source reads raw lines") {
    val dir = Files.createTempDirectory("graft_txt").toString
    Tables.documents(spark, sf).select("text").limit(50)
      .write.mode("overwrite").text(dir)
    assert(Ingest.text(spark, dir).count() == 50)
  }

  test("text_mentions finds dictionary terms in documents") {
    val m = graft.dedup.Text.textMentions(spark, sf)
    assert(m.count() > 0)
    // every mentioned term must be in the part-noun dictionary
    val dictTerms = spark.read.parquet(s"$sf/part.parquet")
      .select(explode(split(lower(col("p_name")), " ")).as("t"))
      .distinct().collect().map(_.getString(0)).toSet
    val mentioned = m.select("term").distinct().collect().map(_.getString(0)).toSet
    assert(mentioned.subsetOf(dictTerms))
  }
}
