package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The bench's two outputs: a stdout summary line that a 2,000-character
  * log tail still holds whole, and an artifact with every key's cold
  * layer split, where a failed run reads `null` rather than 0 s. */
class BenchSpec extends SparkSpec {
  private val mapper = new ObjectMapper()

  test("every registry key has a DuckDB oracle") {
    val keys = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(keys == oracles,
      s"keys without an oracle: ${keys -- oracles}; oracles without a key: ${oracles -- keys}")
  }

  test("the stdout line parses as JSON, holds only the summary and leaves failed runs out of the totals") {
    val failed = ReferenceCorpus.keys
    val runs = SparkEntry.queries.keys.toSeq.sorted.map { n =>
      if (failed(n)) Bench.Run(n, None, Seq(None, None, None))
      else Bench.Run(n, Some(Bench.Cold(1.234567891, 12.34567891, 123, 456, 7890,
        12345678901L, 12345678901L, 1234567L)), Seq(Some(2.5), Some(1.5), Some(3.5)))
    }
    assert(runs.size == 207 && failed.size == 22)
    val line = Bench.line(runs, 3, sf, "BENCH_full_c32.json")
    assert(line.length < 1500, s"${line.length} characters")
    val j = mapper.readTree(line)
    assert(j.fieldNames.asScala.toSet ==
      Set("metric", "value", "unit", "total_warm", "failed", "reps", "sf", "full"))
    assert(j.get("failed").elements.asScala.map(_.asText).toSet == failed)
    assert(math.abs(j.get("value").asDouble - 185 * (1.234567891 + 12.34567891)) < 1e-6)
    assert(math.abs(j.get("total_warm").asDouble - 185 * 2.5) < 1e-6)
  }

  test("the measurement loop records the cold run's layer split and nulls a failed key") {
    val good = "kg_khop"
    val bad = "bench_forced_failure"
    val missing: (SparkSession, String) => DataFrame =
      (s, dir) => s.read.parquet(s"$dir/no_such_table.parquet")
    val runs = Bench.measure(spark, sf, Seq(good -> SparkEntry.queries(good), bad -> missing), 1)
    assert(runs.map(_.name) == Seq(good, bad))
    assert(!runs.head.failed && runs(1).failed)

    val queries = mapper.readTree(Bench.artifact(runs, 1, sf, 4)).get("queries")
    val g = queries.get(good)
    Seq("cold", "construct_s", "action_s", "warm").foreach { f =>
      assert(g.get(f).isDouble && g.get(f).asDouble >= 0, s"$good.$f = ${g.get(f)}")
    }
    assert(math.abs(g.get("cold").asDouble -
      g.get("construct_s").asDouble - g.get("action_s").asDouble) < 1e-9)
    assert(g.get("jobs").asInt >= 1 && g.get("stages").asInt >= 1 && g.get("tasks").asInt >= 1, g)
    Seq("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes").foreach { f =>
      assert(g.get(f).isIntegralNumber && g.get(f).asLong >= 0, s"$good.$f = ${g.get(f)}")
    }
    val b = queries.get(bad)
    Seq("cold", "construct_s", "action_s", "jobs", "stages", "warm").foreach { f =>
      assert(b.get(f).isNull, s"$bad.$f = ${b.get(f)}")
    }
    assert(b.get("warm_reps").elements.asScala.forall(_.isNull))
  }
}
