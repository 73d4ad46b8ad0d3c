package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every engine-side parquet read goes through
  * [[graft.sources.Tables.parquet]], which resolves the schema on the
  * driver. A bare `spark.read.parquet` runs one Spark job per call to
  * infer it, so no main source but `graft/sources/Tables.scala` may
  * call `read.parquet(`. */
class ParquetReadGuardSpec extends AnyFunSuite {
  test("no main source outside graft.sources.Tables calls read.parquet") {
    val offenders = MainSources.linesOutside("graft/sources/Tables.scala")(_.contains("read.parquet("))
    assert(offenders.isEmpty,
      s"parquet read outside graft.sources.Tables (use Tables.parquet):\n${offenders.mkString("\n")}")
  }
}
