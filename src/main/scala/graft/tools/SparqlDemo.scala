package graft.tools

import graft.kg.{Sparql, SparqlQueries}

/** Run SPARQL text against the statement store — from a .rq FILE or
  * the built-in flagship. Any of the four query forms runs: SELECT
  * prints its solutions, CONSTRUCT its statement rows, ASK one
  * `(ask, n_matches)` row, DESCRIBE the statements touching its
  * variable's solutions. Usage:
  *   sbt 'runMain graft.tools.SparqlDemo [path/to/query.rq]'
  * Reads SPARK_GRAFT_SF_DIR (default sf0.01). Dialect maps are empty
  * here; pass prefixed-vocabulary queries through [[Sparql.run]]'s
  * alias parameters in code.
  */
object SparqlDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder(master = "local[8]", shufflePartitions = 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val text =
      if (args.nonEmpty) new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(args(0))), "UTF-8")
      else SparqlQueries.flagship
    println("---- query ----\n" + text + "\n---- result ----")
    val df = Sparql.run(spark, dir, text)
    df.show(20, truncate = false)
    println(s"${df.count()} rows")
    spark.stop()
  }
}
