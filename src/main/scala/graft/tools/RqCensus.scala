package graft.tools

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.kg.Sparql

/** Parse census over a DIRECTORY of .rq files — how much of a real
  * query corpus the compiler's text surface accepts structurally, and
  * the exact reject reason for the rest (always a loud, specific
  * message — never a silently wrong plan). Usage:
  *
  *   sbt 'runMain graft.tools.RqCensus <dir-with-rq-files>'
  *
  * Parse-level only (dialect maps bind at compile time): a PARSE line
  * means the file's structure — BGPs, OPTIONAL/UNION groups, property
  * paths (parsed with the query), label service, MINUS/NOT EXISTS,
  * VALUES, BINDs, aggregates — is fully recognized, and running it is
  * a matter of supplying the deployment's predicate/entity alias maps.
  * A reject line carries the parser's message for the first construct
  * outside the supported subset.
  */
object RqCensus {
  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args.headOption.getOrElse(
      throw new IllegalArgumentException("usage: RqCensus <dir-with-rq-files>")))
    val files = Files.list(dir).iterator().asScala.toList
      .filter(_.getFileName.toString.endsWith(".rq")).sortBy(_.getFileName.toString)
    require(files.nonEmpty, s"no .rq files under $dir")
    var ok = 0
    val results = files.map { f: Path =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      val name = f.getFileName.toString
      try {
        val q = Sparql.parse(text)
        val b = q.body
        ok += 1
        val bits = Seq(
          if (b.patterns.nonEmpty) Some(s"${b.patterns.size} patterns") else None,
          if (b.optionals.nonEmpty) Some(s"${b.optionals.size} optional") else None,
          if (b.unions.nonEmpty) Some(s"${b.unions.map(_.size).sum} union branches") else None,
          if (b.minuses.nonEmpty) Some(s"${b.minuses.size} minus/not-exists") else None,
          if (b.values.nonEmpty) Some(s"${b.values.size} values") else None,
          if (b.binds.nonEmpty || b.iriBinds.nonEmpty)
            Some(s"${b.binds.size + b.iriBinds.size} binds") else None,
          b.labelLangs.map(l => s"label[${l.mkString(",")}]"),
          if (b.services.nonEmpty)
            Some(s"${b.services.size} service[${b.services.map(_.endpoint.replaceAll("https?://|/sparql$", "")).mkString(",")}]") else None,
          if (b.ifBinds.nonEmpty) Some(s"${b.ifBinds.size} if-binds") else None,
          if (q.aggs.nonEmpty) Some(s"${q.aggs.size} aggs") else None
        ).flatten.mkString(", ")
        f"$name%-55s PARSE   $bits"
      } catch {
        case e: Exception =>
          f"$name%-55s reject  ${e.getMessage.linesIterator.next().take(100)}"
      }
    }
    results.foreach(println)
    println(f"%n$ok/${files.size} files parse structurally")
  }
}
