package graft

import java.nio.file.{Files, Path, Paths}

import org.scalactic.source.Position
import org.scalatest.Assertions

import graft.kg.SparqlQueries

/** The reference `.rq` corpus as the specs see it: where it is looked
  * for, whether it is there, and which registry keys read it at run
  * time ([[SparqlQueries.referenceRunners]]). The corpus is a test
  * input that lives outside this repository, so specs that need its
  * bytes guard on [[assumePresent]] (a cancel that names the path and
  * the override property), and the plan-hygiene gates leave out exactly
  * [[keys]] where it is absent. */
object ReferenceCorpus extends Assertions {

  /** The system property that moves the corpus (forwarded by build.sbt
    * from the sbt JVM to the forked test JVM). */
  val property = "graft.reference.queries.dir"

  /** Read per call: a spec may point the property elsewhere for a while. */
  def dir: Path = Paths.get(SparqlQueries.referenceQueriesDir)

  def present: Boolean = Files.isDirectory(dir)

  /** The registry keys that cannot run without the corpus. */
  def keys: Set[String] = SparqlQueries.referenceRunners.values.toSet

  /** Cancel the calling test unless the corpus directory exists. */
  def assumePresent()(implicit pos: Position): Unit =
    if (!present) cancel(s"reference .rq corpus not found at '$dir' — point " +
      s"-D$property at a checkout of the reference's " +
      "data-publishing/factgrid/queries directory")
}
