package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.Assertions._

/** Line scans over `src/main/scala` for the source guards
  * ([[MemoGuardSpec]], [[ParquetReadGuardSpec]], SparqlSpec's
  * reference-runner list and compiler/registry split): a construct that
  * must live in exactly one owner file, must stay out of one, or must
  * be listed where the specs can see it. */
object MainSources {
  private val root = Paths.get("src/main/scala")

  /** Every main source file. */
  private def sources: Seq[java.nio.file.Path] = {
    assert(Files.isDirectory(root), s"main sources not found at ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** The text of every main-source line that `hit` matches. */
  def lines(hit: String => Boolean): Seq[String] =
    sources.flatMap(f => Files.readAllLines(f).asScala.filter(hit))

  /** `file:line: text` for every main-source line outside `owner` (a
    * path under `src/main/scala`) that `hit` matches. */
  def linesOutside(owner: String)(hit: String => Boolean): Seq[String] =
    located(owner, inside = false)(hit)

  /** `file:line: text` for every line of `owner` that `hit` matches. */
  def linesIn(owner: String)(hit: String => Boolean): Seq[String] =
    located(owner, inside = true)(hit)

  private def located(owner: String, inside: Boolean)(hit: String => Boolean): Seq[String] = {
    val own = root.resolve(owner)
    val all = sources
    assert(all.contains(own), s"$owner is missing")
    for {
      f <- all if (f == own) == inside
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if hit(line)
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
  }
}
