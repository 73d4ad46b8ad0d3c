package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.Assertions._

/** Line scans over `src/main/scala` for the source guards
  * ([[MemoGuardSpec]], [[ParquetReadGuardSpec]]): a construct that must
  * live in exactly one owner file. */
object MainSources {
  /** `file:line: text` for every main-source line outside `owner` (a
    * path under `src/main/scala`) that `hit` matches. */
  def linesOutside(owner: String)(hit: String => Boolean): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"main sources not found at ${root.toAbsolutePath}")
    val own = root.resolve(owner)
    val walk = Files.walk(root)
    val sources = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.contains(own), s"$owner is missing")
    for {
      f <- sources if f != own
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if hit(line)
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
  }
}
