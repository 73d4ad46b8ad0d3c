package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every memo goes through [[graft.util.Memo]], so `Memo.resetAll()`
  * (Bench's sweep) reaches it. A hand-rolled memo — a `TrieMap`, or a
  * `ConcurrentHashMap` filled with `computeIfAbsent` — escapes the
  * sweep and silently makes cold numbers wrong, so no main source but
  * `graft/util/Memo.scala` may mention either. */
class MemoGuardSpec extends AnyFunSuite {
  test("no main source outside graft.util.Memo declares a TrieMap or calls computeIfAbsent") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"main sources not found at ${root.toAbsolutePath}")
    val memo = root.resolve("graft/util/Memo.scala")
    val walk = Files.walk(root)
    val sources = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val offenders = for {
      f <- sources if f != memo
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("TrieMap") || line.contains("computeIfAbsent")
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
    assert(sources.contains(memo), "graft/util/Memo.scala is missing")
    assert(offenders.isEmpty,
      s"hand-rolled memo outside graft.util.Memo (use Memo instead):\n${offenders.mkString("\n")}")
  }
}
