package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every memo goes through [[graft.util.Memo]], so `Memo.resetAll()`
  * (Bench's sweep) reaches it. A hand-rolled memo — a `TrieMap`, or a
  * `ConcurrentHashMap` filled with `computeIfAbsent` — escapes the
  * sweep and silently makes cold numbers wrong, so no main source but
  * `graft/util/Memo.scala` may mention either. */
class MemoGuardSpec extends AnyFunSuite {
  test("no main source outside graft.util.Memo declares a TrieMap or calls computeIfAbsent") {
    val offenders = MainSources.linesOutside("graft/util/Memo.scala") { line =>
      line.contains("TrieMap") || line.contains("computeIfAbsent")
    }
    assert(offenders.isEmpty,
      s"hand-rolled memo outside graft.util.Memo (use Memo instead):\n${offenders.mkString("\n")}")
  }
}
