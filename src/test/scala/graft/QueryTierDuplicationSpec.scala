package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Ratchet against copy-pasted code, one row per source directory:
  *
  *  - the query tier (`src/main/scala/graft/queries`): each gate states
  *    its algorithm twice — in Spark and as a DuckDB oracle — and shared
  *    oracle CTEs live in named builders beside their Spark twins; a
  *    pasted CTE shows up here as a repeated window;
  *  - the operators (`src/main/scala/graft/operators`): one
  *    implementation per algorithm — the ledgered indexes share one
  *    commit protocol ([[graft.operators.IndexCommit]]) and the IVF
  *    layouts one write and one split path.
  *
  * The scan: strip surrounding whitespace from every line, slide a
  * 6-line window over each file, keep windows in which at least 5
  * lines are longer than 3 characters, and count the lines that lie in
  * any kept window occurring more than once across the directory.
  * The count may only go down; lower a row's ceiling with it.
  */
class QueryTierDuplicationSpec extends AnyFunSuite {

  private val Window = 6
  // (tier, directory, ceiling)
  private val MaxDuplicatedLines = Seq(
    ("the query tier", "src/main/scala/graft/queries", 12),
    ("the operator tier", "src/main/scala/graft/operators", 16))

  private def duplicatedLines(dir: Path): Int = {
    val files = Files.list(dir).iterator()
    val sources = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    val lines = sources.map(f =>
      f -> new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
        .split("\n", -1).map(_.trim).toIndexedSeq)
    val windows = for {
      (f, ls) <- lines
      i <- 0 to ls.length - Window
      w = ls.slice(i, i + Window)
      if w.count(_.length > 3) >= Window - 1
    } yield (w, (f, i))
    windows.groupBy(_._1).values
      .filter(_.size > 1)
      .flatMap(_.flatMap { case (_, (f, i)) => (i until i + Window).map(f -> _) })
      .toSet.size
  }

  for ((tier, d, ceiling) <- MaxDuplicatedLines)
    test(s"$tier repeats no more code than the ratchet allows") {
      val dir = Paths.get(d)
      assert(Files.isDirectory(dir), s"run from the project root: $dir missing")
      val n = duplicatedLines(dir)
      assert(n <= ceiling,
        s"$n lines of $d lie in a repeated $Window-line window (ratchet: " +
          s"$ceiling); factor the copy into one shared implementation")
    }
}
