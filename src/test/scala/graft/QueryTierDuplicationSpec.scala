package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Ratchet against copy-pasted code in the query tier
  * (`src/main/scala/graft/queries`). Each gate states its algorithm
  * twice — in Spark and as a DuckDB oracle — and shared oracle CTEs
  * live in named builders beside their Spark twins; a pasted CTE shows
  * up here as a repeated window.
  *
  * The scan: strip surrounding whitespace from every line, slide a
  * 6-line window over each file, keep windows in which at least 5
  * lines are longer than 3 characters, and count the lines that lie in
  * any kept window occurring more than once across the directory.
  * The count may only go down; lower `MaxDuplicatedLines` with it.
  */
class QueryTierDuplicationSpec extends AnyFunSuite {

  private val Window = 6
  private val MaxDuplicatedLines = 12

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

  test("the query tier repeats no more code than the ratchet allows") {
    val dir = Paths.get("src/main/scala/graft/queries")
    assert(Files.isDirectory(dir), s"run from the project root: $dir missing")
    val n = duplicatedLines(dir)
    assert(n <= MaxDuplicatedLines,
      s"$n lines of src/main/scala/graft/queries lie in a repeated " +
        s"$Window-line window (ratchet: $MaxDuplicatedLines); factor the " +
        "copy into a named builder beside its Spark twin")
  }
}
