package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Ratchet on schema discovery in the ingest and reporting path and in
  * the payload reads of the ledgered index families: every read there
  * states the schema its writer declared (or, for an index whose columns
  * the caller chose, reads it from one footer on the driver), so a
  * `mergeSchema` option or a schema-less `read.json(`/`read.parquet(`
  * is a read that runs a job to find a schema the code already knows.
  * The count may only go down; it is 0.
  */
class SchemaDiscoveryRatchetSpec extends AnyFunSuite {

  private val MaxDiscoveringReads = 0

  private val main = Paths.get("src/main/scala/graft")

  private def lines(f: Path): Seq[(String, Int)] =
    new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      .split("\n", -1).toSeq.zipWithIndex

  private def scalaFiles(dir: Path): Seq[Path] = {
    val it = Files.walk(dir).iterator()
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(_.toString.endsWith(".scala")).toSeq
  }

  /** The lines of member `def name` of `f`: its signature and body, up
    * to the next line indented no deeper than the `def`.
    */
  private def member(f: Path, name: String): Seq[(String, Int)] = {
    val all = lines(f)
    val start = all.indexWhere(_._1.matches(s"\\s*def $name\\b.*"))
    assert(start >= 0, s"$f has no def $name")
    val indent = all(start)._1.takeWhile(_ == ' ').length
    all(start) +: all.drop(start + 1).takeWhile { case (l, _) =>
      l.trim.isEmpty || l.takeWhile(_ == ' ').length > indent
    }
  }

  test("the ingest and reporting path discovers no schema") {
    assert(Files.isDirectory(main), s"run from the project root: $main missing")
    val scope: Seq[(Path, Seq[(String, Int)])] =
      (scalaFiles(main.resolve("pipelines")) ++ scalaFiles(main.resolve("incremental")) :+
        main.resolve("sources/PagedSource.scala")).map(f => f -> lines(f)) ++ Seq(
        main.resolve("sources/Storage.scala") -> member(main.resolve("sources/Storage.scala"), "read"),
        main.resolve("operators/Upsert.scala") ->
          member(main.resolve("operators/Upsert.scala"), "rewritePartitions"),
        main.resolve("operators/IndexCommit.scala") ->
          member(main.resolve("operators/IndexCommit.scala"), "committedRows"),
        main.resolve("operators/IndexCommit.scala") ->
          member(main.resolve("operators/IndexCommit.scala"), "payload"))
    val found = scope.flatMap { case (f, ls) =>
      ls.collect { case (l, i) if Seq("mergeSchema", "read.json(", "read.parquet(")
          .exists(l.contains) => s"$f:${i + 1}" }
    }
    assert(found.size <= MaxDiscoveringReads,
      s"${found.size} schema-discovering reads (ratchet: $MaxDiscoveringReads): " +
        found.mkString(", "))
  }
}
