package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Ratchet on knobs: each one is a second code path behind a read.
  * Session knobs are `spark.graft.*` conf reads; process knobs are
  * `SPARK_GRAFT_*` environment names and `graft.*` system properties.
  * A knob whose A/B verdict is in keeps the winning path and loses the
  * read, and a knob whose reader is deleted goes with it, so the counts
  * may only go down; lower a ceiling with its count.
  */
class KnobRatchetSpec extends AnyFunSuite {

  private val MaxKnobReads = 0
  private val MaxProcessKnobs = 7

  private def mainLines(): Seq[(Path, String, Int)] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the project root: $root missing")
    val files = Files.walk(root).iterator()
    Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
          .split("\n", -1).zipWithIndex.map { case (l, i) => (f, l, i + 1) }
      }.toSeq
  }

  test("src/main reads no more spark.graft.* knobs than the ratchet allows") {
    val reads = mainLines().collect { case (f, l, n) if l.contains("\"spark.graft.") => s"$f:$n" }
    assert(reads.size <= MaxKnobReads,
      s"${reads.size} spark.graft.* conf reads (ratchet: $MaxKnobReads): " +
        reads.mkString(", "))
  }

  test("src/main reads no more SPARK_GRAFT_* / graft.* process knobs than the ratchet allows") {
    val Knob = "\"(SPARK_GRAFT_[A-Z0-9_]+|graft\\.[A-Za-z0-9_.]+)\"".r
    val knobs = mainLines().flatMap { case (_, l, _) => Knob.findAllMatchIn(l).map(_.group(1)) }
      .distinct.sorted
    assert(knobs.size <= MaxProcessKnobs,
      s"${knobs.size} distinct process knobs (ratchet: $MaxProcessKnobs): " +
        knobs.mkString(", "))
  }
}
