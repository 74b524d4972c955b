package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Ratchet on `spark.graft.*` session knobs: each one is a second code
  * path behind a conf read. A knob whose A/B verdict is in keeps the
  * winning path and loses the read, so the count may only go down;
  * lower the ceiling with it.
  */
class KnobRatchetSpec extends AnyFunSuite {

  private val MaxKnobReads = 0

  test("src/main reads no more spark.graft.* knobs than the ratchet allows") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the project root: $root missing")
    val files = Files.walk(root).iterator()
    val reads = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
          .split("\n", -1).zipWithIndex
          .filter(_._1.contains("\"spark.graft."))
          .map { case (_, i) => s"$f:${i + 1}" }
      }.toSeq
    assert(reads.size <= MaxKnobReads,
      s"${reads.size} spark.graft.* conf reads (ratchet: $MaxKnobReads): " +
        reads.mkString(", "))
  }
}
