package graft

import java.io.{ByteArrayOutputStream, PrintWriter}
import java.nio.file.{Files, Path, Paths}
import java.util.spi.ToolProvider

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Ratchet on unreached code: every `src/main` file holds at least one
  * class that the program's entry points reach. The entry points are
  * `Cli` (production) and `Bench`, `Verify` and `SparkEntry` (the
  * oracle gates); perfbench calls only classes `Cli` reaches. A file
  * only specs use is dead code, and the failure names each one.
  *
  * The class graph is `jdeps -verbose:class -filter:none` over the
  * compiled main classes, run in-process through its `ToolProvider`;
  * `javap` (also in-process) maps each class to the source file named
  * in its `SourceFile` attribute.
  */
class ReachRatchetSpec extends AnyFunSuite {

  private val roots = Seq("graft.Cli", "graft.Bench", "graft.Verify", "graft.SparkEntry")

  private def tool(name: String, args: Seq[String]): String = {
    val t = ToolProvider.findFirst(name).orElseThrow(() =>
      new AssertionError(s"the JDK provides no $name tool"))
    val out = new ByteArrayOutputStream
    val err = new ByteArrayOutputStream
    val pw = new PrintWriter(out, true)
    val code = t.run(pw, new PrintWriter(err, true), args: _*)
    pw.flush()
    assert(code == 0, s"$name failed ($code): $err")
    out.toString("UTF-8")
  }

  private def walk(dir: Path): Seq[Path] = {
    val it = Files.walk(dir).iterator()
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
  }

  test("every src/main file holds a class that Cli or a gate entry point reaches") {
    val sources = Paths.get("src/main/scala")
    assert(Files.isDirectory(sources), s"run from the project root: $sources missing")
    val cli = getClass.getClassLoader.getResource("graft/Cli.class")
    assert(cli != null && cli.getProtocol == "file", s"graft/Cli.class is not a file: $cli")
    val classes = Paths.get(cli.toURI).getParent.getParent
    assert(Files.isDirectory(classes), s"main classes are not a directory: $classes")

    // class -> classes it refers to, within the program
    val Edge = ("""\s+(\S+)\s+->\s+(\S+)\s+""" + java.util.regex.Pattern.quote(
      classes.getFileName.toString) + """\s*""").r
    val edges = tool("jdeps", Seq("-verbose:class", "-filter:none", classes.toString))
      .split("\n").toSeq.collect { case Edge(from, to) => from -> to }
      .groupMap(_._1)(_._2)

    val reached = scala.collection.mutable.Set.empty[String]
    var frontier = roots.flatMap(r => Seq(r, r + "$")).filter(edges.contains)
    assert(frontier.size == 2 * roots.size, s"entry classes missing from $classes")
    while (frontier.nonEmpty) {
      val fresh = frontier.filterNot(reached)
      reached ++= fresh
      frontier = fresh.flatMap(edges.getOrElse(_, Nil)).distinct
    }

    // class -> source file name, from javap's "Compiled from" header
    val classFiles = walk(classes).filter(_.toString.endsWith(".class")).map(_.toString)
    val Header = """Compiled from "([^"]+)"""".r
    val Decl = """.*?\b(?:class|interface)\s+([\w.$]+).*""".r
    val fileOf = tool("javap", classFiles).split("\n").toSeq
      .sliding(2).collect { case Seq(Header(src), Decl(cls)) => cls -> src }.toMap
    val reachedFiles = reached.flatMap(fileOf.get)

    val mainFiles = walk(sources).filter(_.toString.endsWith(".scala"))
    val byName = mainFiles.groupBy(_.getFileName.toString)
    assert(byName.forall(_._2.size == 1),
      s"source file names must be unique for the class map: ${byName.filter(_._2.size > 1).keys}")
    val unreached = mainFiles.filterNot(f => reachedFiles(f.getFileName.toString))
      .map(sources.relativize(_).toString).sorted
    assert(unreached.isEmpty,
      s"${unreached.size} src/main files hold no class that Cli, Bench, Verify or SparkEntry " +
        s"reaches; delete them or move them to src/test: ${unreached.mkString(", ")}")
  }
}
