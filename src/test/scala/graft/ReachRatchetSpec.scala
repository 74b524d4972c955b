package graft

import java.io.{ByteArrayOutputStream, PrintWriter}
import java.nio.file.{Files, Path, Paths}
import java.util.spi.ToolProvider

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** Ratchet on unreached code. The entry points are `Cli` (production)
  * and `Bench`, `Verify` and `SparkEntry` (the oracle gates); perfbench
  * calls only classes `Cli` reaches. Code only specs use is dead code,
  * and each failure names it.
  *
  *  - Per file: every `src/main` file holds at least one class the
  *    entry points reach. The class graph is `jdeps -verbose:class
  *    -filter:none` over the compiled main classes.
  *  - Per method: every method of an `object` is reached from the entry
  *    points, or from a [[keep]] entry. The call graph is read from
  *    `javap -c -p` over the same classes (see [[reach]]).
  *
  * Both tools run in-process through their `ToolProvider`; `javap`
  * also maps each class to the source file named in its `SourceFile`
  * attribute.
  */
class ReachRatchetSpec extends AnyFunSuite {
  import ReachRatchetSpec._

  private val roots = Seq("graft.Cli", "graft.Bench", "graft.Verify", "graft.SparkEntry")

  /** Methods of objects that no entry point reaches but that stay, as
    * `"File.scala: method" -> reason`. A face stays only if it is (a) a
    * reference that specs compare a reached face against, (b) the only
    * way a spec can build state for a reached face, or (c) a test hook;
    * `Storage.loadAppend` is the one exception, for the frozen
    * benchmark's sake. What a kept method calls counts as reached. An
    * entry that is reached (from the entry points or another entry) or
    * no longer exists fails the spec, so the list only shrinks.
    */
  private val keep: Map[String, String] = Map(
    "Similarity.scala: cosine" -> ("(a) CosineExpressionSpec checks the native " +
      "cosine_sim against this HOF fold, and dot_product against the dot fold it is built from"),
    "Dedup.scala: explodedShinglesWindowed" ->
      "(a) DedupSpec checks the native word_shingles path against this window form",
    "Dedup.scala: minhashSignaturesAgg" ->
      "(a) MinHashSignatureSpec checks the native minhash_sig against this aggregate",
    "Dedup.scala: simhash16" ->
      "(a) DedupSpec checks the native simhash_bits against this HOF form",
    "Dedup.scala: simhashSignaturesAgg" ->
      "(a) DedupSpec checks the native SimHash signatures against this aggregate",
    "Dedup.scala: simhashSignatures64Agg" ->
      "(a) DedupSpec checks the native 64-bit SimHash against this aggregate",
    "Dedup.scala: winnowingFingerprintsHof" ->
      "(a) DedupSpec checks the native winnow_fp against this HOF form",
    "Dedup.scala: dotExactHof" ->
      "(a) DotExactSpec checks the native dot_product_exact against this HOF fold",
    "TextIndex.scala: append" ->
      "(b) builds the appended batches the delete and compact specs run against",
    "HttpDocFetcher.scala: clearTokenCache" ->
      "(c) resets the process-wide token cache between HttpDocFetcherSpec cases",
    "Storage.scala: loadAppend" ->
      "perfbench's report workload calls it, and perfbench/ is the frozen benchmark")

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

  private val sources = Paths.get("src/main/scala")

  private lazy val classes: Path = {
    assert(Files.isDirectory(sources), s"run from the project root: $sources missing")
    val cli = getClass.getClassLoader.getResource("graft/Cli.class")
    assert(cli != null && cli.getProtocol == "file", s"graft/Cli.class is not a file: $cli")
    val dir = Paths.get(cli.toURI).getParent.getParent
    assert(Files.isDirectory(dir), s"main classes are not a directory: $dir")
    dir
  }

  /** The compiled program, parsed from `javap -c -p`: class name ->
    * [[Cls]]. Constructors are `<init>`, static initializers `<clinit>`.
    */
  private lazy val program: Map[String, Cls] = {
    val files = walk(classes).map(_.toString).filter(_.endsWith(".class"))
    val Source = """Compiled from "([^"]+)"""".r
    val Header = """(?:[a-z]+ )*(?:class|interface) ([\w.$]+)(?: extends ([\w.$, ]+?))?(?: implements ([\w.$, ]+))? \{""".r
    val Ref = """.*// (Method|InterfaceMethod|Field|class) ([^:]+).*""".r
    def noGenerics(s: String): String = {
      var depth = 0
      s.filter { ch =>
        if (ch == '<') depth += 1 else if (ch == '>') depth -= 1
        depth == 0 && ch != '>'
      }
    }
    def names(list: String): Seq[String] =
      Option(list).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    final class Building(val source: String, val supers: Seq[String]) {
      val fields = mutable.Set.empty[String]
      val methods = mutable.LinkedHashMap.empty[String,
        (Boolean, mutable.ArrayBuffer[(String, Option[String])])]
    }
    val out = mutable.LinkedHashMap.empty[String, Building]
    var source = ""
    var cls = ""
    var refs: Option[mutable.ArrayBuffer[(String, Option[String])]] = None
    tool("javap", Seq("-c", "-p") ++ files).split("\n").foreach {
      case Source(s) => source = s
      case l if !l.startsWith(" ") && l.endsWith("{") =>
        noGenerics(l) match {
          case Header(name, ext, impl) =>
            cls = name
            out(cls) = new Building(source, names(ext) ++ names(impl))
          case other => fail(s"unparsed javap class header: $other")
        }
      case l if l.startsWith("  ") && !l.startsWith("   ") && l.endsWith(";") =>
        val decl = l.trim
        val paren = decl.indexOf('(')
        refs =
          if (decl.endsWith("static {};")) Some(out(cls).methods.getOrElseUpdate("<clinit>",
            (true, mutable.ArrayBuffer.empty))._2)
          else if (paren >= 0) {
            val name = decl.take(paren).split(' ').last
            val static = (" " + decl.take(paren)).contains(" static ")
            Some(out(cls).methods.getOrElseUpdate(if (name == cls) "<init>" else name,
              (static, mutable.ArrayBuffer.empty))._2)
          } else {
            out(cls).fields += decl.stripSuffix(";").split(' ').last
            None
          }
      case Ref(kind, target) if refs.isDefined =>
        // `owner.name`, `name` (a member of this class), or a class;
        // internal names use '/', so the last '.' ends the owner
        val member = target.trim.replace("\"", "")
        val dot = if (kind == "class") member.length else member.lastIndexOf('.')
        val owner = if (dot < 0) cls else member.take(dot).replace('/', '.')
        refs.get += owner -> (if (kind == "class" || kind == "Field") None
          else Some(member.drop(dot + 1)))
      case _ => ()
    }
    out.map { case (c, b) =>
      c -> Cls(b.source, b.supers, b.fields.toSet,
        b.methods.map { case (m, (s, r)) => m -> Method(s, r.distinct.toSeq) }.toMap)
    }.toMap
  }

  /** Program supertypes of `c`, transitively. */
  private def ancestors(c: String): Set[String] = {
    val seen = mutable.Set.empty[String]
    var frontier = Seq(c)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(program.get).flatMap(_.supers)
        .filter(program.contains).filterNot(seen)
      seen ++= frontier
    }
    seen.toSet
  }

  private lazy val subclasses: Map[String, Set[String]] =
    program.keys.toSeq.flatMap(c => ancestors(c).map(_ -> c)).groupMap(_._1)(_._2)
      .view.mapValues(_.toSet).toMap

  /** An object that extends a library type other than the marker
    * traits every object may carry: the library dispatches to its
    * methods (a Spark `Strategy`, a case-class companion's function
    * type), so all of them count as reached.
    */
  private def libraryTyped(c: String): Boolean =
    (ancestors(c) + c).flatMap(a => program(a).supers).exists(s => !program.contains(s) &&
      !Set("java.lang.Object", "java.io.Serializable", "scala.Product", "scala.Equals")(s))

  /** Methods reached from every method of the entry objects and from
    * `extra`, under these rules: an `invoke*` of `C.m` reaches `m` in
    * `C`, its program supertypes and its program subclasses; a reached
    * method reaches its lambda bodies (`$anonfun$m$…`), its default
    * getters (`m$default$N`) and its lazy initializer; a referenced
    * class reaches its static and instance initializers and its
    * supertypes; a referenced class that is not an object, or an
    * object of a library type, reaches all its instance methods.
    */
  private def reach(extra: Set[(String, String)]): Set[(String, String)] = {
    val reachedMethods = mutable.Set.empty[(String, String)]
    val reachedClasses = mutable.Set.empty[String]
    val work = mutable.Stack.empty[(String, String)]
    def method(c: String, m: String): Unit =
      if (program.get(c).exists(_.methods.contains(m)) && reachedMethods.add(c -> m)) {
        work.push(c -> m)
        cls(c)
      }
    def cls(c: String): Unit =
      if (program.contains(c) && reachedClasses.add(c)) {
        method(c, "<clinit>")
        method(c, "<init>")
        val k = program(c)
        if (!k.module || libraryTyped(c))
          k.methods.foreach { case (m, d) => if (!d.static) method(c, m) }
        ancestors(c).foreach(cls)
      }
    roots.flatMap(r => Seq(r, r + "$")).foreach { r =>
      assert(program.contains(r), s"entry class $r missing from $classes")
      program(r).methods.keys.foreach(method(r, _))
    }
    extra.foreach { case (c, m) => method(c, m) }
    while (work.nonEmpty) {
      val (c, m) = work.pop()
      val k = program(c)
      val lambdaOwner = if (m == "<init>" || m == "<clinit>") "new" else m
      k.methods.keys.filter(n => n.startsWith("$anonfun$" + lambdaOwner + "$") ||
        n.startsWith(m + "$default$") || n == m + "$lzycompute").foreach(method(c, _))
      k.methods(m).refs.foreach { case (owner, target) =>
        cls(owner)
        target.foreach { t =>
          (ancestors(owner) ++ subclasses.getOrElse(owner, Set.empty) + owner)
            .foreach(method(_, t))
        }
      }
    }
    reachedMethods.toSet
  }

  /** `File.scala: method` of every reportable method of an object:
    * compiler-made members are left out, and a local def or a lambda
    * body is reported through the method that holds it.
    */
  private lazy val objectMethods: Map[String, Set[(String, String)]] = {
    val CompilerMade = """<init>|<clinit>|writeReplace|readResolve|\$deserializeLambda\$|.*\$lzycompute|.*\$anonfun\$.*|.*\$default\$\d+|.*\$\d+""".r
    val caseCompanion = Set("apply", "unapply", "toString")
    program.toSeq.filter(_._2.module).flatMap { case (c, k) =>
      val isCaseCompanion = program.get(c.stripSuffix("$")).exists(_.caseClass)
      k.methods.keys.collect {
        case m if !CompilerMade.matches(m) && !(isCaseCompanion && caseCompanion(m)) =>
          s"${k.source}: ${m.split("\\$\\$").last}" -> (c -> m)
      }
    }.groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
  }

  test("every src/main file holds a class that Cli or a gate entry point reaches") {
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
    val reachedFiles = reached.flatMap(program.get).map(_.source)

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

  test("every method of an object is reached from Cli or a gate entry point, or kept") {
    val stale = keep.keys.toSeq.sorted.filter { k =>
      objectMethods.get(k).forall(_.exists(reach((keep.keys.toSet - k).flatMap(objectMethods))))
    }
    assert(stale.isEmpty,
      s"keep-list entries that the entry points or the other entries reach, or that no " +
        s"longer exist; remove them: ${stale.mkString(", ")}")
    val reached = reach(keep.keys.flatMap(objectMethods).toSet)
    val unreached = objectMethods.toSeq.collect {
      case (name, ms) if !ms.exists(reached) => name
    }.sorted
    assert(unreached.isEmpty,
      s"${unreached.size} methods of objects are reached from neither Cli, Bench, Verify, " +
        s"SparkEntry nor the keep-list; delete them, or keep them with a reason: " +
        unreached.mkString(", "))
  }
}

object ReachRatchetSpec {

  /** One compiled method: static or not, and the program members its
    * bytecode names — `(owner, Some(method))` for an `invoke*`,
    * `(owner, None)` for a field or class reference.
    */
  private final case class Method(static: Boolean, refs: Seq[(String, Option[String])])

  /** One compiled class, with its direct supertypes. */
  private final case class Cls(source: String, supers: Seq[String], fields: Set[String],
      methods: Map[String, Method]) {
    def module: Boolean = fields("MODULE$")
    def caseClass: Boolean = methods.contains("productPrefix")
  }
}
