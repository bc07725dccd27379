package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every public `def`, `class`, `object` and `trait` under src/main has a
  * caller: outside comments, its name appears in src/main or in perfbench's
  * sources (which compile src/main) more often than it is defined. The
  * program entry points are the only exception, and they are a closed list,
  * so a new single-purpose main fails here. Specs do not count as callers,
  * because code that only its own spec runs is exercised by neither the
  * oracle gate nor the benchmark. Private code is the compiler's job
  * (`-Wunused:privates` in build.sbt).
  *
  * This is a name scan, not a call graph: overloads share one name, and a
  * name that also names a val, a column or a word in a string literal
  * counts as called. So the scan can miss dead code; it does not flag live
  * code.
  */
class CallerSpec extends AnyFunSuite {

  /** Public defs and types that nothing under src/main or perfbench calls,
    * kept on purpose, each with the reason.
    */
  private val Allowed: Map[String, String] = Map(
    "hash60Composed" -> "built-in twin Hash60ExpressionSpec pins the native hash60 against",
    "dotComposed" -> "built-in twin DotProductExpressionSpec pins the native dot against",
    "shinglesComposed" -> "built-in twin WordShinglesExpressionSpec pins the native shingles against",
    "markerHitsComposed" -> "built-in reference TextProfileSpec pins the profile's marker counts against",
    "bpeishTokenCountComposed" -> "built-in twin TextProfileSpec pins the native token count against",
    "fingerprintComposed" -> "built-in twin TokenFingerprintExpressionSpec pins the native fingerprint against",
    "simhashPairs" -> "all-pairs reference DedupPropertySpec pins the blocked simhashNearDupBlocked against",
    "energyEnvelope60" -> "JVM twin MediaSpec pins the relational audioEnvelope (q-catalog) against",
    "retryingPublish" -> "the documented response to SnapConflict for concurrent publishers",
    "lastAppendBatch" -> "inspection verb: a generation's exactly-once #batch mark",
    "withParseMetrics" -> "README reference-surface row W4 (late-data observability)",
    "dedupWithinWatermark" -> "README reference-surface row W5 (stateful ops)",
    "runningAuthorStats" -> "README reference-surface row W5 (stateful ops)",
    "limitPerAuthor" -> "README reference-surface row W5 (stateful ops)",
    "enrichWithStatic" -> "README reference-surface row §2.3+ (streaming joins)",
    "intervalJoin" -> "README reference-surface row §2.3+ (streaming joins)",
    "RateEnvelopeSource" -> "README reference-surface row S1")

  /** Program entry points, the objects that define `main` (and `main`
    * itself): the JVM calls them, not the code.
    */
  private val EntryPoints: Map[String, String] = Map(
    "Bench" -> "the catalog and streaming benchmark run",
    "Verify" -> "the correctness dump the DuckDB oracle gate compares",
    "AppMain" -> "the reference's spark-submit job",
    "ProducerMain" -> "the reference's producer")
  private val EntryPoint = "main"

  private def sources(root: String): Seq[(String, String)] =
    Files.walk(Paths.get(root)).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> stripComments(Files.readString(p))).toSeq

  private val CharLit = """'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'""".r

  /** `src` without its line and (nested) block comments. String and char
    * literals are kept whole, so a `//` inside one is not a comment.
    */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      val charLit =
        if (at("'")) CharLit.findPrefixOf(src.substring(i, math.min(i + 8, src.length)))
        else None
      if (at("\"\"\"")) {
        var j = src.indexOf("\"\"\"", i + 3)
        j = if (j < 0) src.length else j + 3
        while (j < src.length && src(j) == '"') j += 1
        out ++= src.substring(i, j); i = j
      } else if (at("\"")) {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        j = math.min(j + 1, src.length)
        out ++= src.substring(i, j); i = j
      } else if (charLit.isDefined) {
        out ++= charLit.get; i += charLit.get.length
      } else if (at("//")) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 1
        i += 2
        while (depth > 0 && i < src.length) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
        }
        out += ' '
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  /** A `def` with its leading modifiers on the same line. */
  private val DefSite =
    """(?m)^[ \t]*((?:(?:private|protected)(?:\[\w+\])?|override|final|implicit|inline|@\w+(?:\([^)\n]*\))?)\s+)*def\s+([A-Za-z_]\w*)""".r
  /** A `class`, `object` or `trait` with its leading modifiers. */
  private val TypeSite =
    """(?m)^[ \t]*((?:(?:private|protected)(?:\[\w+\])?|final|sealed|abstract|implicit|case|@\w+(?:\([^)\n]*\))?)\s+)*(?:class|object|trait)\s+([A-Za-z_]\w*)""".r
  private val Hidden = """\b(private|protected|override)\b""".r
  private val Word = """[A-Za-z_]\w*""".r

  private lazy val main = sources("src/main/scala")
  private lazy val callers = main ++ sources("perfbench/src/main/scala")

  /** (name, file, public) for every match of `site` under src/main. */
  private def sitesOf(site: scala.util.matching.Regex): Seq[(String, String, Boolean)] =
    main.flatMap { case (file, src) =>
      site.findAllMatchIn(src).map { m =>
        (m.group(2), file, Hidden.findFirstIn(Option(m.group(1)).getOrElse("")).isEmpty)
      }
    }
  private lazy val defs = sitesOf(DefSite)
  private lazy val types = sitesOf(TypeSite)
  private lazy val defCount: Map[String, Int] =
    (defs ++ types).groupBy(_._1).view.mapValues(_.size).toMap
  private lazy val nameCount: Map[String, Int] =
    callers.flatMap { case (_, src) => Word.findAllIn(src) }
      .groupBy(identity).view.mapValues(_.size).toMap
  private lazy val publicNames: Set[String] =
    defs.collect { case (n, _, true) if n != EntryPoint => n }.toSet
  private lazy val publicTypes: Set[String] =
    types.collect { case (n, _, true) if !EntryPoints.contains(n) => n }.toSet

  /** The object around each `def main`: the nearest object defined above it
    * in the same file.
    */
  private lazy val mainObjects: Seq[String] = main.flatMap { case (_, src) =>
    val objects = """\bobject\s+([A-Za-z_]\w*)""".r.findAllMatchIn(src).toSeq
    """\bdef\s+main\b""".r.findAllMatchIn(src).map { m =>
      objects.takeWhile(_.start < m.start).lastOption.fold("?")(_.group(1))
    }
  }

  private def uncalled(name: String): Boolean =
    nameCount.getOrElse(name, 0) <= defCount.getOrElse(name, 0)

  /** (def, parameter) for each parameter with a default value of a public
    * def in `src`. A def's parameter lists run from its name to the first
    * `{` or `=` (not `=>`) outside brackets; a parameter has a default when
    * an `=` that is not part of `=>` sits outside its own brackets.
    */
  private def defaultedParams(src: String): Seq[(String, String)] =
    DefSite.findAllMatchIn(src).toSeq
      .filter(m => Hidden.findFirstIn(Option(m.group(1)).getOrElse("")).isEmpty)
      .flatMap { m =>
        val params = Seq.newBuilder[String]
        val param = new StringBuilder
        def assignAt(t: String, i: Int) = t(i) == '=' && !t.startsWith("=>", i)
        var depth = 0
        var i = m.end
        while (i < src.length && !(depth == 0 && (src(i) == '{' || assignAt(src, i)))) {
          val c = src(i)
          if (c == ')' || c == ']') depth -= 1
          if (depth == 0 || (depth == 1 && c == ',')) {
            if (param.nonEmpty) params += param.toString
            param.clear()
          } else param += c
          if (c == '(' || c == '[') depth += 1
          i += 1
        }
        params.result().flatMap { p =>
          var d = 0
          val hasDefault = p.indices.exists { j =>
            if ("([".contains(p(j))) d += 1
            if (")]".contains(p(j))) d -= 1
            d == 0 && assignAt(p, j)
          }
          if (hasDefault) Some(m.group(2) -> p.takeWhile(_ != ':').trim.split("\\s+").last)
          else None
        }
      }

  test("every public def under src/main is named outside its definitions in src/main or perfbench") {
    val dead = publicNames.filter(n => uncalled(n) && !Allowed.contains(n))
    val sites = defs.collect { case (n, f, true) if dead(n) => s"$f: $n" }.sorted
    assert(sites.isEmpty,
      s"public defs with no caller (delete them, or allow one with a reason):${sites.mkString("\n  ", "\n  ", "")}")
  }

  test("every public class, object and trait under src/main is named outside its definitions, or is an entry point") {
    val dead = publicTypes.filter(n => uncalled(n) && !Allowed.contains(n))
    val sites = types.collect { case (n, f, true) if dead(n) => s"$f: $n" }.sorted
    assert(sites.isEmpty,
      s"public types with no caller (delete them, or allow one with a reason):${sites.mkString("\n  ", "\n  ", "")}")
  }

  test("every allowed name is still a public def under src/main and still has no caller") {
    val public = publicNames ++ publicTypes
    val gone = Allowed.keys.filterNot(public).toSeq.sorted
    val called = Allowed.keys.filter(n => public(n) && !uncalled(n)).toSeq.sorted
    assert(gone.isEmpty, s"allowed names no longer defined: $gone")
    assert(called.isEmpty, s"allowed names that gained a caller (drop them from Allowed): $called")
    assert(Allowed.values.forall(_.trim.nonEmpty), "every allowed name carries a reason")
  }

  test("every default parameter of a public SnapTables def is passed by name in src/main or perfbench") {
    val (file, src) = main.find(_._1.endsWith("ops/SnapTables.scala"))
      .getOrElse(fail("no SnapTables.scala under src/main"))
    val defaulted = defaultedParams(src)
    assert(defaulted.map(_._2).contains("keepGens"), s"the scan found only $defaulted")
    val others = callers.filterNot(_._1 == file).map(_._2)
    val unset = defaulted.filterNot { case (d, p) =>
      Allowed.contains(d) ||
        others.exists(s => raw"\b$p\s*=(?![=>])".r.findFirstIn(s).isDefined)
    }
    assert(unset.isEmpty,
      s"defaults no caller sets (drop the parameter, or pass it by name where a caller varies it):" +
        unset.map { case (d, p) => s"$d($p)" }.mkString("\n  ", "\n  ", ""))
  }

  test("the objects that define main are exactly the listed entry points") {
    assert(mainObjects.sorted == EntryPoints.keys.toSeq.sorted,
      s"objects with a main: ${mainObjects.sorted} (a new one is a new entry point: " +
        "fold it into Bench or Verify, or list it with a reason)")
    assert(EntryPoints.values.forall(_.trim.nonEmpty), "every entry point carries a reason")
  }
}
