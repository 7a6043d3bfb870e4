package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Source rules of the main tree.
  *
  * Cross-query state has one owner, [[StateCache]]: no other main source
  * declares a concurrent map or set (`val`/`var` of a ConcurrentHashMap,
  * TrieMap or newKeySet) or names a retired lifetime mechanism. PairGate's
  * ConcurrentLinkedQueue is a record log, not a cache, and stays allowed.
  *
  * Each operator rule has one definition: a marker unique to the rule's
  * expression (matching its inline copies too) occurs exactly once.
  *
  * The query keys are declared once, in the registry's family objects:
  * the tools that run every key name none of them. The registry reads
  * parquet only through `Sources.readParquet`, one listing and schema per
  * table snapshot.
  *
  * Every public def of the library is reached: named, transitively, from
  * the registry, the benchmark harness or a tool entry point, or listed
  * with its reason in [[allowed]]. Specs are not roots, so code that only
  * a spec calls fails the rule.
  */
class SourceAuditSpec extends SparkSpec {
  import SourceAuditSpec.Member

  private val mapField =
    """(?s)\b(val|var)\s+\w+[^=\n]*=\s*(new\s+)?[\w.]*\b(ConcurrentHashMap|TrieMap|newKeySet)\b""".r
  private val retired = """\b(pinForProcess|clearShared|onSupersede)\b""".r

  private val sources: Map[Path, String] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8")).toMap
  }

  test("only StateCache declares a concurrent map or names a retired lifetime mechanism") {
    val (owner, others) = sources.partition(_._1.getFileName.toString == "StateCache.scala")
    assert(owner.size === 1)
    assert(owner.values.forall(mapField.findFirstIn(_).isDefined)) // the pattern finds a field
    val hits = others.toSeq.flatMap { case (p, src) =>
      (mapField.findAllIn(src) ++ retired.findAllIn(src)).map(m => s"$p: ${m.take(80)}")
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  private val oneDefinition: Seq[(String, String)] = Seq(
    "input spread" -> """getNumPartitions""",
    "word n-grams of a text" -> """(?<!def )wordNgrams\(""",
    "gram screen" -> """spark\.graft\.decontaminate\.maxSuiteGrams""",
    "int8 screen predicate" -> """dotInt8\(col\("ca"\), col\("cb"\)\)""",
    "exact-verify join-back" -> """normExact\(vecCol\)\.as\("nd"\)""",
    "single-query prelude" -> """query\.select\(col\(idCol\), col\(vecCol\)\)\.head\(\)""",
    "top-k screen projection" -> """\.as\("__dcos"\)""",
    "integral id test" -> """LongType \|\s*(org\.apache\.spark\.sql\.types\.)?IntegerType""",
    "label-sum probe" -> """cast\("decimal\(38,0\)"\)\)\)\.head\(\)""",
    "undirected setup" -> """half\.select\(col\("dst"\)\.as\("src"\), col\("src"\)\.as\("dst"\)\)""",
    "purchase graph" -> """col\("o_custkey"\) \* 2""",
    "purchase node rendering" -> """concat\(lit\("c"\), shiftright\(""",
    "off-peak gap" -> """\((open|col\("open"\)) - (prev|lag\(col\("open"\), 1\))""",
    "on-peak gap" ->
      """\((close|col\("close"\)) - (open|col\("open"\))\) / (nullif\((open|col\("open"\)), lit|open \*)""",
    "n-day % change" -> """first\((value|col\("close"\))\)\.over""",
    "Pearson from moments" -> """sqrt\((n|col\("n"\)) \* col\((sxx|"sxx"|"srr")\)""",
    "top-10 active entities" -> """\.limit\(10\)\.select\("user_id"\)""")

  test("each operator rule has exactly one definition in src/main") {
    val wrong = oneDefinition.flatMap { case (rule, marker) =>
      val hits = sources.toSeq.map { case (p, src) => p -> marker.r.findAllIn(src).length }
        .filter(_._2 > 0)
      if (hits.map(_._2).sum == 1) None
      else Some(s"$rule: ${hits.map { case (p, n) => s"$p×$n" }.mkString(", ")}")
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  private def source(file: String): String =
    sources.collectFirst { case (p, src) if p.getFileName.toString == file => src }.get

  test("the reference-formula keys call Fns") {
    val family = source("ReferenceQueries.scala")
    val missing = Seq("Fns.gapOffPeak(", "Fns.gapOnPeak(", "Fns.pctChangeFromFirst(",
      "Fns.sma(", "Fns.dollarVolume(").filterNot(family.contains(_))
    assert(missing.isEmpty, missing.mkString(", "))
  }

  test("the registry reads parquet through Sources, never spark.read") {
    val hits = sources.toSeq.filter(_._1.toString.contains("/registry/"))
      .flatMap { case (p, src) => """\.read\.parquet\(""".r.findAllIn(src).map(m => s"$p: $m") }
    assert(hits.isEmpty, hits.mkString("\n"))
    assert(source("GraphQueries.scala").contains("Sources.readParquet(")) // the reader is there
  }

  test("the tools name no query key: they iterate the registry") {
    val keyLiteral = """"q(_|\d+_)\w+"""".r
    val hits = Seq("ScaleBench.scala", "Verify.scala").flatMap { f =>
      keyLiteral.findAllIn(source(f)).map(k => s"$f: $k")
    }
    assert(hits.isEmpty, hits.mkString("\n"))
    assert(keyLiteral.findFirstIn(source("Bench.scala")).isDefined) // the pattern finds a key
  }

  // ---- reach: no public def that no key, workload or tool names ----

  /** Library defs kept without a caller in the roots, each with its reason. */
  private val allowed: Map[String, String] = Map(
    "Graft.enable" -> "the library entry point a user calls on their own session (README)",
    "Sources.readCsv" -> "holdings ingest with a declared schema (PAPER.md §1 step 1)",
    "Sources.readCsvSmall" -> "config-sized holdings and sector tables (PAPER.md §1 step 1)",
    "Sources.cleanHoldings" -> "holdings normalization (PAPER.md §1 step 2)",
    "Sources.holdingsWide" -> "the holdings pivot long to wide (PAPER.md §1 step 4)",
    "Incremental.newerThanGlobal" -> "the single-table MAX(date) append (PAPER.md §1 step 3)",
    "PivotOps.pivotDynamic" -> "the pivot over a vocabulary found in the data (PAPER.md §1 step 4)",
    "PivotOps.projectToVocabulary" -> "departed-ticker column removal (PAPER.md §1 step 4)")

  private val toolEntries =
    Set("Bench", "ScaleBench", "Verify", "EntrySmoke", "PlanDump", "LoopBodyDump", "SparkEntry")

  /** `src` with comments and string literals blanked, newlines kept; an
    * interpolated string keeps the names and expressions it splices in.
    */
  private def code(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    def blank(c: Char): Unit = if (c == '\n') out += '\n'
    while (i < n) {
      if (at("//")) {
        while (i < n && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else { blank(src(i)); i += 1 }
        }
      } else if (src(i) == '\'' && i + 2 < n && src(i + 1) == '\\') {
        i = src.indexOf('\'', i + 3) + 1 // an escaped char literal
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') {
        i += 3
      } else if (src(i) == '"') {
        val interp = i > 0 && (src(i - 1).isLetterOrDigit || src(i - 1) == '_')
        val triple = at("\"\"\"")
        i += (if (triple) 3 else 1)
        var open = true
        while (i < n && open) {
          if (triple && at("\"\"\"")) {
            i += 3
            while (i < n && src(i) == '"') i += 1
            open = false
          } else if (!triple && src(i) == '"') { i += 1; open = false }
          else if (!triple && src(i) == '\\') i += 2
          else if (interp && at("$$")) i += 2
          else if (interp && at("${")) {
            val from = i + 2
            var depth = 1
            i += 2
            while (i < n && depth > 0) {
              if (src(i) == '{') depth += 1 else if (src(i) == '}') depth -= 1
              i += 1
            }
            out ++= " " ++= code(src.substring(from, i - 1)) ++= " "
          } else if (interp && src(i) == '$') {
            val from = i + 1
            i += 1
            while (i < n && (src(i).isLetterOrDigit || src(i) == '_')) i += 1
            out ++= " " ++= src.substring(from, i) ++= " "
          } else { blank(src(i)); i += 1 }
        }
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  private val declaration =
    ("""^(\s*)((?:(?:private|protected)(?:\[\w+\])?|override|final|implicit|lazy|sealed|""" +
      """abstract|case|@\w+(?:\([^)]*\))?)\s+)*(def|val|var|object|class|trait)\s+(\w+)""").r

  /** Members of `lines`: declarations outside any def or val body. */
  private def members(file: Path, lines: IndexedSeq[String]): Seq[Member] = {
    val found = Seq.newBuilder[Member]
    var enclosing = List.empty[Member]
    for ((line, i) <- lines.zipWithIndex; m <- declaration.findFirstMatchIn(line)) {
      enclosing = enclosing.dropWhile(_.end <= i)
      if (enclosing.forall(_.isContainer)) {
        val indent = m.group(1).length
        def inside(l: String) = l.trim.isEmpty || l.takeWhile(_ == ' ').length > indent ||
          (l.takeWhile(_ == ' ').length == indent && "})].".contains(l.trim.head))
        val end = lines.indexWhere(l => !inside(l), i + 1) match { case -1 => lines.length; case e => e }
        val member = Member(file, enclosing.headOption, m.group(4), m.group(3),
          Option(m.group(2)).getOrElse(""), i, end)
        found += member
        enclosing = member :: enclosing
      }
    }
    found.result()
  }

  private val reference = """(?:(\w+)\s*\.\s*)?\b([A-Za-z_]\w*)\b""".r

  /** Public defs of the audited packages that no root reaches. */
  private def unreached(main: Map[Path, String], harness: Seq[String]): Seq[String] = {
    val text = main.map { case (p, src) => p -> code(src).split("\n", -1).toIndexedSeq }
    val all = text.toSeq.flatMap { case (p, lines) => members(p, lines) }
    val byName = all.groupBy(_.name)
    val objects = all.filter(_.kind == "object").map(_.name).toSet
    val children = all.groupBy(_.owner)
    def ownText(m: Member): String = {
      val lines = text(m.file)
      val nested = children.getOrElse(Some(m), Nil).flatMap(c => c.start until c.end).toSet
      (m.start until m.end).filterNot(i => m.isContainer && (i == m.start || nested(i)))
        .map(lines).mkString("\n")
    }
    val reached = scala.collection.mutable.Set[Member]()
    val work = scala.collection.mutable.Stack[Member]()
    def reach(m: Member): Unit = if (reached.add(m)) work.push(m)
    def names(t: String): Unit = reference.findAllMatchIn(t).foreach { r =>
      val (q, name) = (Option(r.group(1)), r.group(2))
      q.foreach(n => byName.getOrElse(n, Nil).foreach(reach))
      val cands = byName.getOrElse(name, Nil)
      val owned = q.filter(objects).map(o => cands.filter(_.owner.exists(_.name == o))).getOrElse(Nil)
      (if (owned.nonEmpty) owned else cands).foreach(reach)
    }
    def root(p: Path) = p.toString.contains("/registry/") ||
      toolEntries(p.getFileName.toString.stripSuffix(".scala"))
    harness.foreach(t => names(code(t)))
    all.filter(m => root(m.file) || allowed.contains(m.qualified)).foreach(reach)
    while (work.nonEmpty) {
      val m = work.pop()
      names(ownText(m))
      m.owner.foreach(reach)
      children.getOrElse(Some(m), Nil).filter(_.rides).foreach(reach)
    }
    val audited = Seq("graft/operators/", "graft/streaming/", "graft/sources/", "graft/functions/")
    def inAudit(p: Path) = audited.exists(p.toString.contains) ||
      (p.getParent.toString.endsWith("scala/graft") && !root(p))
    all.filter(m => m.kind == "def" && !m.mods.contains("private") && !m.mods.contains("protected") &&
        inAudit(m.file) && !reached(m))
      .map(m => s"${m.file}:${m.start + 1} ${m.qualified}").sorted
  }

  private lazy val harness: Seq[String] = {
    val root = Paths.get("perfbench/src/main")
    assert(Files.isDirectory(root), s"the benchmark harness sources: ${root.toAbsolutePath}")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => new String(Files.readAllBytes(p), "UTF-8")).toSeq
  }

  test("every public library def is reached from a key, the benchmark or a tool") {
    val missing = unreached(sources, harness)
    assert(missing.isEmpty, "reached by no key, workload or tool (delete, or allow with a reason):\n" +
      missing.mkString("\n"))
    val stale = allowed.keySet.filterNot(k => sources.values.exists(_.contains(s"def ${k.split('.')(1)}")))
    assert(stale.isEmpty, s"allow-list entries with no def: $stale")
  }

  test("the reach rule sees through comments and strings, and names a dead def") {
    val base = sources.filter(_._1.getFileName.toString == "Skew.scala")
    assert(base.size === 1)
    val (path, src) = base.head
    // a comment and a plain string name deadHelper; an interpolation calls liveHelper
    val dead = src.replace("object Skew {",
      "object Skew {\n  def deadHelper(n: Int): Int = n // deadHelper(1)\n" +
        "  def liveHelper(n: Int): Int = n\n")
    val caller = Paths.get("src/main/scala/graft/registry/Probe.scala") ->
      "object Probe {\n  val s = s\"${Skew.liveHelper(1)} deadHelper(2)\"\n}\n"
    assert(unreached(sources + (path -> dead) + caller, harness).map(_.split(' ').last) ===
      Seq("Skew.deadHelper"))
  }
}

object SourceAuditSpec {

  /** A member declaration and the lines it spans (by indentation). */
  private final case class Member(file: Path, owner: Option[Member], name: String, kind: String,
                                  mods: String, start: Int, end: Int) {
    def isContainer: Boolean = Set("object", "class", "trait")(kind)
    def qualified: String = owner.fold(name)(o => s"${o.name}.$name")
    /** Reached with its container: initializers, and overrides the
      * supertype calls.
      */
    def rides: Boolean = kind == "val" || kind == "var" || mods.contains("override")
  }
}
