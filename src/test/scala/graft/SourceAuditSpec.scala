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
  */
class SourceAuditSpec extends SparkSpec {

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
    "word n-gram table" -> """[^.]tokens\(textCol\)\.as\("__toks"\)""",
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

  test("the reference-formula keys call Fns") {
    val entry = sources.collectFirst {
      case (p, src) if p.getFileName.toString == "SparkEntry.scala" => src
    }.get
    val missing = Seq("Fns.gapOffPeak(", "Fns.gapOnPeak(", "Fns.pctChangeFromFirst(",
      "Fns.sma(", "Fns.dollarVolume(").filterNot(entry.contains(_))
    assert(missing.isEmpty, missing.mkString(", "))
  }
}
