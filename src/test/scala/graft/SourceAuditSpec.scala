package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Cross-query state has one owner, [[StateCache]]: no other main source
  * declares a concurrent map or set (`val`/`var` of a ConcurrentHashMap,
  * TrieMap or newKeySet) or names a retired lifetime mechanism. PairGate's
  * ConcurrentLinkedQueue is a record log, not a cache, and stays allowed.
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
}
