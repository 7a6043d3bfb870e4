package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles}
import scala.collection.immutable.ListMap
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One run's human-readable table and JSON artifact. */
final case class Report(a: Main.Args, w: Workload, inputs: Gen.Written, cores: Int,
                        memoS: Double, loop: ClosedLoop.Run,
                        finishErrors: Seq[String], e2e: Seq[(String, Double, String)],
                        tail: Option[Stats.Tail], failedFrac: Double,
                        perLayer: Map[String, (Double, String)]) {

  def print(): Unit = {
    loop.results.filter(_.error.isDefined).foreach(r => println(s"FAILED ${r.label}: ${r.error.get}"))
    finishErrors.foreach(e => println(s"FAILED invariant: $e"))
    println(f"workload ${w.name} seed ${a.seed} trace ${if (a.trace) 1 else 0}: " +
      f"${loop.attempted} ops in ${loop.wallSeconds}%.2f s, ${inputs.rows} input rows, " +
      f"${inputs.bytes} input bytes, closed loop, 1 client, $cores cores")
    e2e.foreach { case (k, v, u) => println(f"  $k%-20s $v%14.6f $u") }
    println(f"  ${"failed_frac"}%-20s $failedFrac%14.6f ratio")
    tail match {
      case Some(t) => println(f"  ${"op_tail_s"}%-20s ${t.value}%14.6f s (p${t.percentile}, n=${t.n})")
      case None => println(s"  op_tail_s            omitted (${loop.okSeconds.size} samples)")
    }
    perLayer.toSeq.sortBy(_._1).foreach { case (k, (v, u)) => println(f"  $k%-36s $v%18.6f $u") }
  }

  def artifact: ListMap[String, Any] = ListMap(
    "workload" -> w.name,
    "seed" -> a.seed,
    "trace" -> (if (a.trace) 1 else 0),
    "loop" -> "closed, 1 client",
    "cores" -> cores,
    "input_rows" -> inputs.rows,
    "input_bytes" -> inputs.bytes,
    "memo_build_s" -> memoS,
    "wall_s" -> loop.wallSeconds,
    "attempted" -> loop.attempted,
    "failed_frac" -> Json.num(failedFrac),
    "op_tail" -> tail.map(t => ListMap("percentile" -> t.percentile, "value_s" -> t.value, "n" -> t.n)),
    "end_to_end" -> Json.metrics(e2e),
    "per_layer" -> Json.metrics(perLayer.toSeq.sortBy(_._1).map { case (k, (v, u)) => (k, v, u) }),
    "ops" -> loop.results.map(r => ListMap("label" -> r.label, "seconds" -> r.seconds, "error" -> r.error)),
    "invariant_errors" -> finishErrors)
}

/** JSON output through Jackson's Scala module: maps keep their order,
  * `None` and non-finite numbers become `null`.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def num(d: Double): Option[Double] = Some(d).filterNot(x => x.isNaN || x.isInfinite)

  /** `{name: {"value": v, "unit": u}}` in the given order. */
  def metrics(ms: Seq[(String, Double, String)]): ListMap[String, Any] =
    ListMap(ms.map { case (k, v, u) => k -> ListMap("value" -> num(v), "unit" -> u) }: _*)

  def write(v: Any): String = mapper.writeValueAsString(v)

  def writeFile(f: File, v: Any): Unit = writeText(f, write(v))

  def writeLines(f: File, vs: Seq[Any]): Unit = writeText(f, vs.map(write).mkString("\n"))

  private def writeText(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    JFiles.write(f.toPath, (s + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
