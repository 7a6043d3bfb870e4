package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** EXACT membership probe of a string column against a driver-built set —
  * the O(1)-per-row replacement for confirming set membership with
  * `arrays_overlap` against a giant literal array (which walks the FULL
  * set per row: O(|set|) for every row that reaches it, the term that
  * made suite-growth dominate the decontamination scale ratio).
  *
  * The set rides a real Spark `Broadcast` (deserialized once per
  * EXECUTOR by the block manager — a plan literal would re-deserialize
  * per task) and the probe-ready hash set is built once per executor in a
  * process-global cache keyed by broadcast id. String equality is exact
  * UTF8String equality — no hashing-only shortcut, so semantics are
  * identical to `arrays_overlap` / an exact semi-join, with zero false
  * positives. Use for sets up to broadcast scale; past that,
  * `Dedup.gramScreen` switches to a bloom pre-screen and a confirm join.
  */
case class StringSetContains(child: Expression,
                             set: Broadcast[Array[Array[Byte]]])
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.catalogString}")
  }

  override def dataType: DataType = BooleanType

  override def prettyName: String = "graft_string_set_contains"

  @transient private lazy val probeSet: java.util.HashSet[UTF8String] =
    StringSetContains.setFor(set)

  def probe(s: UTF8String): Boolean = probeSet.contains(s)

  override protected def nullSafeEval(input: Any): Any =
    probe(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stringSet", this, classOf[StringSetContains].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.probe($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): StringSetContains =
    copy(child = newChild)
}

object StringSetContains {
  // probe sets built once per (executor JVM, broadcast id) — tasks share.
  // BOUNDED: a long-running service that keeps building fresh screens
  // (new broadcast per build) must not accumulate dead sets; when the
  // cache exceeds MaxCachedSets the oldest entries are dropped (a probe
  // against a dropped id just rebuilds from the still-alive broadcast).
  private val MaxCachedSets = 8
  private val cache =
    new java.util.LinkedHashMap[Long, java.util.HashSet[UTF8String]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, java.util.HashSet[UTF8String]]): Boolean =
        size() > MaxCachedSets
    }

  private def setFor(bc: Broadcast[Array[Array[Byte]]]): java.util.HashSet[UTF8String] =
    cache.synchronized {
      val hit = cache.get(bc.id)
      if (hit != null) hit
      else {
        val items = bc.value
        val s = new java.util.HashSet[UTF8String](math.max(16, items.length * 2))
        items.foreach(b => s.add(UTF8String.fromBytes(b)))
        cache.put(bc.id, s)
        s
      }
    }
}
