package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query key: its name, the frame it builds over a dataset directory,
  * and how `graft.Verify`'s outputs are checked.
  */
final case class QuerySpec(name: String, build: (SparkSession, String) => DataFrame,
                           check: Check)

/** How a key's output is checked. */
sealed trait Check

/** DuckDB SQL over the same parquet tables; its rows must hash-match the
  * key's.
  */
final case class Oracle(sql: String) extends Check

/** No SQL-engine equivalent: the key is checked for running and its row
  * count. `reason` says why.
  */
final case class RowsOnly(reason: String) extends Check {
  require(reason.trim.nonEmpty, "a rows-only key states why it has no oracle")
}

/** Every query key, each declared once in its family object.
  *
  * Conventions shared by every query and its DuckDB oracle:
  *   - float aggregations accumulate in decimal and cast out once
  *     (Fns.exactSum / dotExact), so results are bit-identical across
  *     engines and partition counts;
  *   - every division is guarded with nullif;
  *   - timestamps are normalized to TIMESTAMP_NTZ (what DuckDB calls
  *     TIMESTAMP), so parquet round-trips agree;
  *   - computed doubles are rounded identically on both sides.
  *
  * SURVEY.md §2 lists the same keys; RegistrySpec keeps the two in step.
  */
object Registry {

  val specs: Seq[QuerySpec] = of(
    ReferenceQueries.specs, FinanceQueries.specs, StatsQueries.specs, EventQueries.specs,
    StreamQueries.specs, TpchQueries.specs, GraphQueries.specs, TextQueries.specs,
    CurationQueries.specs, DedupQueries.specs, RetrievalQueries.specs)

  /** The families concatenated; a name declared twice fails. */
  def of(families: Seq[QuerySpec]*): Seq[QuerySpec] = {
    val all = families.flatten
    val dups = all.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(dups.isEmpty, s"query keys declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }
}
