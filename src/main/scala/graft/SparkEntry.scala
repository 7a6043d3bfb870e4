package graft

import graft.registry.Registry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §2 for the inventory. The keys, their
  * builds and their checks live in [[graft.registry.Registry]].
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's headline computation: daily bars ⋈ share snapshots ⋈
    * shares outstanding → calculated sector price (sector.py:86-112).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_sector_price")(spark, "/root/testdata/sf0.001")

  /** Each registry key's build, by name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.specs.map(s => s.name -> s.build).toMap
}
