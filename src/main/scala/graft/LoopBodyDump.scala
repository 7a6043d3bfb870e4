package graft

import graft.operators.{Dedup, Graph}

/** Dump the formatted physical plan of ONE ITERATION BODY of the BSP
  * loops, pre-checkpoint — the evidence the final query plan cannot show
  * (each round's frame is a checkpoint whose lineage hides the
  * per-iteration exchanges). The bodies come from the same builders the
  * loops run: Graph.rankSetup/rankContributions (q_pagerank's input) and
  * Dedup.ccEdges/ccFirstRound/ccRound (q_ngram_jaccard's pairs).
  * Usage: runMain graft.LoopBodyDump
  */
object LoopBodyDump {
  def main(args: Array[String]): Unit = {
    val spark = Graft.localSession()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    val rank = Graph.rankSetup(SparkEntry.purchaseEdges(spark, dir), "src", "dst")
    println("==== pagerank ITERATION BODY (contribution aggregate, pre-checkpoint) ====")
    Graph.rankContributions(rank, rank.rank).explain("formatted")

    val pairs = SparkEntry.queries("q_ngram_jaccard")(spark, dir).select("id_a", "id_b")
    val edges = Dedup.ccEdges(Graft.materialize(pairs, eager = false))
    val labels = Graft.materialize(Dedup.ccFirstRound(edges), eager = false)
    println("==== Dedup.connectedComponents ROUND BODY (propagate + jump, pre-checkpoint) ====")
    Dedup.ccRound(edges, labels).explain("formatted")
    spark.stop()
  }
}
