package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** The served-query workload: a fixed list of declared queries, run once
  * cold (after every memoized artifact is released) and then in warm
  * passes served from the artifacts the cold pass built.
  */
object QueryMix {

  /** Every row ROADMAP names, plus one row for each remaining family. */
  val Queries: Seq[String] = Seq(
    "g_pagerank", "g_label_prop", "ml_kmeans_assign", "ml_lloyd_losses",
    "dd_containment_pairs", "a_quantile_sketch", "a7b_approx_distinct",
    "sim_mmr_rerank", "sim_knn_graph", "ret_hybrid_rrf", "t5_category_topk",
    "t9_doc_keywords", "o3b_group_topk_agg",
    "ev_sessionize", "j1_star_join", "mm_image_meta", "tp_chunk")

  /** A query's family: the name's first `_`-separated part, digits and
    * trailing letters dropped (`a7b_approx_distinct` → `a`), except that
    * the `o3` rows keep their digit.
    */
  def family(q: String): String = {
    val head = q.takeWhile(_ != '_')
    if (head.startsWith("o3")) "o3" else head.takeWhile(_.isLetter)
  }

  val Families: Seq[String] = Queries.map(family).distinct.sorted

  /** Runs `q` on the tables under `tables` and writes its result as parquet
    * under `out`; returns the wall time in ms.
    */
  def runOne(spark: SparkSession, q: String, tables: String, out: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(q)(spark, tables).write.mode("overwrite").parquet(s"$out/$q")
    (System.nanoTime() - t0) / 1e6
  }

  /** The oracle SQL of the mix, as the JSON object the checker reads. */
  def oracleJson: String =
    Queries.map(q => s"${Json.str(q)}: ${Json.str(SparkEntry.oracleSql(q))}")
      .mkString("{\n", ",\n", "\n}")
}
