package graft.bbc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.types._
import graft.cluster.Clustering
import graft.cluster.Clustering.LloydResult

/** Reference task 2.1: K-Means (K=3, Euclidean, max 20 iterations,
  * tol 1e-5) over a 2-D points CSV (`sources/2.1/source/task2_1.java:
  * 26-28`).
  */
object Points {

  /** S7: CSV source with header and malformed-row drop (the reference
    * skips non-numeric rows by catch-and-continue, `task2_1.java:84-86,
    * 163-169` — declaratively that is DROPMALFORMED).
    */
  def readPoints(spark: SparkSession, csvPath: String): DataFrame =
    spark.read
      .option("header", true)
      .option("mode", "DROPMALFORMED")
      .schema(StructType(Seq(
        StructField("class", IntegerType),
        StructField("x", DoubleType),
        StructField("y", DoubleType))))
      .csv(csvPath)
      .filter(col("x").isNotNull && col("y").isNotNull)

  /** The task 2.1 run: points → features vector → explicit Lloyd loop
    * (per-iteration artifacts, convergence at `tol`). Row id = (x, y)
    * insertion is not stable in the reference either; we use a
    * deterministic synthetic id ordered by (x, y). The loop caches x and
    * y with the features, so the iteration hook sees the reference's
    * per-iteration snapshot shape, (cluster, x, y), straight off the
    * assignments.
    */
  def kmeans2D(spark: SparkSession, points: DataFrame, k: Int = 3,
               maxIter: Int = 20, tol: Double = 1e-5,
               onIteration: Option[(Int, DataFrame) => Unit] = None): LloydResult = {
    val feats = points
      .select(array_to_vector(array(col("x"), col("y"))).as("features"),
        col("x"), col("y"))
      .withColumn("pid",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("x", "y")))
    Clustering.lloydLoop(spark, feats, "pid", k, maxIter, tol,
      onIteration = onIteration.map(f => (i: Int, asg: DataFrame) =>
        f(i, asg.select("cluster", "x", "y"))))
  }

  /** `.classes` rows in the 2.1 golden format: `cluster,x,y`, read off
    * the final assignments (which carry x and y). `points` is unused.
    */
  def classesRows(points: DataFrame, result: LloydResult): DataFrame =
    result.assignments.select("cluster", "x", "y")
}
