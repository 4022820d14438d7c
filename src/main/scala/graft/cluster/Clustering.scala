package graft.cluster

import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.{SparseVector, Vector, Vectors}
import org.apache.spark.ml.stat.Summarizer
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.CenterKernels

/** K-Means clustering layer (reference tasks 2.1/2.2/2.3, SURVEY §2.7).
  *
  * Two paths, per SURVEY §7.1:
  *  - [[fitKMeans]]: MLlib `ml.clustering.KMeans` — covers random and
  *    k-means|| init (`sources/2.2/source/KMeans.java:143-155` vs
  *    `sources/2.3/source/KMeans.java:147-164`), euclidean and cosine
  *    distance, maxIter/tol convergence (`sources/2.1/source/task2_1.java:
  *    26-28`). MLlib's implementation is already the Spark-idiomatic
  *    version of the reference's hand-rolled driver loop: centers are
  *    broadcast, per-partition sums flow back via treeAggregate.
  *  - [[lloydLoop]]: explicit DataFrame Lloyd iteration for the
  *    per-iteration artifacts the reference side-writes each round
  *    (`.losses` / top-terms, `sources/2.2/source/KMeansReducer.java:
  *    86-128`) which MLlib's loop hides. Cached input, broadcast centers,
  *    one `groupBy(cluster)` vector-mean per iteration — treeAggregate-
  *    shaped, bounded driver state (k × dim).
  *
  * Deliberate corrections vs the reference (SURVEY §7.2): true WCSS
  * against the *previous* full centroid (not the running partial,
  * `KMeansReducer.java:166-180`); mean divides by exact member count (not
  * `counter+1`, `KMeansReducer.java:183`); true cosine distance (not
  * `dot/(‖a‖+‖b‖)`, `KMeansMapper.java:29-56`); all randomness seeded.
  */
object Clustering {

  /** Pivot a COO triple table (docCol, termCol 0-based, valueCol) into one
    * MLlib SparseVector per doc (A14) — indices sorted, no string padding.
    */
  def vectorize(triples: DataFrame, docCol: String, termCol: String,
                valueCol: String, vocabSize: Int): DataFrame = {
    val assemble = udf { (pairs: Seq[org.apache.spark.sql.Row]) =>
      val sorted = pairs.map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
      new SparseVector(vocabSize, sorted.map(_._1).toArray, sorted.map(_._2).toArray): Vector
    }
    triples
      .groupBy(col(docCol))
      .agg(collect_list(struct(col(termCol).cast("int"), col(valueCol).cast("double")))
        .as("pairs"))
      .select(col(docCol), assemble(col("pairs")).as("features"))
  }

  /** MLlib K-Means. initMode ∈ {"random", "k-means||"}, distanceMeasure ∈
    * {"euclidean", "cosine"} — the four reference configurations.
    */
  def fitKMeans(data: DataFrame, k: Int, maxIter: Int, tol: Double = 1e-5,
                seed: Long = 42L, initMode: String = "k-means||",
                distanceMeasure: String = "euclidean",
                featuresCol: String = "features"): KMeansModel =
    new KMeans()
      .setK(k).setMaxIter(maxIter).setTol(tol).setSeed(seed)
      .setInitMode(initMode).setDistanceMeasure(distanceMeasure)
      .setFeaturesCol(featuresCol)
      .fit(data)

  /** Result of one explicit Lloyd run: per-iteration per-cluster WCSS and
    * the final centers/assignments.
    */
  final case class LloydResult(
      assignments: DataFrame,               // (the caller's columns..., cluster)
      centers: Array[Vector],
      losses: Seq[(Int, Int, Double)],      // (iteration, cluster, wcss)
      iterations: Int)

  /** Explicit Lloyd loop over a `features` vector column. Deterministic
    * init: the k rows with the smallest `idCol` values (seedable sampling
    * would also do; determinism matters more than init quality here —
    * k-means|| quality comes from the MLlib path).
    *
    * `distanceMeasure`: "euclidean" (squared distance, task 2.1) or
    * "cosine" (1 − true cosine, the corrected form of task 2.2/2.3's
    * pseudo-cosine argmax — SURVEY §7.2). Loss per (iteration, cluster) is
    * the sum of the chosen distance of members to their *previous* full
    * centroid (not the reference's running partial, `KMeansReducer.java:
    * 166-180`).
    *
    * Per iteration: one broadcast of k centers out, one
    * groupBy(cluster).agg(Summarizer.mean, count, sum dist) back —
    * exactly the treeAggregate shape MLlib uses internally, so the loop
    * scales the same way.
    */
  def lloydLoop(spark: SparkSession, data: DataFrame, idCol: String, k: Int,
                maxIter: Int, tol: Double = 1e-5,
                distanceMeasure: String = "euclidean",
                initCenters: Option[Array[Vector]] = None,
                onIteration: Option[(Int, DataFrame) => Unit] = None): LloydResult = {
    require(distanceMeasure == "euclidean" || distanceMeasure == "cosine",
      s"unknown distanceMeasure $distanceMeasure")
    val cosineMode = distanceMeasure == "cosine"
    // all the caller's columns ride the cache (task 2.1 reads x/y off the
    // assignments); a projection, not `data`, so the cache stays the
    // loop's own: caching `data`'s plan would move every other reader of
    // a shared frame (the ml_* memoized features, MLlib's persist check)
    // onto it
    val cached = data.select("*").cache()
    // center-to-center movement in the mode's metric, for `moved` below
    def displacement(a: Vector, b: Vector): Double =
      if (cosineMode) {
        val nn = Vectors.norm(a, 2) * Vectors.norm(b, 2)
        var dot = 0.0
        a.foreachActive((i, av) => dot += av * b(i))
        if (nn == 0) 1.0 else 1.0 - dot / nn
      } else math.sqrt(Vectors.sqdist(a, b))
    // seedable: a caller may hand in centers (e.g. a k-means|| seeding —
    // task 2.3's structure: the same loop as 2.2, different init);
    // default stays the deterministic first-k-by-id
    var centers: Array[Vector] = initCenters.getOrElse(
      cached.orderBy(col(idCol)).limit(k)
        .select("features").collect().map(_.getAs[Vector](0)))
    require(centers.length == k,
      s"initCenters must supply exactly $k centers, got ${centers.length}")
    val losses = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
    var iter = 0
    var moved = Double.MaxValue
    var assignments: DataFrame = null
    while (iter < maxIter && moved > tol) {
      // codegen kernels, not UDFs (see CenterKernels): the argmin and
      // the to-assigned-center distance run inside whole-stage codegen,
      // sparse-aware, with the k centers shipped once per stage
      val cArr = centers.map(_.toArray)
      assignments = cached.withColumn("cluster",
        CenterKernels.nearestCenter(col("features"), cArr, cosineMode))
      // per-iteration artifact hook (the reference's iter_N snapshot
      // dirs, task 2.1): receives the 0-based iteration and the
      // assignments AGAINST THE ENTERING CENTERS, exactly what the
      // reference's per-iteration reducer output holds
      onIteration.foreach(f => f(iter, assignments))
      val stats = assignments
        .withColumn("sqdist",
          CenterKernels.centerDistance(col("features"), col("cluster"), cArr, cosineMode))
        .groupBy("cluster")
        .agg(Summarizer.mean(col("features")).as("mean"),
          count(lit(1)).as("n"), sum("sqdist").as("wcss"))
        .collect()
      stats.foreach(r => losses += ((iter, r.getInt(0), r.getDouble(3))))
      val newCenters = centers.clone()
      stats.foreach(r => newCenters(r.getInt(0)) = r.getAs[Vector](1))
      // convergence metric matches the distance mode: in cosine mode the
      // Euclidean displacement is meaningless (unnormalized centers can
      // drift in norm without moving in angle — or converge in norm while
      // still rotating), so `moved` is the ANGULAR displacement, the same
      // 1 - cos(old, new) the assignment distance uses; tol then has one
      // meaning in both modes (max center movement in the mode's metric).
      moved = centers.zip(newCenters).map { case (a, b) => displacement(a, b) }.max
      centers = newCenters
      iter += 1
    }
    LloydResult(assignments, centers, losses.toSeq, iter)
  }

  /** The nearest-center invariant as an int flag column: 1 iff the
    * distance of `features` to its `assigned` center (an int index into
    * `centers`) is, within FP epsilon, the minimum over all centers.
    * Both distances come from the [[CenterKernels]] the Lloyd loop
    * assigns with, so a fit is checked under the loop's own distance.
    */
  def isNearest(features: Column, assigned: Column, centers: Array[Vector],
                cosine: Boolean): Column = {
    val cArr = centers.map(_.toArray)
    val dMin = CenterKernels.centerDistance(features,
      CenterKernels.nearestCenter(features, cArr, cosine), cArr, cosine)
    val dAssigned = CenterKernels.centerDistance(features, assigned, cArr, cosine)
    (dAssigned <= dMin + lit(1e-9) * (dMin + lit(1.0))).cast("int")
  }

  /** Top-n components of each center (A12 semantics, tie-safe: ordered by
    * (-value, index) so equal values don't collapse like the reference's
    * value-keyed TreeMap, `KMeansReducer.java:138-150`).
    */
  def topComponents(centers: Array[Vector], n: Int): Seq[(Int, Int, Double)] =
    centers.zipWithIndex.flatMap { case (c, ci) =>
      c.toArray.zipWithIndex
        .sortBy { case (v, i) => (-v, i) }
        .take(n)
        .map { case (v, i) => (ci, i, v) }
    }.toSeq

  /** Embedding table (array<float>) → features vector column. */
  def embeddingFeatures(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol),
      // array-level cast (codegen), not transform(_.cast) (interpreted)
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
}
