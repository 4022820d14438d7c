package graft

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cluster.Clustering

class ClusteringSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // Two well-separated 2-D blobs + one far point: k=3 is unambiguous.
  private def points = Seq(
    (1L, Vectors.dense(0.0, 0.0)), (2L, Vectors.dense(0.1, 0.0)),
    (3L, Vectors.dense(0.0, 0.1)), (4L, Vectors.dense(10.0, 10.0)),
    (5L, Vectors.dense(10.1, 10.0)), (6L, Vectors.dense(10.0, 10.1)),
    (7L, Vectors.dense(-50.0, 40.0))
  ).toDF("id", "features")

  test("vectorize pivots COO triples into sorted SparseVectors") {
    val triples = Seq((1L, 3, 2.5), (1L, 0, 1.0), (2L, 1, 4.0)).toDF("doc", "term", "v")
    val got = Clustering.vectorize(triples, "doc", "term", "v", 4)
      .collect().map(r => r.getLong(0) -> r.getAs[Vector](1)).toMap
    assert(got(1L) == Vectors.sparse(4, Array(0, 3), Array(1.0, 2.5)))
    assert(got(2L) == Vectors.sparse(4, Array(1), Array(4.0)))
  }

  test("MLlib kmeans: k centers, every point assigned to nearest center") {
    val model = Clustering.fitKMeans(points, k = 3, maxIter = 20, seed = 1L)
    assert(model.clusterCenters.length == 3)
    val pred = model.transform(points).collect()
    pred.foreach { r =>
      val v = r.getAs[Vector]("features")
      val assigned = r.getAs[Int]("prediction")
      val dists = model.clusterCenters.map(c => Vectors.sqdist(v, c))
      assert(dists(assigned) == dists.min)
    }
  }

  test("lloyd loop: WCSS non-increasing, centroids are exact member means") {
    val res = Clustering.lloydLoop(spark, points, "id", k = 3, maxIter = 10)
    val totals = res.losses.groupBy(_._1).view.mapValues(_.map(_._3).sum)
      .toSeq.sortBy(_._1).map(_._2)
    totals.sliding(2).foreach {
      case Seq(a, b) => assert(b <= a + 1e-9, s"WCSS increased: $totals")
      case _ =>
    }
    // converged: centroid == mean of its members
    val assigned = res.assignments.collect()
      .map(r => (r.getAs[Vector]("features"), r.getAs[Int]("cluster")))
    res.centers.zipWithIndex.foreach { case (c, ci) =>
      val members = assigned.filter(_._2 == ci).map(_._1)
      if (members.nonEmpty) {
        val mean = members.map(_.toArray).transpose.map(xs => xs.sum / xs.length)
        c.toArray.zip(mean).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
      }
    }
    assert(res.iterations <= 10)
  }

  test("lloyd loop cosine mode: converges at tol on a rotated-norms fixture") {
    import spark.implicits._
    // two tight ANGULAR clusters whose member norms vary 100x: the mean
    // centers drift in norm between iterations long after the angles have
    // settled, so a Euclidean displacement test would see large movement
    // (or converge at a tol whose meaning depends on the data's scale)
    // while the angular displacement drops to ~0 after the first pass.
    val pts = (0 until 40).map { i =>
      val r = 1.0 + 99.0 * (i % 5) / 4.0 // norms 1..100
      val theta = (if (i % 2 == 0) 0.1 else 1.47) + 0.01 * (i % 7)
      (i.toLong, Vectors.dense(r * math.cos(theta), r * math.sin(theta)))
    }.toDF("id", "features")
    val res = Clustering.lloydLoop(spark, pts, "id", k = 2, maxIter = 20,
      tol = 1e-6, distanceMeasure = "cosine")
    assert(res.iterations < 20,
      s"cosine mode did not converge at tol: ran ${res.iterations} iterations")
    // converged to the angular split: clusters == parity groups
    val byCluster = res.assignments.collect()
      .map(r => (r.getLong(0), r.getAs[Int]("cluster"))).groupBy(_._2)
    assert(byCluster.size == 2)
    byCluster.values.foreach { members =>
      val parities = members.map(_._1 % 2).toSet
      assert(parities.size == 1, "a cosine cluster mixed the angular groups")
    }
  }

  test("isNearest flags a wrong assignment 0 and the rest 1, euclidean and cosine") {
    def flags(df: org.apache.spark.sql.DataFrame, centers: Array[Vector], cosine: Boolean) =
      df.select($"id", Clustering.isNearest($"features", $"assigned", centers, cosine))
        .as[(Long, Int)].collect().toMap
    // euclidean: the far point 7 belongs to center 2, not center 0
    val euCenters = Array(Vectors.dense(0.0, 0.0), Vectors.dense(10.0, 10.0),
      Vectors.dense(-50.0, 40.0))
    val eu = points.withColumn("assigned",
      when($"id" === 7L, 0).when($"id" >= 4L, 1).otherwise(0))
    assert(flags(eu, euCenters, cosine = false) ==
      (1L to 7L).map(i => i -> (if (i == 7L) 0 else 1)).toMap)
    // cosine over sparse rows: doc 3 points mostly along axis 0, not 1;
    // the all-zero doc 4 is 1.0 from every center (the nn == 0 guard), so
    // any assignment is nearest
    val cosCenters = Array(Vectors.dense(1.0, 0.0, 0.0), Vectors.dense(0.0, 1.0, 0.0),
      Vectors.dense(0.0, 0.0, 1.0))
    val docs = Seq(
      (1L, Vectors.sparse(3, Array(0), Array(2.0)), 0),
      (2L, Vectors.sparse(3, Array(1, 2), Array(1.0, 5.0)), 2),
      (3L, Vectors.sparse(3, Array(0, 1), Array(3.0, 1.0)), 1),
      (4L, Vectors.sparse(3, Array.empty[Int], Array.empty[Double]), 1)
    ).toDF("id", "features", "assigned")
    assert(flags(docs, cosCenters, cosine = true) == Map(1L -> 1, 2L -> 1, 3L -> 0, 4L -> 1))
  }

  test("topComponents keeps ties (no TreeMap collapse) and orders by value") {
    val centers = Array(Vectors.dense(5.0, 5.0, 1.0, 9.0))
    val top = Clustering.topComponents(centers, 3)
    assert(top == Seq((0, 3, 9.0), (0, 0, 5.0), (0, 1, 5.0)))
  }

  test("embeddingFeatures converts float arrays to vectors") {
    val df = Seq((1L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val v = Clustering.embeddingFeatures(df, "vec_id", "embedding")
      .head.getAs[Vector](1)
    assert(v == Vectors.dense(1.0, 2.0))
  }
}
