package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.bbc.Points

/** Task 2.1 on an in-test fixture: every per-iteration snapshot the
  * `onIteration` hook sees, the iteration count, the final centers and
  * `classesRows` against a plain-Scala Lloyd run with the same rules —
  * first 3 points by (x, y) as the init, squared Euclidean distance with
  * the first of tied centers, member means, and a stop once no center
  * moves more than `tol`.
  */
class PointsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // three blobs of ten points; the init's first-3-by-(x, y) all sit in
  // the leftmost blob, so the loop needs several passes to split them
  private val fixture: Seq[(Int, Double, Double)] = {
    val rnd = new scala.util.Random(7)
    Seq((0.0, 0.0), (6.0, 1.0), (3.0, 7.0)).zipWithIndex.flatMap { case ((cx, cy), c) =>
      Seq.fill(10)((c, cx + rnd.nextDouble() * 2, cy + rnd.nextDouble() * 2))
    }
  }

  /** Plain Lloyd: (per-iteration (cluster, x, y) snapshots, final centers). */
  private def lloyd(pts: Seq[(Double, Double)], k: Int, maxIter: Int,
                    tol: Double): (Seq[Seq[(Int, Double, Double)]], Seq[(Double, Double)]) = {
    def sq(a: (Double, Double), b: (Double, Double)) =
      (a._1 - b._1) * (a._1 - b._1) + (a._2 - b._2) * (a._2 - b._2)
    var centers = pts.sorted.take(k)
    val snaps = Seq.newBuilder[Seq[(Int, Double, Double)]]
    var iter = 0
    var moved = Double.MaxValue
    while (iter < maxIter && moved > tol) {
      val asg = pts.map(p => (centers.indices.minBy(i => (sq(p, centers(i)), i)), p._1, p._2))
      snaps += asg
      val next = centers.indices.map { i =>
        val ms = asg.filter(_._1 == i)
        if (ms.isEmpty) centers(i)
        else (ms.map(_._2).sum / ms.size, ms.map(_._3).sum / ms.size)
      }
      moved = centers.zip(next).map { case (a, b) => math.sqrt(sq(a, b)) }.max
      centers = next
      iter += 1
    }
    (snaps.result(), centers)
  }

  test("kmeans2D snapshots, centers and classesRows match a plain-Scala Lloyd run") {
    val pts = fixture.toDF("class", "x", "y")
    val snaps = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[(Int, Double, Double)])]
    val res = Points.kmeans2D(spark, pts, k = 3, maxIter = 20, tol = 1e-5,
      onIteration = Some((i, asg) => snaps += (i -> asg.as[(Int, Double, Double)].collect().toSeq)))
    val (wantSnaps, wantCenters) = lloyd(fixture.map(p => (p._2, p._3)), 3, 20, 1e-5)

    assert(wantSnaps.size > 1, "the fixture must take more than one pass")
    assert(res.iterations == wantSnaps.size)
    assert(snaps.map(_._1) == wantSnaps.indices)
    snaps.zip(wantSnaps).foreach { case ((i, got), want) =>
      assert(got.sorted == want.sorted, s"iteration $i snapshot differs")
    }
    res.centers.map(c => (c(0), c(1))).zip(wantCenters).foreach { case ((gx, gy), (wx, wy)) =>
      assert(math.abs(gx - wx) < 1e-9 && math.abs(gy - wy) < 1e-9,
        s"center ($gx, $gy) != ($wx, $wy)")
    }
    val classes = Points.classesRows(pts, res).as[(Int, Double, Double)].collect().toSeq
    assert(classes.sorted == wantSnaps.last.sorted)
  }
}
