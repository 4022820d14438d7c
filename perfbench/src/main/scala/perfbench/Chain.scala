package perfbench

import graft.bbc.{Artifacts, BbcRun, BbcTasks, Points}
import graft.cluster.Clustering
import graft.io.{Dict, MtxCodec}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The paper's task chain (1.1 → 1.5, 2.1 → 2.3) as the benchmark drives it. */
object Chain {

  def paths(c: Corpus.Layout, out: Path): BbcRun.Paths =
    BbcRun.Paths(c.corpusDir.toString, c.terms.toString, c.docs.toString,
      c.stopwords.toString, c.points.toString, out.toString)

  /** What a traced chain counted, beside its spans. */
  final case class Counts(nnz: Long, nnzFiltered: Long, iterations: Int)

  /** The calls `BbcRun.run` makes, in its order and with its arguments,
    * each inside a span named after the metric it feeds, and no other
    * Spark action. Work lands where `BbcRun` pays it: `tfidf` is computed
    * by the 1.4 write and `docVectors` by the first 2.2 iteration, so
    * their own spans hold only the plan building. The traced run checks
    * that this copy submits as many jobs and stages as `BbcRun.run`.
    */
  def traced(spark: SparkSession, p: BbcRun.Paths, span: Tracer): Counts = {
    new java.io.File(p.outDir).mkdirs()
    val (docs, nDocs) = span("io.dict_load") {
      val d = Dict.load(spark, p.docsPath, "doc_id", "doc_name"); (d, d.count())
    }
    val (terms, nTerms) = span("io.dict_load") {
      val t = Dict.load(spark, p.termsPath, "term_id", "token"); (t, t.count())
    }

    val (counts, nnz) = span("bbc.count_matrix") {
      val c = BbcTasks.countMatrix(spark, p.corpusDir, p.termsPath, p.docsPath, p.stopPath).cache()
      (c, c.count())
    }
    span("io.mtx_write") {
      MtxCodec.write(counts.withColumnRenamed("freq", "value"),
        MtxCodec.MtxDims(nTerms, nDocs, nnz), s"${p.outDir}/OutputTask1_1.mtx",
        integerValues = true, legacySort = true)
    }

    val (filtered, nnzFiltered) = span("bbc.freq_filter") {
      val f = BbcTasks.corpusFreqFilter(counts).cache(); (f, f.count())
    }
    span("io.mtx_write") {
      MtxCodec.write(filtered.withColumnRenamed("freq", "value"),
        MtxCodec.MtxDims(nTerms, nDocs, nnzFiltered),
        s"${p.outDir}/Output_Task1_2.mtx", integerValues = true, legacySort = true)
    }

    span("bbc.top_terms") {
      val top10 = BbcTasks.topTerms(filtered, 10).collect()
        .map(r => s"${r.getInt(0)}\t${r.getLong(1)}")
      Files.write(Paths.get(s"${p.outDir}/task_1_3.txt"),
        top10.mkString("\n").getBytes(StandardCharsets.UTF_8))
    }

    val tfidf = span("bbc.tfidf")(BbcTasks.tfidf(filtered, nDocs).cache())
    span("io.mtx_write")(MtxCodec.writeHeaderless(tfidf, s"${p.outDir}/task_1_4.mtx"))

    span("bbc.category_report") {
      val report = BbcTasks.categoryReport(BbcTasks.categoryAvgTfidf(tfidf, docs), terms, 5)
      Files.write(Paths.get(s"${p.outDir}/task_1_5.txt"),
        report.mkString("\n").getBytes(StandardCharsets.UTF_8))
    }

    val (pts, res21) = span("cluster.kmeans2d") {
      val pts = Points.readPoints(spark, p.pointsCsv).cache()
      (pts, Points.kmeans2D(spark, pts, k = 3, maxIter = 20, tol = 1e-5,
        onIteration = Some((i, asg) => span("io.artifact_write") {
          Artifacts.writeIterAssignments2D(asg, s"${p.outDir}/iterations/iter_$i")
        })))
    }
    span("io.artifact_write") {
      Artifacts.writeClusters2D(res21.centers, s"${p.outDir}/task_2_1.clusters")
      Artifacts.writeClasses2DDf(Points.classesRows(pts, res21), s"${p.outDir}/task_2_1.classes")
    }

    val vecs = span("bbc.doc_vectors")(BbcTasks.docVectors(tfidf, nTerms.toInt).cache())
    val res22 = span("cluster.lloyd")(BbcTasks.docKMeansExplicit(spark, vecs, k = 5, iters = 10))
    span("io.artifact_write")(writeDocArtifacts(res22, s"${p.outDir}/task_2_2"))
    val res23 = span("cluster.scalable") {
      BbcTasks.docKMeansScalableExplicit(spark, vecs, k = 5, iters = 10)
    }
    span("io.artifact_write")(writeDocArtifacts(res23, s"${p.outDir}/task_2_3"))
    Counts(nnz, nnzFiltered, res21.iterations + res22.iterations + res23.iterations)
  }

  /** `BbcRun`'s private `writeDocArtifacts`, through the same public calls. */
  private def writeDocArtifacts(r: Clustering.LloydResult, prefix: String): Unit = {
    Artifacts.writeClusters(r.centers, s"$prefix.clusters")
    Artifacts.writeClassesDf(r.assignments.select("doc_id", "cluster"),
      "doc_id", "cluster", s"$prefix.classes")
    if (r.losses.nonEmpty) Artifacts.writeLosses(r.losses, s"$prefix.losses")
    val top = Clustering.topComponents(r.centers, 10)
    Artifacts.writeTopTerms(Seq((r.losses.map(_._1).maxOption.getOrElse(0), top)),
      10, s"$prefix.txt")
  }

  /** Lloyd iterations the artifacts show: 2.1 snapshots, 2.2 and 2.3
    * loss blocks.
    */
  def iterations(out: Path): Seq[Int] = {
    val snapshots = Iterator.from(0).takeWhile(i => Files.isDirectory(out.resolve(s"iterations/iter_$i"))).size
    snapshots +: Seq("task_2_2", "task_2_3").map { t =>
      val f = out.resolve(s"$t.losses")
      if (!Files.isRegularFile(f)) 0
      else Files.readAllLines(f).asScala.count(_.startsWith("Iteration "))
    }
  }

  // ---- output checks --------------------------------------------------

  /** Cosine distances of a document's rounded TF-IDF vector may differ
    * from the loop's full-precision ones by about this much.
    */
  private val CosineSlack = 1e-4

  /** Document vectors (0-based term index → value) from the 1.4 lines,
    * `<term_id> <doc_id> <value>`, as `BbcTasks.docVectors` builds them.
    */
  private def docVectors(tfidf: Seq[String]): Map[Int, Seq[(Int, Double)]] =
    tfidf.map(_.split(" ")).map(a => (a(1).toInt, (a(0).toInt - 1, a(2).toDouble)))
      .groupMap(_._1)(_._2)

  /** Clusters whose center is nearest `v` in cosine distance, within
    * [[CosineSlack]] of the nearest.
    */
  private def nearest(v: Seq[(Int, Double)], centers: Seq[Array[Double]]): Set[Int] = {
    val vn = math.sqrt(v.map(e => e._2 * e._2).sum)
    val d = centers.map { c =>
      val cn = math.sqrt(c.map(x => x * x).sum)
      if (vn * cn == 0) 1.0 else 1.0 - v.map { case (i, x) => x * c(i) }.sum / (vn * cn)
    }
    d.indices.filter(i => d(i) <= d.min + CosineSlack).toSet
  }

  /** Problems found in one chain's artifacts; empty when every check passes. */
  def check(out: Path, g: Corpus.Generated, e: Corpus.Expected): Seq[String] = {
    def lines(name: String): Seq[String] = {
      val f = out.resolve(name)
      if (!Files.isRegularFile(f)) Seq.empty
      else Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq
    }
    val problems = Seq.newBuilder[String]
    def expect(what: String, ok: Boolean, detail: => String): Unit =
      if (!ok) problems += s"$what: $detail"

    for ((file, n) <- Seq("OutputTask1_1.mtx" -> e.nnz, "Output_Task1_2.mtx" -> e.nnzFiltered)) {
      val l = lines(file)
      val header = l.take(2)
      val want = Seq("%%MatrixMarket matrix coordinate real general", s"${e.nTerms} ${e.nDocs} $n")
      expect(file, header == want, s"header $header, expected $want")
      expect(file, l.size - 2 == n, s"${l.size - 2} entries, expected $n")
    }
    expect("task_1_3.txt", lines("task_1_3.txt") == e.top10,
      s"${lines("task_1_3.txt")} != ${e.top10}")
    expect("task_1_5.txt", lines("task_1_5.txt") == e.report,
      s"${lines("task_1_5.txt")} != ${e.report}")
    expect("task_1_4.mtx", lines("task_1_4.mtx").size == e.nnzFiltered,
      s"${lines("task_1_4.mtx").size} entries, expected ${e.nnzFiltered}")

    // 2.1: every point assigned once to one of 3 clusters, and the total
    // WCSS of each iteration's assignment against the previous
    // iteration's cluster means never increases
    val classes21 = lines("task_2_1.classes").map(_.split(",")).map(a => (a(0).toInt, a(1).toDouble, a(2).toDouble))
    expect("task_2_1.classes", classes21.map(c => (c._2, c._3)).sorted == g.points.toSeq.sorted,
      s"${classes21.size} assignments for ${g.points.length} points")
    expect("task_2_1.clusters", lines("task_2_1.clusters").size == 3,
      s"${lines("task_2_1.clusters").size} centers, expected 3")
    expect("task_2_1 clusters", classes21.forall(c => c._1 >= 0 && c._1 < 3), "cluster id outside 0..2")
    val iters = Iterator.from(0).map(i => out.resolve(s"iterations/iter_$i/part-r-00000"))
      .takeWhile(Files.isRegularFile(_)).map { f =>
        Files.readAllLines(f).asScala.toSeq.map(_.replace("\t", "").split(","))
          .map(a => (a(0).toInt, a(1).toDouble, a(2).toDouble))
      }.toSeq
    expect("task_2_1 iterations", iters.size == Corpus.KMeans2DIterations &&
      iters.forall(_.size == g.points.length),
      s"${iters.size} snapshots of sizes ${iters.map(_.size).distinct}, expected " +
        s"${Corpus.KMeans2DIterations} of ${g.points.length}")
    // a cluster left empty keeps its old center, which the snapshots do
    // not show; such a step is skipped
    val wcss = iters.sliding(2).flatMap {
      case Seq(prev, cur) =>
        val means = prev.groupBy(_._1).map { case (c, ps) =>
          c -> (ps.map(_._2).sum / ps.size, ps.map(_._3).sum / ps.size)
        }
        if (!cur.forall(c => means.contains(c._1))) None
        else Some(cur.map { case (c, x, y) =>
          val (mx, my) = means(c); (x - mx) * (x - mx) + (y - my) * (y - my)
        }.sum)
      case _ => None
    }.toSeq
    expect("task_2_1 wcss", wcss.sliding(2).forall {
      case Seq(a, b) => b <= a * (1 + 1e-9) + 1e-9
      case _ => true
    }, s"WCSS increases: $wcss")

    // 2.2 / 2.3: every document that has a TF-IDF vector assigned exactly
    // once to one of k = 5 clusters; for each iteration run (at most 10)
    // one finite loss per cluster that had members (the loop, like the
    // reference's reducers, writes no row for a cluster left empty); and
    // a loop that ran fewer than 10 iterations stopped at a fixed point
    lazy val vectors = docVectors(lines("task_1_4.mtx"))
    for (task <- Seq("task_2_2", "task_2_3")) {
      val asg = lines(s"$task.classes").map(_.split(" ")).map(a => (a(0).toInt, a(1).toInt))
      expect(s"$task.classes", asg.map(_._1).sorted == e.vectorDocs.sorted,
        s"${asg.size} assignments (${asg.map(_._1).distinct.size} distinct) for ${e.vectorDocs.size} documents")
      expect(s"$task.classes", asg.forall(a => a._2 >= 0 && a._2 < 5), "cluster id outside 0..4")
      expect(s"$task.clusters", lines(s"$task.clusters").size == 5,
        s"${lines(s"$task.clusters").size} centers, expected 5")
      val blocks = lines(s"$task.losses").mkString("\n").split("\n\n").toSeq.map(_.trim).filter(_.nonEmpty)
      val ok = blocks.nonEmpty && blocks.size <= 10 && blocks.zipWithIndex.forall { case (b, i) =>
        val l = b.split("\n")
        val losses = l.tail.flatMap(_.toDoubleOption)
        l.head.trim == s"Iteration ${i + 1}:" && losses.length == l.tail.length &&
          losses.length >= 1 && losses.length <= 5 && losses.forall(d => !d.isNaN && !d.isInfinite)
      }
      expect(s"$task.losses", ok, s"${blocks.size} iteration blocks, not each 1 to 5 finite losses")
      if (ok && blocks.size < 10) {
        val centers = lines(s"$task.clusters").map(_.split("\t")(1).split(" ").map(_.toDouble))
        val off = asg.filter { case (d, c) => !nearest(vectors.getOrElse(d, Nil), centers).contains(c) }
        expect(s"$task fixed point", off.isEmpty,
          s"stopped after ${blocks.size} iterations, but ${off.size} documents are nearer " +
            s"another final center than their own, e.g. ${off.take(3)}")
      }
    }
    problems.result()
  }
}
