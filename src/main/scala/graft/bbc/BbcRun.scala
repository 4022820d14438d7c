package graft.bbc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{Dict, MtxCodec}

/** One-command replacement for the reference's eight `hadoop jar`
  * invocations: runs tasks 1.1→1.5 and 2.1→2.3 over the BBC fixtures and
  * writes every artifact the reference produces, in its formats.
  *
  * {{{
  *   runMain graft.bbc.BbcRun <bbcCorpusDir> <fixtureDir> <pointsCsv> <outDir>
  * }}}
  *
  * where `fixtureDir` holds `bbc.terms`, `bbc.docs`, `stopwords.txt`
  * (the reference's `sources/1.1/input/`).
  */
object BbcRun {

  final case class Paths(corpusDir: String, termsPath: String, docsPath: String,
                         stopPath: String, pointsCsv: String, outDir: String)

  def run(spark: SparkSession, p: Paths): Unit = {
    new java.io.File(p.outDir).mkdirs()
    val docs = Dict.load(spark, p.docsPath, "doc_id", "doc_name")
    val terms = Dict.load(spark, p.termsPath, "term_id", "token")
    val nDocs = docs.count()
    val nTerms = terms.count()

    // 1.1 count matrix
    val counts = BbcTasks.countMatrix(spark, p.corpusDir, p.termsPath,
      p.docsPath, p.stopPath).cache()
    val nnz = counts.count()
    MtxCodec.write(counts.withColumnRenamed("freq", "value"),
      MtxCodec.MtxDims(nTerms, nDocs, nnz), s"${p.outDir}/OutputTask1_1.mtx",
      integerValues = true, legacySort = true)

    // 1.2 corpus-frequency filter (dims line keeps full shape — reference quirk)
    val filtered = BbcTasks.corpusFreqFilter(counts).cache()
    MtxCodec.write(filtered.withColumnRenamed("freq", "value"),
      MtxCodec.MtxDims(nTerms, nDocs, filtered.count()),
      s"${p.outDir}/Output_Task1_2.mtx", integerValues = true, legacySort = true)

    // 1.3 global top-10
    val top10 = BbcTasks.topTerms(filtered, 10).collect()
      .map(r => s"${r.getInt(0)}\t${r.getLong(1)}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${p.outDir}/task_1_3.txt"),
      top10.mkString("\n").getBytes("UTF-8"))

    // 1.4 TF-IDF (%.6f, headerless, deduped)
    val tfidf = BbcTasks.tfidf(filtered, nDocs).cache()
    MtxCodec.writeHeaderless(tfidf, s"${p.outDir}/task_1_4.mtx")

    // 1.5 per-category report
    val report = BbcTasks.categoryReport(
      BbcTasks.categoryAvgTfidf(tfidf, docs), terms, 5)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${p.outDir}/task_1_5.txt"),
      report.mkString("\n").getBytes("UTF-8"))

    // 2.1 K=3 euclidean on the 2-D points, with the reference's
    // per-iteration snapshot dirs (output/iterations/iter_N)
    val pts = Points.readPoints(spark, p.pointsCsv).cache()
    val res21 = Points.kmeans2D(spark, pts, k = 3, maxIter = 20, tol = 1e-5,
      onIteration = Some((i, asg) =>
        Artifacts.writeIterAssignments2D(asg, s"${p.outDir}/iterations/iter_$i")))
    Artifacts.writeClusters2D(res21.centers, s"${p.outDir}/task_2_1.clusters")
    // streamed, not collected: the 2.1 fixture is 500 points, but this
    // writer is the shape that holds if the runner ever points at a real
    // corpus (Artifacts.writeClasses2DDf pulls one partition at a time)
    Artifacts.writeClasses2DDf(
      Points.classesRows(pts, res21), s"${p.outDir}/task_2_1.classes")

    // 2.2 / 2.3 doc clustering over the 1.4 matrix
    val vecs = BbcTasks.docVectors(tfidf, nTerms.toInt).cache()
    val res22 = BbcTasks.docKMeansExplicit(spark, vecs, k = 5, iters = 10)
    writeDocArtifacts(spark, res22.assignments, res22.centers, res22.losses,
      docs, s"${p.outDir}/task_2_2")
    // the reference's 2.3 is 2.2's loop with k-means|| init — run the
    // explicit loop from a k-means|| seed so the per-iteration `.losses`
    // artifact exists for 2.3 too (the MLlib fit hides iteration state)
    val res23 = BbcTasks.docKMeansScalableExplicit(spark, vecs, k = 5, iters = 10)
    writeDocArtifacts(spark, res23.assignments, res23.centers, res23.losses,
      docs, s"${p.outDir}/task_2_3")
  }

  private def writeDocArtifacts(spark: SparkSession, assignments: DataFrame,
                                centers: Array[org.apache.spark.ml.linalg.Vector],
                                losses: Seq[(Int, Int, Double)],
                                docs: DataFrame, prefix: String): Unit = {
    Artifacts.writeClusters(centers, s"$prefix.clusters")
    // streamed, not collected: a corpus-sized assignment table must never
    // materialize on the driver (model state — centers/losses — is k-sized
    // and stays a plain driver write)
    Artifacts.writeClassesDf(assignments.select("doc_id", "cluster"),
      "doc_id", "cluster", s"$prefix.classes")
    if (losses.nonEmpty) Artifacts.writeLosses(losses, s"$prefix.losses")
    val top = graft.cluster.Clustering.topComponents(centers, 10)
    Artifacts.writeTopTerms(Seq((losses.map(_._1).maxOption.getOrElse(0), top)),
      10, s"$prefix.txt")
  }

  def main(args: Array[String]): Unit = {
    val Array(corpusDir, fixtureDir, pointsCsv, outDir) = args
    val spark = graft.GraftSession.fromEnv("graft-bbc")
    run(spark, Paths(corpusDir, s"$fixtureDir/bbc.terms", s"$fixtureDir/bbc.docs",
      s"$fixtureDir/stopwords.txt", pointsCsv, outDir))
    spark.stop()
  }
}
