package graft.bbc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.{BbcCorpus, Dict, MtxCodec}
import graft.text.TextOps

/** Reference task pipelines 1.1–1.5 re-expressed as single Catalyst plans
  * over the BBC fixtures (SURVEY §3: each multi-job MapReduce chain
  * collapses into one lazy DataFrame chain; shuffles only at the group-bys
  * and window exchanges).
  *
  * Observable semantics preserved (SURVEY §7.2): path→docId naming incl.
  * README skip; the clean-charset regex (incl. literal backslash — the
  * reference `Pattern.quote`s its escapes in, `sources/1.1/source/
  * task1_1.java:75-81`); stopword test on the cleaned token; corpus-freq
  * ≥ 3 group-HAVING; natural-log IDF over *rounded* 6-decimal TF (the
  * reference materializes TF as `%.6f` text between its two jobs, so the
  * rounding is part of the observable values, `task1_4.java:95,136-138`);
  * per-category averages divided by docs-in-category.
  */
object BbcTasks {

  /** Task 1.1: term–document count matrix.
    * Returns (term_id, doc_id, freq) — one shuffle (the groupBy); both
    * dictionary joins broadcast.
    */
  def countMatrix(spark: SparkSession, corpusDir: String, termsPath: String,
                  docsPath: String, stopPath: String): DataFrame = {
    val terms = Dict.load(spark, termsPath, "term_id", "token")
    val docs = Dict.load(spark, docsPath, "doc_id", "doc_name")
    val stop = Dict.loadStopwords(spark, stopPath)
    val tokens = BbcCorpus.readLines(spark, corpusDir)
      .select(col("doc_name"),
        explode(TextOps.cleanTokens(col("line"))).as("token"))
    TextOps.vocabJoin(
        TextOps.removeStopwords(tokens, "token", stop),
        "token", terms, "token")
      .groupBy("term_id", "doc_name")
      .agg(count(lit(1)).cast("int").as("freq"))
      .join(broadcast(docs), "doc_name")
      .select("term_id", "doc_id", "freq")
  }

  /** Task 1.2: keep triples of terms whose corpus frequency ≥ minFreq
    * (group-HAVING over member rows via window — single correct
    * application, not the reference's combiner double-filter).
    */
  def corpusFreqFilter(triples: DataFrame, minFreq: Long = 3L): DataFrame =
    triples
      .withColumn("corpus_freq", sum("freq").over(Window.partitionBy("term_id")))
      .filter(col("corpus_freq") >= minFreq)
      .drop("corpus_freq")

  /** Task 1.3: global top-N terms by total frequency
    * (TakeOrderedAndProject — partial top-k per partition, no full sort).
    */
  def topTerms(triples: DataFrame, n: Int = 10): DataFrame =
    triples.groupBy("term_id")
      .agg(sum("freq").as("total_freq"))
      .orderBy(desc("total_freq"), asc("term_id"))
      .limit(n)

  /** Task 1.4: TF-IDF over a (term_id, doc_id, freq) matrix.
    * tf = freq / Σfreq-per-doc, **rounded to 6 decimals** (the reference
    * writes TF as `%.6f` text between its two jobs and re-parses it);
    * idf = ln(totalDocs / df); output value = tf₆ · idf (full precision —
    * renderers apply the final `%.6f`).
    */
  def tfidf(triples: DataFrame, totalDocs: Long): DataFrame = {
    val wDoc = Window.partitionBy("doc_id")
    val wTerm = Window.partitionBy("term_id")
    triples
      .withColumn("tf",
        round(col("freq") / sum("freq").over(wDoc), 6))
      .withColumn("df", count(lit(1)).over(wTerm))
      .withColumn("value", col("tf") * log(lit(totalDocs.toDouble) / col("df")))
      .select("term_id", "doc_id", "value")
  }

  /** Task 1.5 aggregation: per (category, term) average TF-IDF where the
    * denominator is the number of distinct docs in the *category*
    * (`sources/1.5/source/task_1_5.java:56-76`). Doc identity comes from
    * the docs dictionary; category = doc_name minus its 4-char suffix.
    */
  def categoryAvgTfidf(tfidfTriples: DataFrame, docs: DataFrame): DataFrame = {
    val named = tfidfTriples.join(broadcast(docs), "doc_id")
      .withColumn("category", expr("substring(doc_name, 1, length(doc_name) - 4)"))
      .withColumn("doc_suffix", expr("substring(doc_name, length(doc_name) - 3, 4)"))
    val perCat = named.groupBy("category")
      .agg(countDistinct("doc_suffix").as("docs_in_cat"))
    named.groupBy("category", "term_id")
      .agg(sum("value").as("sum_tfidf"))
      .join(broadcast(perCat), "category")
      .select(col("category"), col("term_id"),
        (col("sum_tfidf") / col("docs_in_cat")).as("avg_tfidf"))
  }

  /** Task 1.5 report: per category the top-n terms by average TF-IDF,
    * formatted exactly like the reference (`Capitalized: term:v, …` with
    * `DecimalFormat("#.##")` — note HALF_EVEN rounding), built driver-side
    * from the k×n result (5×5 rows — collect is bounded).
    */
  def categoryReport(avg: DataFrame, terms: DataFrame, n: Int = 5): Seq[String] = {
    val w = Window.partitionBy("category").orderBy(desc("avg_tfidf"), asc("term_id"))
    val top = avg
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .join(broadcast(terms), "term_id")
      .select("category", "rn", "token", "avg_tfidf")
      .collect()
    val fmt = new java.text.DecimalFormat("#.##")
    top.groupBy(_.getString(0)).toSeq.sortBy(_._1).map { case (cat, rows) =>
      val items = rows.sortBy(_.getInt(1))
        .map(r => s"${r.getString(2)}:${fmt.format(r.getDouble(3))}")
      cat.capitalize + ": " + items.mkString(", ")
    }
  }

  /** Tasks 2.2/2.3: pivot the 1-based (term_id, doc_id, value) TF-IDF
    * matrix into 0-indexed sparse document vectors (A14 — by term index,
    * not the reference's positionally-meaningless padded strings).
    */
  def docVectors(tfidfTriples: DataFrame, vocabSize: Int): DataFrame =
    graft.cluster.Clustering.vectorize(
      tfidfTriples.select(col("doc_id"), (col("term_id") - 1).as("term0"),
        col("value")),
      "doc_id", "term0", "value", vocabSize)

  /** Task 2.2 shape: explicit cosine Lloyd loop, fixed `iters` iterations
    * (no tol — `sources/2.2/source/KMeans.java:90,167-195`), per-iteration
    * per-cluster losses. True cosine, true mean, loss against the previous
    * full centroid (corrections per SURVEY §7.2).
    */
  def docKMeansExplicit(spark: SparkSession, vectors: DataFrame, k: Int = 5,
                        iters: Int = 10): graft.cluster.Clustering.LloydResult =
    graft.cluster.Clustering.lloydLoop(spark, vectors, "doc_id", k,
      maxIter = iters, tol = 0.0, distanceMeasure = "cosine")

  /** Task 2.3 shape: MLlib K-Means with the published k-means|| init
    * (Bahmani et al., VLDB 2012) — the faithful version of the reference's
    * hand-rolled per-partition approximation (SURVEY M6).
    */
  def docKMeansScalable(vectors: DataFrame, k: Int = 5, iters: Int = 10,
                        seed: Long = 42L): org.apache.spark.ml.clustering.KMeansModel =
    graft.cluster.Clustering.fitKMeans(vectors, k, maxIter = iters,
      seed = seed, initMode = "k-means||", distanceMeasure = "cosine")

  /** Task 2.3 with the REFERENCE's artifact structure: the same explicit
    * Lloyd loop as 2.2 (per-iteration losses — the `.losses` file 2.3
    * also emits in the reference) seeded from a k-means|| initialization
    * (one MLlib `maxIter = 1` fit stands in for the init-only step the
    * API doesn't expose; the 10 explicit iterations that follow dominate
    * the trajectory either way).
    */
  def docKMeansScalableExplicit(spark: SparkSession, vectors: DataFrame,
                                k: Int = 5, iters: Int = 10,
                                seed: Long = 42L): graft.cluster.Clustering.LloydResult = {
    val seeded = graft.cluster.Clustering.fitKMeans(vectors, k, maxIter = 1,
      seed = seed, initMode = "k-means||", distanceMeasure = "cosine")
    graft.cluster.Clustering.lloydLoop(spark, vectors, "doc_id", k,
      maxIter = iters, tol = 0.0, distanceMeasure = "cosine",
      initCenters = Some(seeded.clusterCenters))
  }
}
