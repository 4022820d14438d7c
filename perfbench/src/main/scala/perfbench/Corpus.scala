package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Seeded BBC-shaped corpus: five category directories of numbered text
  * files plus a `README` that the reader must skip, the `bbc.terms` /
  * `bbc.docs` / `stopwords.txt` dictionaries and a 2-D points CSV.
  *
  * The same seed writes the same bytes. [[Corpus.expected]] recomputes the
  * task 1.1 / 1.3 / 1.5 results from the generated text in plain Scala, so
  * the chain's artifacts are checked against an independent computation.
  */
object Corpus {

  val Categories: Seq[String] = Seq("business", "entertainment", "politics", "sport", "tech")
  /** The BBC corpus's per-category shares (510/386/417/511/401 of 2225). */
  private val Shares = Seq(510, 386, 417, 511, 401)
  val DictTerms = 9635
  /** Lloyd iterations task 2.1 takes on every corpus this generator writes. */
  val KMeans2DIterations = 5
  private val OovTerms = 1500

  val Stopwords: Seq[String] = Seq(
    "a", "about", "after", "all", "also", "an", "and", "any", "are", "as", "at",
    "be", "been", "but", "by", "can", "could", "did", "do", "for", "from", "had",
    "has", "have", "he", "her", "his", "if", "in", "into", "is", "it", "its",
    "more", "most", "no", "not", "of", "on", "one", "only", "or", "other", "our",
    "out", "over", "said", "she", "so", "some", "than", "that", "the", "their",
    "them", "then", "there", "these", "they", "this", "to", "up", "was", "we",
    "were", "what", "when", "which", "who", "will", "with", "would", "you")

  final case class Layout(root: Path) {
    val corpusDir: Path = root.resolve("bbc")
    val terms: Path = root.resolve("bbc.terms")
    val docs: Path = root.resolve("bbc.docs")
    val stopwords: Path = root.resolve("stopwords.txt")
    val points: Path = root.resolve("2DPoints.csv")
  }

  /** What the generator put on disk, kept for the plain-Scala expectation. */
  final case class Generated(layout: Layout, terms: Array[String],
                             docNames: Array[String], docTexts: Array[String],
                             points: Array[(Double, Double)])

  /** Writes a corpus of `nDocs` documents under `root` from `seed`. */
  def generate(root: Path, seed: Long, nDocs: Int): Generated = {
    val rng = new java.util.Random(seed)
    val layout = Layout(root)
    Files.createDirectories(layout.corpusDir)

    val stop = Stopwords.toSet
    val words = pseudoWords(rng, DictTerms + OovTerms, stop)
    val terms = words.take(DictTerms)
    val oov = words.drop(DictTerms)

    // a global Zipf over the dictionary plus, per category, a Zipf over
    // its own permutation of it: categories share common words and differ
    // in their topical ones, as news sections do. The categories sit on a
    // ring and each article draws up to half of its topical words from one
    // neighbour's, so the documents fill the ring without gaps. With five
    // separate topics the 2.2 and 2.3 loops (tolerance 0) reach a fixed
    // point within 2-4 iterations and then stop or go on to 10 depending
    // on how the center movement rounds, which makes the chain's work
    // depend on the seed; on the ring they rarely reach one within 10
    val zipf = zipfCdf(DictTerms, 1.05)
    val catRank = Categories.map(_ => shuffled(rng, DictTerms))
    val perCat = split(nDocs, Shares)
    val width = math.max(3, perCat.max.toString.length)

    val names = Array.newBuilder[String]
    val texts = Array.newBuilder[String]
    for (((cat, n), ci) <- Categories.zip(perCat).zipWithIndex) {
      val dir = layout.corpusDir.resolve(cat)
      Files.createDirectories(dir)
      for (i <- 1 to n) {
        val stem = s"%0${width}d".format(i)
        val text = document(rng, terms, oov, zipf, catRank(ci),
          catRank((ci + Categories.size - 1) % Categories.size), catRank((ci + 1) % Categories.size))
        Files.write(dir.resolve(s"$stem.txt"), text.getBytes(StandardCharsets.UTF_8))
        names += s"$cat.$stem"
        texts += text
      }
    }
    Files.write(layout.corpusDir.resolve("README.TXT"),
      "Synthetic BBC-shaped corpus; five categories, one file per article.\n"
        .getBytes(StandardCharsets.UTF_8))

    val docNames = names.result()
    writeLines(layout.terms, terms.toSeq)
    writeLines(layout.docs, docNames.toSeq)
    writeLines(layout.stopwords, Stopwords)

    // the 2.1 loop starts from the three points first in (x, y) order.
    // With blobs placed at random those start anywhere and the loop takes
    // 3 to 20 iterations depending on the seed. Here they are three
    // anchor points left of three blobs on a line, with fixed blob sizes
    // and noise clipped to 3 sigma; every decision boundary on the loop's
    // path stays 0.5 clear of every point, so it takes
    // KMeans2DIterations (5) iterations on every seed
    def coord(center: Double) =
      f"${center + math.max(-3.0, math.min(3.0, rng.nextGaussian())) * 0.5}%.4f".toDouble
    val points = Seq((0.0, 166), (6.0, 166), (38.0, 165)).zipWithIndex.flatMap {
      case ((cx, n), c) => Seq.fill(n)((c, coord(cx), coord(0.0)))
    } ++ Seq(-14.0, -10.0, -6.0).zipWithIndex.map { case (x, c) => (c, x, 0.0) }
    writeLines(layout.points, "class,x,y" +: points.map { case (c, x, y) => s"$c,$x,$y" })
    Generated(layout, terms, docNames, texts.result(), points.map(p => (p._2, p._3)).toArray)
  }

  /** Expected task outputs, from the generated text alone. */
  final case class Expected(nTerms: Long, nDocs: Long, nnz: Long, nnzFiltered: Long,
                            top10: Seq[String], report: Seq[String], vectorDocs: Seq[Int])

  /** The chain's observable semantics restated without Spark: clean-charset
    * strip + lowercase, whitespace split, stopword drop, dictionary join,
    * corpus frequency ≥ 3, TF rounded to 6 decimals (HALF_UP), natural-log
    * IDF, per-category averages over the category's document count,
    * report values in `#.##`.
    */
  def expected(g: Generated): Expected = {
    val termId = g.terms.zipWithIndex.map { case (t, i) => t -> (i + 1) }.toMap
    val stop = Stopwords.toSet
    val counts = mutable.HashMap.empty[(Int, Int), Int]
    for ((text, d) <- g.docTexts.zipWithIndex; line <- text.split("\n", -1)) {
      val cleaned = line.filterNot(CleanChars.contains).toLowerCase(java.util.Locale.ROOT)
      for (tok <- cleaned.split("\\s+") if tok.nonEmpty && !stop.contains(tok);
           t <- termId.get(tok)) {
        val key = (t, d + 1)
        counts(key) = counts.getOrElse(key, 0) + 1
      }
    }
    val corpusFreq = mutable.HashMap.empty[Int, Long]
    counts.foreach { case ((t, _), f) => corpusFreq(t) = corpusFreq.getOrElse(t, 0L) + f }
    val filtered = counts.filter { case ((t, _), _) => corpusFreq(t) >= 3 }

    val top10 = filtered.groupMapReduce(_._1._1)(_._2.toLong)(_ + _).toSeq
      .sortBy { case (t, f) => (-f, t) }.take(10).map { case (t, f) => s"$t\t$f" }

    val nDocs = g.docNames.length.toLong
    val docSum = filtered.groupMapReduce(_._1._2)(_._2.toLong)(_ + _)
    val df = filtered.groupMapReduce(_._1._1)(_ => 1L)(_ + _)
    val category = (d: Int) => { val n = g.docNames(d - 1); n.substring(0, n.length - 4) }
    val suffix = (d: Int) => { val n = g.docNames(d - 1); n.substring(n.length - 4) }
    val sums = mutable.HashMap.empty[(String, Int), Double]
    val catDocs = mutable.HashMap.empty[String, mutable.Set[String]]
    filtered.toSeq.sortBy(_._1).foreach { case ((t, d), f) =>
      val tf = BigDecimal(f.toDouble / docSum(d).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val v = tf * math.log(nDocs.toDouble / df(t).toDouble)
      val key = (category(d), t)
      sums(key) = sums.getOrElse(key, 0.0) + v
      catDocs.getOrElseUpdate(category(d), mutable.Set.empty) += suffix(d)
    }
    val fmt = new java.text.DecimalFormat("#.##")
    val report = sums.toSeq.groupBy(_._1._1).toSeq.sortBy(_._1).map { case (cat, rows) =>
      val n = catDocs(cat).size.toDouble
      val top = rows.map { case ((_, t), s) => (t, s / n) }
        .sortBy { case (t, avg) => (-avg, t) }.take(5)
      cat.capitalize + ": " +
        top.map { case (t, avg) => s"${g.terms(t - 1)}:${fmt.format(avg)}" }.mkString(", ")
    }
    Expected(g.terms.length, nDocs, counts.size, filtered.size, top10, report,
      filtered.keys.map(_._2).toSeq.distinct)
  }

  /** The clean charset of task 1.1, backslash included. */
  private val CleanChars: Set[Char] = "~!@#$%^&*()\\-+[]\"':.,<>".toSet

  private val Syllables = Array("ba", "ko", "ri", "tel", "man", "su", "dor", "ve", "lin",
    "pa", "gro", "mi", "sto", "ne", "ra", "qua", "fe", "lo", "tri", "den", "go", "shi",
    "ar", "el", "um", "po", "ct", "ze", "wa", "ny", "ex", "ho")

  private def pseudoWords(rng: java.util.Random, n: Int, avoid: Set[String]): Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val w = (0 until 2 + rng.nextInt(3)).map(_ => Syllables(rng.nextInt(Syllables.length))).mkString
      if (!avoid.contains(w)) seen += w
    }
    seen.toArray
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val cdf = w.scanLeft(0.0)(_ + _).tail
    cdf.map(_ / cdf.last)
  }

  private def draw(rng: java.util.Random, cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  private def shuffled(rng: java.util.Random, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a
  }

  private def split(total: Int, shares: Seq[Int]): Seq[Int] = {
    val base = shares.map(s => (total.toLong * s / shares.sum).toInt)
    base.updated(0, base.head + total - base.sum)
  }

  /** One article: a title line, a blank line and paragraphs of decorated
    * tokens (capitals, trailing punctuation, quotes and brackets from the
    * clean charset), with stopwords and out-of-dictionary words mixed in.
    * Its topical words come from its own category's ranking (`own`) and,
    * for a seeded share of up to one half, from one neighbour's.
    */
  private def document(rng: java.util.Random, terms: Array[String], oov: Array[String],
                       zipf: Array[Double], own: Array[Int], left: Array[Int],
                       right: Array[Int]): String = {
    val lean = rng.nextDouble() - 0.5
    val neighbour = if (lean < 0) left else right
    def topical(): Array[Int] = if (rng.nextDouble() < math.abs(lean)) neighbour else own
    def word(): String = {
      val p = rng.nextDouble()
      val w =
        if (p < 0.30) Stopwords(rng.nextInt(Stopwords.length))
        else if (p < 0.35) oov(rng.nextInt(oov.length))
        else if (p < 0.65) terms(topical()(draw(rng, zipf)))
        else terms(draw(rng, zipf))
      rng.nextInt(20) match {
        case 0 => w.capitalize
        case 1 => w + ","
        case 2 => w + "."
        case 3 => "\"" + w + "\""
        case 4 => "(" + w + ")"
        case 5 => w.toUpperCase(java.util.Locale.ROOT) + ":"
        case _ => w
      }
    }
    val sb = new StringBuilder
    sb ++= (0 until 4 + rng.nextInt(5)).map(_ => word()).mkString(" ") ++= "\n\n"
    for (p <- 0 until 3 + rng.nextInt(6)) {
      if (p > 0) sb ++= "\n\n"
      sb ++= (0 until 20 + rng.nextInt(60)).map(_ => word()).mkString(" ")
    }
    sb.toString
  }

  private def writeLines(p: Path, lines: Seq[String]): Unit =
    Files.write(p, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
}
