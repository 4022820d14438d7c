package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.WordPieceSplit

/** Relational WordPiece vocabulary induction and application (Schuster &
  * Nakajima, "Japanese and Korean Voice Search", ICASSP 2012 — the BERT
  * tokenizer family, Devlin et al. 2019) — the third tokenizer family
  * next to [[Bpe]] (frequency-scored merges) and [[UnigramLm]]
  * (likelihood-pruned pieces):
  *
  *  - TRAIN is [[Bpe]]'s bounded driver loop over the DISTINCT-WORD
  *    symbol table with ONE change: the per-iteration argmax picks the
  *    adjacent pair maximizing the LIKELIHOOD GAIN score
  *    `count(ab) / (count(a) · count(b))` instead of the raw pair count —
  *    the merge that most increases corpus likelihood under a unigram
  *    symbol model (the canonical WordPiece criterion). Scores compare in
  *    integer micro-nats (`round((ln pc − ln ca − ln cb) · 10⁶)`), the
  *    [[UnigramLm]] precedent that keeps the DuckDB oracle's float math
  *    bit-agreeing with the JVM's; ties break score DESC → lhs ASC →
  *    rhs ASC. Sequential merge mechanics (greedy-leftmost run-parity
  *    pass) are [[Bpe]]'s, shared code; the batched trainer applies
  *    whole rank-ordered batches per word through the codegen
  *    [[graft.functions.MergeBatchApply]] kernel instead (see [[train]]).
  *  - APPLY is NOT a merge replay: WordPiece segments by greedy
  *    longest-match-first over the learned vocabulary
  *    ([[graft.functions.WordPieceKernels]], a codegen expression with
  *    the vocab as a plan reference object), the rule every BERT-family
  *    tokenizer ships. Unknown characters make the whole word `[UNK]`.
  *    Segmentation runs on the distinct-word table and joins back onto
  *    the exploded corpus — corpus touched once, vocab-sized work.
  *
  * Scale shape: the loop's cost is vocabulary-bound (sublinear in
  * corpus rows), per-pass state is one pinned vocab-sized table, and
  * `batchSize` > 1 guarantees ceil(numMerges / batchSize) passes — the
  * array-representation trainer needs no symbol-disjointness, so the
  * likelihood ranking's rare-symbol head clustering (which starved the
  * disjoint batching to a mean fill of 17/256 at production vocab)
  * cannot limit batch fill.
  */
object WordPiece {

  /** One learned merge: at `merge_rank`, (`lhs`, `rhs`) fuse into
    * `merged`; `score_micro` is the winning likelihood score in integer
    * micro-nats, `pair_count` its weighted corpus frequency.
    */
  final case class WpMerge(merge_rank: Int, lhs: String, rhs: String,
                           merged: String, score_micro: Long, pair_count: Long)

  /** A trained model: the merge list plus the training alphabet (every
    * single character seen — the greedy matcher's fallback floor). The
    * apply vocabulary is their union; both are driver-side and
    * vocab-bounded, nothing stays pinned.
    */
  final case class WpModel(merges: Seq[WpMerge], alphabet: Seq[String]) {
    /** Greedy-match vocabulary: alphabet ∪ merged pieces (distinct —
      * two different merge paths can produce the same string).
      */
    def pieces: Seq[String] = (alphabet ++ merges.map(_.merged)).distinct
  }

  private def w = Window.partitionBy("word").orderBy("pos")

  /** ln pc − ln ca − ln cb in micro-nats: EXACTLY the oracle's
    * ln(CAST(pc AS DOUBLE)) − ln(ca) − ln(cb) evaluation order.
    */
  private def scoreMicro(pc: Column, ca: Column, cb: Column): Column =
    round((log(pc.cast("double")) - log(ca.cast("double"))
      - log(cb.cast("double"))) * lit(1000000.0)).cast("long")

  /** All adjacent pairs of the current symbol table with their
    * likelihood scores: (lhs, rhs, pc, score_micro). Symbol counts join
    * in by broadcast (symbol-alphabet-sized). The symbol-count table is
    * PINNED for the pass — the two broadcast joins would otherwise each
    * replay its aggregation over the full symbol table (one extra job
    * per pass × thousands of passes at production vocab); the caller
    * releases via the returned handle after collecting the argmax.
    */
  private def scoredPairs(syms: DataFrame): (DataFrame, () => Unit) = {
    val symCounts = syms.groupBy(col("sym")).agg(sum("cnt").as("c"))
      .localCheckpoint(true)
    val scored = syms
      .withColumn("__nxt", lead("sym", 1).over(w))
      .filter(col("__nxt").isNotNull)
      .groupBy(col("sym").as("lhs"), col("__nxt").as("rhs"))
      .agg(sum("cnt").as("pc"))
      .join(broadcast(symCounts.select(col("sym").as("lhs"), col("c").as("__ca"))), "lhs")
      .join(broadcast(symCounts.select(col("sym").as("rhs"), col("c").as("__cb"))), "rhs")
      .withColumn("score_micro", scoreMicro(col("pc"), col("__ca"), col("__cb")))
      .select("lhs", "rhs", "pc", "score_micro")
    (scored, () => graft.util.Pins.release(symCounts))
  }

  private def bestScored(syms: DataFrame): Option[(String, String, Long, Long)] = {
    val (scored, release) = scoredPairs(syms)
    try scored
      .orderBy(desc("score_micro"), asc("lhs"), asc("rhs"))
      .limit(1)
      .collect()
      .headOption
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    finally release()
  }

  /** Induce (at most) `numMerges` WordPiece merges. Driver state:
    * `numMerges` merge rows + the alphabet. Early-stops when no adjacent
    * pair remains.
    *
    * `batchSize` == 1 is the sequential trainer — byte-for-byte the
    * DuckDB oracle's semantics (one exploded-table argmax + one window
    * merge pass per rank).
    *
    * `batchSize` > 1 runs the ARRAY-representation trainer
    * ([[trainBatched]]): the top-B pairs by (score DESC, lhs, rhs) are
    * taken WITHOUT a disjointness filter and applied per word in rank
    * order by the codegen [[graft.functions.MergeBatchApply]] kernel —
    * every batch fills completely, where the previous symbol-disjoint
    * batching starved on the likelihood head's shared-rare-symbol
    * clusters (measured mean fill 17/256 → ~1,800 passes for 32k
    * ranks). Contract: merge ranks can displace by at most one pass vs
    * sequential (created super-pairs enter the candidate pool one pass
    * late — [[Bpe.train]]'s language); recorded `score_micro`/
    * `pair_count` are the PRE-PASS values, which for interacting batch
    * members (one merge consuming another's occurrences) can differ
    * from sequential's at-acceptance values — unlike disjoint batching,
    * which kept them exact. The batched path trades that exactness for
    * a full batch every pass; the oracle-declared queries train with
    * `batchSize = 1` and are unaffected.
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
            batchSize: Int = 1): WpModel = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    if (batchSize > 1) return trainBatched(docs, textCol, numMerges, batchSize)
    var syms = Bpe.initialSymbols(Bpe.words(docs, textCol)).localCheckpoint(true)
    val alphabet = syms.select("sym").distinct().orderBy("sym")
      .collect().map(_.getString(0)).toSeq
    val merges = scala.collection.mutable.ArrayBuffer.empty[WpMerge]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      bestScored(syms) match {
        case Some((a, b, pc, sm)) =>
          merges += WpMerge(rank + 1, a, b, a + b, sm, pc)
          syms = graft.util.Pins.advance(syms, Bpe.mergePass(syms, a, b))
          rank += 1
        case None => exhausted = true
      }
    }
    graft.util.Pins.release(syms)
    WpModel(merges.toSeq, alphabet)
  }

  /** The batched trainer: symbol tables live as ONE ROW PER WORD with an
    * `array<string>` symbol column, so a pass is two explode-aggregates
    * (pair counts, symbol counts — hash aggregation, no window sort) +
    * one codegen projection applying the whole batch per word in rank
    * order ([[graft.functions.MergeKernels]]). Per-pass pinned state is
    * one word-sized table, exactly like the sequential loop; passes =
    * ceil(numMerges / batchSize) by construction (a batch is under-full
    * only when the corpus runs out of pairs).
    */
  /** The batched trainer's per-pass scored-candidate plan over the
    * current loop table: adjacent-pair explode → ONE (lhs, rhs)
    * partial/final aggregate → the two symbol-count attachments as
    * BROADCAST hash joins (symCounts is vocabulary-sized) → micro-score
    * projection → top-`limit` as TakeOrderedAndProject. Same 2-jobs-
    * per-B posture as [[graft.text.Bpe.batchCandidates]], plus the
    * score's broadcast joins; exposed `private[graft]` for the PlanSpec
    * pin and PLANS.md.
    */
  private[graft] def batchScoredCandidates(tbl: DataFrame, symCounts: DataFrame,
                                           limit: Int): DataFrame =
    tbl
      .select(col("cnt"), explode(zip_with(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1),
        (l, r) => struct(l.as("lhs"), r.as("rhs")))).as("pr"))
      .groupBy(col("pr.lhs").as("lhs"), col("pr.rhs").as("rhs"))
      .agg(sum("cnt").as("pc"))
      .join(broadcast(symCounts.select(col("sym").as("lhs"), col("c").as("__ca"))), "lhs")
      .join(broadcast(symCounts.select(col("sym").as("rhs"), col("c").as("__cb"))), "rhs")
      .withColumn("score_micro", scoreMicro(col("pc"), col("__ca"), col("__cb")))
      .select("lhs", "rhs", "pc", "score_micro")
      .orderBy(desc("score_micro"), asc("lhs"), asc("rhs"))
      .limit(limit)

  private def trainBatched(docs: DataFrame, textCol: String, numMerges: Int,
                           batchSize: Int): WpModel = {
    import graft.functions.MergeBatchApply
    var tbl = Bpe.symsTable(docs, textCol).localCheckpoint(true)
    val alphabet = tbl.select(explode(col("syms")).as("sym")).distinct()
      .orderBy("sym").collect().map(_.getString(0)).toSeq
    val merges = scala.collection.mutable.ArrayBuffer.empty[WpMerge]
    var rank = 0
    var passes = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      passes += 1
      val symCounts = tbl.select(explode(col("syms")).as("sym"), col("cnt"))
        .groupBy("sym").agg(sum("cnt").as("c")).localCheckpoint(true)
      val batch =
        try batchScoredCandidates(tbl, symCounts,
          math.min(batchSize, numMerges - rank)).collect()
        finally graft.util.Pins.release(symCounts)
      if (batch.isEmpty) exhausted = true
      else {
        batch.zipWithIndex.foreach { case (r, i) =>
          merges += WpMerge(rank + 1 + i, r.getString(0), r.getString(1),
            r.getString(0) + r.getString(1), r.getLong(3), r.getLong(2))
        }
        tbl = graft.util.Pins.advance(tbl, tbl.withColumn("syms",
          MergeBatchApply(col("syms"),
            batch.toSeq.map(r => (r.getString(0), r.getString(1))))))
        rank += batch.length
      }
    }
    graft.util.Pins.release(tbl)
    System.err.println(
      s"[wordpiece] ${merges.size} merges in $passes passes " +
        s"(batch $batchSize, mean fill ${merges.size / math.max(1, passes)})")
    WpModel(merges.toSeq, alphabet)
  }

  /** Greedy-segment a word list: (word, pieces array<string>) with `##`
    * continuation marks. One codegen projection over the distinct words
    * — no loop, no join; the vocabulary rides the plan.
    */
  def segmentWords(wordList: DataFrame, model: WpModel,
                   mark: Boolean = true): DataFrame =
    // no session-width repartition under the distinct: the DP is
    // allocation-heavy, and spread 32-wide it lost more to GC than it
    // gained (0.87 s vs 0.77 s at sf0.1); AQE's byte-based sizing stays.
    wordList.select("word").distinct()
      .withColumn("pieces", WordPieceSplit.split(col("word"), model.pieces, mark))

  /** Tokenize a corpus: segment its DISTINCT words (one codegen pass),
    * join back onto the exploded corpus. One row per subword:
    * (idCol, widx, pos, token). The seg side is distinct-word-sized;
    * the join is left to AQE (usually broadcast).
    */
  def tokenize(docs: DataFrame, idCol: String, textCol: String,
               model: WpModel): DataFrame = {
    val docWords = docs.select(col(idCol),
      posexplode(regexp_extract_all(lower(col(textCol)), lit("[a-z]+"), lit(0)))
        .as(Seq("widx", "word")))
    val seg = segmentWords(docWords.select("word"), model)
      .select(col("word"), posexplode(col("pieces")).as(Seq("pos", "token")))
    docWords.join(seg, "word")
      .select(col(idCol), col("widx"), col("pos"), col("token"))
  }

  /** Persist a model: merges + alphabet as parquet (overwrite) — the
    * serve-many artifact, [[Bpe.save]]'s contract.
    */
  def save(model: WpModel, path: String, spark: SparkSession): Unit = {
    import spark.implicits._
    // fail at save time, not at some later load: a zero-merge model
    // (numMerges = 0, or a corpus of single-char words) would persist
    // fine but be rejected by load()'s non-empty assertion — an
    // artifact that can be written but never read back
    require(model.merges.nonEmpty,
      "refusing to persist a WordPiece model with no merges " +
        "(load() would reject it; train with numMerges >= 1 on a " +
        "corpus with at least one adjacent pair)")
    model.merges.toDF().coalesce(1)
      .write.mode("overwrite").parquet(s"$path/merges")
    model.alphabet.toDF("sym").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/alphabet")
  }

  /** Crash-safe model publish: [[save]]'s two-directory overwrite is not
    * atomic (a crash between the merges and alphabet writes leaves a
    * torn model that [[load]] can only reject, not repair), so a LIVE
    * model dir — one a serving pipeline reads while the drift monitor
    * ([[graft.streaming.IncrementalTokenizerDrift]]) decides to retrain
    * — is replaced through the shared
    * [[graft.streaming.CompactionSwap.swap]] protocol instead: write
    * the full model to a tmp dir, then swap it into place with the
    * crash-recoverable rename pair (a reader sees the old model or the
    * new one, never a torn mix; a crash mid-swap rolls forward/back on
    * the next publish). First publish (no existing dir) is a single
    * tmp-write + rename.
    */
  def publish(model: WpModel, modelDir: String, spark: SparkSession): Unit = {
    import graft.streaming.CompactionSwap
    import org.apache.hadoop.fs.Path
    val fs = CompactionSwap.fsFor(modelDir,
      spark.sparkContext.hadoopConfiguration)
    val swapped = CompactionSwap.swap(fs, modelDir)(tmp => save(model, tmp, spark))
    if (!swapped) {
      // first publish: stage fully, then one rename into place
      val tmp = new Path(modelDir + ".publishing")
      fs.delete(tmp, true)
      save(model, tmp.toString, spark)
      if (!fs.rename(tmp, new Path(modelDir)))
        throw new java.io.IOException(
          s"model publish failed: $tmp -> $modelDir")
    }
  }

  /** Load a persisted model; merge ranks are asserted contiguous from 1
    * and the alphabet non-empty (truncated or partially overwritten
    * artifacts fail loudly — [[Bpe.load]]'s contract).
    */
  def load(spark: SparkSession, path: String): WpModel = {
    import spark.implicits._
    val merges = spark.read.parquet(s"$path/merges").as[WpMerge]
      .collect().sortBy(_.merge_rank).toSeq
    require(merges.nonEmpty, s"no WordPiece merges at $path/merges")
    require(merges.map(_.merge_rank) == (1 to merges.length),
      s"WordPiece merge list at $path is not contiguous from rank 1 — " +
        "truncated or partially overwritten model")
    val alphabet = spark.read.parquet(s"$path/alphabet")
      .orderBy("sym").collect().map(_.getString(0)).toSeq
    require(alphabet.nonEmpty, s"empty WordPiece alphabet at $path/alphabet")
    WpModel(merges, alphabet)
  }
}
