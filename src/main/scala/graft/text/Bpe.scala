package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational byte-pair-encoding (BPE) merge-table induction and
  * application (Sennrich, Haddow & Birch, "Neural Machine Translation of
  * Rare Words with Subword Units", ACL 2016) — the tokenizer-parity
  * operator of a training-data pipeline, expressed entirely as DataFrame
  * aggregates so it distributes:
  *
  *  - TRAIN is a bounded driver loop (the `lloydLoop` shape,
  *    [[graft.cluster.Clustering]]): per iteration, ONE aggregate finds
  *    the globally most frequent adjacent symbol pair (weighted by word
  *    frequency, deterministic ties: count DESC then pair lexicographic
  *    ASC), and one window pass applies the merge. The driver holds k
  *    merge rows, never data.
  *  - The working set is the DISTINCT-WORD table, not the corpus: classic
  *    word-level BPE aggregates the corpus to (word, count) first, so the
  *    loop's cost scales with vocabulary (sublinear in corpus size), and
  *    the corpus itself is touched exactly once at train time and once at
  *    apply time.
  *  - APPLY never loops over the corpus: the trained model carries the
  *    final segmentation of every training word, and new corpora segment
  *    their (small) distinct-word vocabulary through the merge list, then
  *    join it back — the precomputed word→subwords cache every production
  *    tokenizer uses.
  *
  * Merge semantics are canonical greedy-leftmost, made relational via the
  * match-run parity rule: within a maximal run of consecutive pair
  * matches (which only occurs for self-pairs like (a,a) over "aaaa"),
  * greedy selects offsets 0, 2, 4, …. Positions are re-densified after
  * every pass, so `(pos − runStart) % 2 == 0` IS the greedy choice. This
  * replays identically in any engine with windows — the DuckDB oracle is
  * GENERATED from the same per-iteration template
  * ([[graft.queries.TextPipeline.bpeOracle]]), so the two engines cannot
  * drift.
  *
  * No UDFs, no higher-order functions: chars come from
  * `regexp_extract_all`, merges from lead/lag/row_number windows — all
  * codegen. Every window partitions by `word` (high cardinality — no
  * skew ceiling), and each pass advances the symbol table through
  * [[graft.util.Pins.advance]].
  */
object Bpe {

  /** One learned merge: at `merge_rank`, adjacent symbols (`lhs`, `rhs`)
    * fuse into `merged`; `pair_count` is the weighted corpus frequency
    * that won the rank.
    */
  final case class Merge(merge_rank: Int, lhs: String, rhs: String,
                         merged: String, pair_count: Long)

  /** A trained model: the merge list (driver-side, k rows) plus the final
    * symbol table of the TRAINING vocabulary — (word, cnt, pos, sym),
    * localCheckpoint-pinned (the serve-many artifact). `release()` drops
    * the pin when the model is retired.
    */
  final case class BpeModel(merges: Seq[Merge], vocabSyms: DataFrame,
                            release: () => Unit)

  /** The pre-tokenizer: lowercase letter runs (`[a-z]+`), the simplest
    * engine-portable word splitter — one row per distinct word with its
    * corpus frequency. (Real BPE pre-tokenizers add digit runs and
    * punctuation classes; the induction below is agnostic to the word
    * source.)
    */
  def words(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(regexp_extract_all(lower(col(textCol)),
        lit("[a-z]+"), lit(0))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** Initial symbol table: one row per character of each distinct word —
    * (word, cnt, pos, sym), pos dense from 0.
    */
  def initialSymbols(words: DataFrame): DataFrame =
    words.select(col("word"), col("cnt"),
      posexplode(regexp_extract_all(col("word"), lit("."), lit(0)))
        .as(Seq("pos", "sym")))

  private def w = Window.partitionBy("word").orderBy("pos")

  /** One greedy merge pass over a dense-pos symbol table: fuse every
    * greedy-selected adjacent (lhs, rhs) into lhs+rhs. Match-run parity
    * selects greedy-leftmost occurrences (see object doc); absorbed rows
    * (the rhs of a selected pair) drop; positions re-densify. All codegen
    * window functions over one (word, pos) sort.
    */
  private[text] def mergePass(syms: DataFrame, lhs: String, rhs: String): DataFrame = {
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    syms
      .withColumn("__nxt", lead("sym", 1).over(w))
      .withColumn("__m",
        coalesce(col("sym") === lit(lhs) && col("__nxt") === lit(rhs), lit(false)))
      // runStart = 1 + last non-match position at or before here (the
      // current row only counts when it is itself a non-match, which is
      // exactly the strictly-before semantics a match row needs)
      .withColumn("__sel", col("__m") &&
        (col("pos") - (coalesce(max(when(!col("__m"), col("pos"))).over(cum),
          lit(-1)) + 1)) % 2 === 0)
      .withColumn("__absorbed", coalesce(lag("__sel", 1).over(w), lit(false)))
      .filter(!col("__absorbed"))
      .select(col("word"), col("cnt"),
        (row_number().over(w) - 1).cast("int").as("pos"),
        when(col("__sel"), concat(col("sym"), col("__nxt")))
          .otherwise(col("sym")).as("sym"))
  }

  /** The globally best adjacent pair of the current symbol table:
    * max Σ cnt, ties count DESC → lhs ASC → rhs ASC (binary string order,
    * engine-portable). One partial-aggregated shuffle + a 1-row collect.
    */
  private def bestPair(syms: DataFrame): Option[(String, String, Long)] =
    syms
      .withColumn("__nxt", lead("sym", 1).over(w))
      .filter(col("__nxt").isNotNull)
      .groupBy(col("sym").as("lhs"), col("__nxt").as("rhs"))
      .agg(sum("cnt").as("pc"))
      .orderBy(desc("pc"), asc("lhs"), asc("rhs"))
      .limit(1)
      .collect()
      .headOption
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))

  /** Induce a merge table of (at most) `numMerges` ranks over the corpus.
    * Stops early only when no adjacent pair remains (every word fully
    * merged). Bounded driver state: `numMerges` Merge rows.
    *
    * `batchSize` > 1 applies the top-B symbol-disjoint pairs per pass
    * (2 Spark jobs per B merges instead of per merge — what makes
    * 32k-merge production vocabularies feasible). Batch ranks agree
    * with sequential training whenever no pass CREATES a super-pair
    * (x, merged) whose count exceeds a later batch member's — created
    * pairs enter the candidate pool one pass late, so in the general
    * case a merge's rank can be displaced by at most one pass's worth
    * of positions (BpeSpec pins both the natural-corpus equivalence and
    * a constructed displacement case). Recorded `pair_count`s are exact
    * either way: disjointness keeps every accepted pair's count
    * invariant under the rest of its batch.
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
            batchSize: Int = 1): BpeModel = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    if (batchSize > 1) return trainBatched(docs, textCol, numMerges, batchSize)
    var syms = initialSymbols(words(docs, textCol)).localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      // the sequential path, byte-for-byte the oracle's semantics
      bestPair(syms) match {
        case Some((a, b, pc)) =>
          merges += Merge(rank + 1, a, b, a + b, pc)
          syms = graft.util.Pins.advance(syms, mergePass(syms, a, b))
          rank += 1
        case None => exhausted = true
      }
    }
    val pinned = syms
    BpeModel(merges.toSeq, pinned, () => graft.util.Pins.release(pinned))
  }

  /** The batched trainer's word table, LAZY (trainBatched checkpoints
    * it): one `syms` array per distinct word. Shared with
    * [[graft.text.WordPiece]]'s batched trainer and the plan pins.
    */
  private[graft] def symsTable(docs: DataFrame, textCol: String): DataFrame =
    words(docs, textCol)
      .select(col("word"), col("cnt"),
        regexp_extract_all(col("word"), lit("."), lit(0)).as("syms"))

  /** The batched trainer's per-pass candidate plan over the current
    * loop table: adjacent-pair explode (pure map) → ONE partial/final
    * aggregate on (lhs, rhs) → top-`limit` as TakeOrderedAndProject
    * (never a global sort; `limit` rows cross to the driver, nothing
    * else). This plan runs twice per batch of B merges — the 2-jobs-
    * per-B contraction that makes 32k-rank vocabularies feasible — so
    * its shape IS the trainer's scale posture; exposed `private[graft]`
    * for the PlanSpec pin and PLANS.md.
    */
  private[graft] def batchCandidates(tbl: DataFrame, limit: Int): DataFrame =
    tbl
      .select(col("cnt"), explode(zip_with(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1),
        (l, r) => struct(l.as("lhs"), r.as("rhs")))).as("pr"))
      .groupBy(col("pr.lhs").as("lhs"), col("pr.rhs").as("rhs"))
      .agg(sum("cnt").as("pc"))
      .orderBy(desc("pc"), asc("lhs"), asc("rhs"))
      .limit(limit)

  /** The batched trainer on the ARRAY representation: the
    * SAME symbol-disjoint batch selection as before — so accepted
    * counts stay exact and ranks keep the documented one-pass
    * displacement bound — but the symbol table lives as one row per
    * word with an `array<string>` column, making each pass two hash
    * explode-aggregates (pair counting — no window sort) plus one
    * codegen [[graft.functions.MergeBatchApply]] projection. For a
    * symbol-disjoint batch the kernel's per-word rank-order application
    * selects exactly the greedy-leftmost occurrences of every merge at
    * once (disjointness makes the merges non-interacting — no position
    * can match two of them, and applying one cannot create or destroy
    * occurrences of another), so results are unchanged vs the previous
    * window-based simultaneous pass; the window-sort cost is gone.
    * Non-interaction requires the used-set to also hold each accepted
    * pair's MERGED symbol `a+b`: without it a batch could contain both
    * `(a,b)` and `(a+b,c)` when `a+b` already exists as a symbol, and
    * the `(a,b)` sweep would mint fresh `(a+b,c)` occurrences for the
    * later rank to consume within the same pass — sequential-like
    * behavior the simultaneous-pass contract forbids. The
    * collected candidate list is oversampled 6x so conflicts rarely
    * starve a batch (count-ranked heads rarely cluster — unlike
    * WordPiece's likelihood head, which is why that trainer dropped
    * disjointness entirely). The final symbol
    * table converts back to the exploded (word, cnt, pos, sym) form the
    * model contract pins.
    */

  private def trainBatched(docs: DataFrame, textCol: String, numMerges: Int,
                           batchSize: Int): BpeModel = {
    import graft.functions.MergeBatchApply
    var tbl = symsTable(docs, textCol).localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val want = math.min(batchSize, numMerges - rank)
      val cand = batchCandidates(tbl, math.max(want * 6, 8)).collect()
      // the same greedy symbol-disjoint scan as bestPairs
      val used = scala.collection.mutable.HashSet.empty[String]
      val batch = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      val it = cand.iterator
      while (it.hasNext && batch.size < want) {
        val r = it.next()
        val (a, b) = (r.getString(0), r.getString(1))
        // a+b joins the used-set so no later candidate can consume (or
        // be) this merge's OUTPUT symbol — see the non-interaction note
        // in the trainBatched scaladoc
        if (!used(a) && !used(b) && !used(a + b)) {
          batch += ((a, b, r.getLong(2)))
          used += a; used += b; used += (a + b)
        }
      }
      if (batch.isEmpty) exhausted = true
      else {
        batch.zipWithIndex.foreach { case ((a, b, pc), i) =>
          merges += Merge(rank + 1 + i, a, b, a + b, pc)
        }
        tbl = graft.util.Pins.advance(tbl, tbl.withColumn("syms",
          MergeBatchApply(col("syms"), batch.toSeq.map(t => (t._1, t._2)))))
        rank += batch.size
      }
    }
    // back to the exploded model contract
    val pinned = graft.util.Pins.advance(tbl, tbl.select(col("word"), col("cnt"),
      posexplode(col("syms")).as(Seq("pos", "sym")))
      .select(col("word"), col("cnt"), col("pos").cast("int").as("pos"), col("sym")))
    BpeModel(merges.toSeq, pinned, () => graft.util.Pins.release(pinned))
  }

  /** Segment an arbitrary word list (one `word` column; OOV words
    * welcome — segmentation needs only the merge list, not the training
    * vocab) by replaying the merges in rank order. Returns
    * (word, pos, sym). `numMerges` window passes over a vocab-sized
    * table, each advanced through [[graft.util.Pins.advance]]; the
    * caller owns the returned pin ([[graft.util.Pins.release]] when
    * done).
    */
  def segmentWords(wordList: DataFrame, merges: Seq[Merge]): DataFrame = {
    val init = initialSymbols(
      wordList.select("word").distinct().withColumn("cnt", lit(1L)))
      .localCheckpoint(true)
    val syms = merges.sortBy(_.merge_rank).foldLeft(init) { (s, m) =>
      graft.util.Pins.advance(s, mergePass(s, m.lhs, m.rhs))
    }
    // project BEFORE the final checkpoint: the returned frame must BE the
    // pinned scan (not a projection over it), or the caller's
    // Pins.release would see a Project node and miss the pin
    graft.util.Pins.advance(syms, syms.select("word", "pos", "sym"))
  }

  /** Persist a trained model: the merge list (the portable tokenizer —
    * [[tokenize]] needs nothing else) plus the training-vocabulary
    * symbol table, both parquet (overwrite). The serve-many artifact a
    * production pipeline trains once and applies to every corpus after.
    */
  def save(model: BpeModel, path: String): Unit = {
    val spark = model.vocabSyms.sparkSession
    import spark.implicits._
    model.merges.toDF().coalesce(1)
      .write.mode("overwrite").parquet(s"$path/merges")
    model.vocabSyms.write.mode("overwrite").parquet(s"$path/vocab_syms")
  }

  /** Load a persisted model. Merges are re-collected in rank order and
    * asserted contiguous from rank 1 (a truncated or partially
    * overwritten write fails loudly, the same contract as the IVF
    * index's metadata sidecar); the vocab table serves from parquet, so
    * nothing is pinned and `release()` is a no-op.
    */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): BpeModel = {
    import spark.implicits._
    val merges = spark.read.parquet(s"$path/merges").as[Merge]
      .collect().sortBy(_.merge_rank).toSeq
    require(merges.nonEmpty, s"no BPE merges at $path/merges")
    require(merges.map(_.merge_rank) == (1 to merges.length),
      s"BPE merge list at $path is not contiguous from rank 1 — " +
        "truncated or partially overwritten model")
    BpeModel(merges, spark.read.parquet(s"$path/vocab_syms"), () => ())
  }

  /** A tokenized corpus plus OWNERSHIP of the segmentation pin backing
    * it: `tokens` is valid until `release()` is called, which drops the
    * [[segmentWords]] localCheckpoint pin — the [[BpeModel.release]]
    * contract. Without the handle, repeated tokenize calls (a soak loop,
    * a long-lived service) would accumulate pinned vocab-sized blocks.
    */
  final case class TokenizedCorpus(tokens: DataFrame, release: () => Unit)

  /** Tokenize a corpus with a merge list: segment its DISTINCT words
    * (vocab-sized work), then join the per-word segmentation back onto
    * the exploded corpus — one explode + one equi-join on `word`, never
    * an iteration over corpus rows. `tokens` has one row per subword
    * token: (idCol, widx, pos, token) — widx the word's index in the
    * doc, pos the subword's index in the word. The vocab side usually
    * broadcasts; it can grow with corpus diversity, so the join is left
    * to AQE rather than force-hinted. Call `release()` once the result
    * is consumed (or persisted downstream).
    */
  def tokenize(docs: DataFrame, idCol: String, textCol: String,
               merges: Seq[Merge]): TokenizedCorpus = {
    val docWords = docs.select(col(idCol),
      posexplode(regexp_extract_all(lower(col(textCol)), lit("[a-z]+"), lit(0)))
        .as(Seq("widx", "word")))
    val seg = segmentWords(docWords.select("word"), merges)
    val toks = docWords.join(seg, "word")
      .select(col(idCol), col("widx"), col("pos"), col("sym").as("token"))
    TokenizedCorpus(toks, () => graft.util.Pins.release(seg))
  }
}
