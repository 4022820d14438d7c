package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.text.TextOps

/** Deduplication operators for large-scale document pipelines: exact
  * (hash group-by), n-gram-shingle Jaccard via inverted-index self-join,
  * MinHash + LSH banding, and SimHash — all as declarative DataFrame plans.
  *
  * Scale notes (the 100 TB posture):
  *  - Exact dedup shuffles once on a 128-bit content hash, never on the
  *    full text.
  *  - Jaccard dedup joins on *shingles* (inverted index), so cost is
  *    Σ per-shingle df², not n² — shingle hotspots can be capped via
  *    [[shingles]]' `maxDf` parameter.
  *  - MinHash signatures reduce each doc to `numHashes` values; LSH banding
  *    turns candidate generation into an equi-join on band keys. Band keys
  *    are plain strings → hash-partitioned evenly.
  *  - SimHash reduces each doc to a 64-bit fingerprint; near-dup = small
  *    Hamming distance, found by banding the fingerprint bits.
  */
object Dedup {

  /** Exact dedup: group identical texts by md5, keep the smallest id as the
    * canonical representative (deterministic keeper choice).
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("dup_count"))

  /** Word n-gram shingles, one row per distinct (id, shingle).
    * Built with posexplode + lead windows — no UDFs, stays in codegen.
    *
    * `maxDf`: optional hot-shingle cap — drop shingles appearing in more
    * than `maxDf` docs before any pairwise join. A boilerplate shingle
    * shared by f docs contributes f² candidate pairs; capping bounds the
    * inverted-index join's worst key at scale. Off by default (exact
    * semantics).
    */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int = 3,
               maxDf: Option[Long] = None): DataFrame = {
    val toks = docs.select(col(idCol), posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(idCol).orderBy("pos")
    val parts = (0 until n).map(i => if (i == 0) col("tok") else lead("tok", i).over(w))
    val sh = toks.withColumn("shingle", concat_ws(" ", parts: _*))
      .withColumn("last_tok", if (n == 1) col("tok") else lead("tok", n - 1).over(w))
      .filter(col("last_tok").isNotNull) // drop ragged tail shingles
      .select(col(idCol), col("shingle"))
      .distinct()
    maxDf match {
      case None => sh
      case Some(cap) =>
        sh.withColumn("df",
            count(lit(1)).over(Window.partitionBy("shingle")))
          .filter(col("df") <= cap)
          .drop("df")
    }
  }

  /** Default row cap for the adaptive broadcast guard on the
    * decontamination chain: ~4M gram/span rows ≈ 200 MB broadcast, the
    * same driver-headroom rationale as [[connectedComponents]]'
    * `localThreshold`. Past the cap the small side takes a shuffle join —
    * slower, but an oversized broadcast is a driver OOM, not a slow query.
    */
  val DefaultBroadcastRows: Long = 4000000L

  /** Adaptive broadcast: count `small` once and hint broadcast only when
    * it actually fits — the same measured-then-choose call
    * [[connectedComponents]] makes for its driver/distributed paths.
    * Benchmark gram sets are fixed-size by construction and always take
    * the broadcast arm; span tables on a heavily-contaminated corpus
    * scale with the corpus and must be allowed to fall back.
    *
    * Deliberately NO materialization: the side is evaluated twice (once
    * for the count, once at join time), which keeps the CALLER's result
    * fully lazy — no eager checkpoint of a potentially corpus-scale
    * result, no pinned executor storage accumulating across calls, and
    * downstream filter pushdown into the result plan is preserved. The
    * cost is one extra evaluation of a small-by-construction side.
    * REQUIREMENT: `small` must be a deterministic plan (or served from a
    * materialized artifact table) — a sample-/limit-derived side could
    * yield an inconsistent count vs join contents. Every in-repo caller
    * passes gram/shingle plans over stable inputs; [[assertDeterministic]]
    * enforces it for external callers.
    */
  private def maybeBroadcast(small: DataFrame, maxRows: Long): DataFrame = {
    assertDeterministic(small, "adaptive-broadcast side")
    if (small.count() <= maxRows) broadcast(small) else small
  }

  /** Enforce the count-then-join determinism REQUIREMENT: the side is
    * evaluated once for the adaptivity count and again at join time, so
    * a plan whose two evaluations can disagree — an unseeded-sample,
    * limit-without-order, or nondeterministic-expression (`rand`,
    * `monotonically_increasing_id`, shuffle-order-sensitive) plan —
    * could mis-pick the join strategy or join different contents than it
    * counted. Fails loudly at plan-build time instead; callers with such
    * a side materialize it first (`localCheckpoint` → the plan becomes a
    * deterministic scan). Driver-side plan traversal, no job launched.
    *
    * INTENTIONALLY over-rejects: every `Sample`/`Limit` is refused, even
    * a seeded sample or a limit over sorted input that would in fact be
    * stable across the two evaluations. Stability there depends on
    * partition layout and shuffle order staying identical between runs —
    * an assumption AQE re-planning can silently break — so the guard
    * trades a few false positives (workaround: one `localCheckpoint`)
    * for never admitting a plan whose stability it cannot prove.
    */
  private def assertDeterministic(df: DataFrame, what: String): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val bad = df.queryExecution.analyzed.collectFirst {
      case _: Sample => "a Sample"
      case _: LocalLimit => "a Limit"
      case _: GlobalLimit => "a Limit"
      case p if p.expressions.exists(!_.deterministic) =>
        "a nondeterministic expression"
    }
    require(bad.isEmpty,
      s"$what plan contains ${bad.get}: its two evaluations (adaptivity " +
        "count, then join) could disagree — localCheckpoint it first")
  }

  /** Benchmark decontamination: per corpus document, how many of its
    * distinct n-gram shingles also occur anywhere in `benchmark` (the
    * held-out eval set a training corpus must not leak). Returns only
    * contaminated docs — `(idCol, n_hits)`, `n_hits >= 1` — the drop
    * list a training run subtracts.
    *
    * Scale shape: the benchmark's distinct-shingle set is SMALL by
    * construction (eval sets are thousands of docs, not billions), so it
    * broadcasts — but adaptively ([[maybeBroadcast]]): past
    * `maxBroadcastRows` the semi join falls back to shuffle instead of
    * OOMing the driver. The corpus is never self-joined. The result is
    * LAZY (a heavily-contaminated corpus's drop list scales with the
    * corpus) — callers that reuse it materialize it themselves, like any
    * artifact table.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, n: Int = 3,
                    maxBroadcastRows: Long = DefaultBroadcastRows): DataFrame = {
    val benchShingles = maybeBroadcast(
      shingles(benchmark, idCol, textCol, n).select("shingle").distinct(),
      maxBroadcastRows)
    shingles(corpus, idCol, textCol, n)
      .join(benchShingles, Seq("shingle"), "left_semi")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"))
  }

  /** [[decontaminate]] with a Bloom prefilter ahead of the exact confirm
    * join — identical output, different 100 TB posture. The broadcast
    * semi-join in [[decontaminate]] degrades to a full corpus-gram
    * shuffle once the eval shingle set outgrows `maxBroadcastRows`; here
    * a Bloom filter over the eval shingles' xxhash64 keys (~1.2 MB per
    * million shingles at 1% fpp — a task literal even when the shingle
    * ROWS no longer broadcast) drops non-matching corpus grams inside
    * whole-stage codegen BEFORE any exchange, so only the true-hit rate
    * + fpp fraction of the corpus stream reaches the confirm join. False
    * positives (and xxhash64 collisions) only ever pass rows onward —
    * the confirm join is on the shingle itself, so the result equals
    * [[decontaminate]]'s exactly.
    */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int = 3,
                         fpp: Double = 0.01,
                         maxBroadcastRows: Long = DefaultBroadcastRows): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    // materialized once: the filter build and the confirm join both read it
    val benchShingles = shingles(benchmark, idCol, textCol, n)
      .select("shingle").distinct().localCheckpoint(true)
    val nBench = benchShingles.count()
    // stat.bloomFilter NPEs on a zero-row build (null aggregation
    // buffer); an empty eval set means an empty report regardless
    if (nBench == 0L)
      return corpus.select(col(idCol)).limit(0).withColumn("n_hits", lit(0L))
    val bloomBytes = {
      val bf = benchShingles.select(xxhash64(col("shingle")).as("h"))
        .stat.bloomFilter("h", nBench, fpp)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    // native codegen probe (the InjectRuntimeFilter shape): raw-long
    // insert via stat.bloomFilter ⇒ raw-long probe of the same xxhash64
    val mightMatch = ColumnBridge.column(BloomFilterMightContain(
      Literal(bloomBytes, BinaryType),
      ColumnBridge.expression(xxhash64(col("shingle")))))
    shingles(corpus, idCol, textCol, n)
      .filter(mightMatch)
      .join(maybeBroadcast(benchShingles, maxBroadcastRows),
        Seq("shingle"), "left_semi")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Contamination report — the benchmark owner's view of
    * [[decontaminate]]: for each BENCHMARK doc, how widely it leaks into
    * the corpus — `(idCol, n_corpus_docs, n_leaked_grams)`, only docs
    * with at least one leak. Ranks eval items by compromise: an eval
    * question appearing verbatim in thousands of training docs is burned
    * and should be rotated; one isolated hit may just be a common
    * phrase.
    *
    * Scale shape: the benchmark gram set is small by construction and
    * broadcast (adaptively — past `maxBroadcastRows` the join falls back
    * to shuffle); the corpus pays one gram pass; the aggregation keys on
    * the benchmark doc id. The corpus is never self-joined.
    */
  def contaminationReport(corpus: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String, k: Int = 8,
                          maxBroadcastRows: Long = DefaultBroadcastRows): DataFrame =
    contaminationReportFromGrams(
      positionalGrams(corpus, idCol, textCol, k),
      positionalGrams(benchmark, idCol, textCol, k),
      idCol, maxBroadcastRows)

  /** [[contaminationReport]] over PREBUILT positional gram tables (see
    * [[positionalGramTable]]) — the serving path when the gram pass is
    * materialized once per corpus and shared across the decontamination
    * family.
    */
  def contaminationReportFromGrams(corpusGrams: DataFrame, benchGrams: DataFrame,
                                   idCol: String,
                                   maxBroadcastRows: Long = DefaultBroadcastRows): DataFrame = {
    val bench = maybeBroadcast(
      benchGrams.select(col(idCol).as("__bench_id"), col("gram")).distinct(),
      maxBroadcastRows)
    val cg = corpusGrams
      .select(col(idCol).as("__corpus_id"), col("gram")).distinct()
    cg.join(bench, "gram")
      .groupBy(col("__bench_id").as(idCol))
      .agg(countDistinct("__corpus_id").as("n_corpus_docs"),
        countDistinct("gram").as("n_leaked_grams"))
  }

  /** The positional k-gram pass as a PUBLIC build-once table,
    * (idCol, pos, gram bigint) — the decontamination family's shared
    * input (span finding, reporting), analogous to the shingle /
    * signature index tables: materialize once per corpus, serve many.
    */
  def positionalGramTable(docs: DataFrame, idCol: String, textCol: String,
                          k: Int = 8): DataFrame =
    positionalGrams(docs, idCol, textCol, k)

  /** Exact-substring repeated spans (the ExactSubstr method of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better",
    * ACL 2022 — there built on a suffix array; here re-expressed
    * relationally so it scales on shuffle-partitioned k-gram hashes
    * instead of a monolithic suffix structure):
    *
    *  1. every doc emits a positional k-token-gram hash per window
    *     (posexplode + lead windows — the [[shingles]] codegen shape; a
    *     `transform` over `sequence` would evaluate interpreted);
    *  2. grams appearing in MORE THAN ONE document survive (one
    *     aggregation on the gram hash — boilerplate/license headers,
    *     templated spans);
    *  3. each doc's surviving window positions merge into maximal
    *     [start, end) token spans (sorted window + running-max interval
    *     merge — the classic sweep, one shuffle on doc id).
    *
    * Returns (id, span_start, span_end, n_windows) per merged span —
    * the byte ranges a training pipeline would cut or collapse. Cost:
    * one shuffle on gram hash (partial-aggregated map-side) + one on
    * doc id; nothing quadratic, no suffix array in memory.
    */
  /** Content-defined chunking (the rsync/FastCDC rationale — Muthitacharoen
    * et al., "A Low-Bandwidth Network File System", SOSP 2001 — at the
    * token level): split each document into variable-size chunks whose
    * boundaries are decided by CONTENT, not position — a boundary falls
    * after token `pos` when the rolling hash of the k-token window ending
    * at `pos` is ≡ 0 mod `divisor` (expected chunk length ≈ divisor
    * tokens). Because boundaries depend only on the local window, an
    * insertion or deletion re-aligns at the next boundary and every chunk
    * after it hashes identically — the property that makes CHUNK-level
    * dedup robust to edits where positional spans ([[repeatedSpans]])
    * and whole-doc hashes are not. Returns one row per chunk:
    * (id, chunk_id, chunk_start, chunk_end, n_tokens, chunk_hash) with
    * `[chunk_start, chunk_end)` token positions and the house rolling
    * hash of the space-joined chunk text (engine-portable — the DuckDB
    * oracle replays it).
    *
    * Plan shape: one posexplode (corpus-linear), two windows on the SAME
    * (id, pos) sort (boundary hash via lag parts, running boundary count),
    * one (id, chunk) partial-aggregated rollup — no self-join, nothing
    * quadratic; the chunk table contracts the corpus ~divisor-fold.
    */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                k: Int = 4, divisor: Long = 16L): DataFrame = {
    require(k >= 1 && divisor >= 1, s"need k >= 1 and divisor >= 1")
    val toksPos = docs.select(col(idCol),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(idCol).orderBy("pos")
    // the k-token window ENDING at pos (lag parts, oldest first)
    val parts = (0 until k).map(i => lag("tok", k - 1 - i).over(w))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    toksPos
      .withColumn("__bnd",
        when(col("pos") >= k - 1 &&
          pmod(graft.functions.TextExprs.rollingHash(concat_ws(" ", parts: _*)),
            lit(divisor)) === 0, 1L).otherwise(0L))
      // chunk of a token = boundaries strictly BEFORE it (a boundary
      // token is the LAST token of its chunk)
      .withColumn("chunk_id", coalesce(sum("__bnd").over(wPrev), lit(0L)))
      .groupBy(col(idCol), col("chunk_id"))
      .agg(min("pos").as("chunk_start"),
        (max("pos") + 1).as("chunk_end"),
        count(lit(1)).as("n_tokens"),
        concat_ws(" ",
          array_sort(collect_list(struct(col("pos"), col("tok"))))
            .getField("tok")).as("__chunk_text"))
      .withColumn("chunk_hash",
        graft.functions.TextExprs.rollingHash(col("__chunk_text")))
      .drop("__chunk_text")
  }

  /** CDC chunk-dedup APPLY — the FastCDC payoff [[cdcChunks]] only
    * reports on: rebuild the corpus with every REPEATED chunk excised
    * except one canonical copy. "Repeated" = the same (chunk_hash,
    * n_tokens) occurring >= 2 times anywhere (cross-doc AND within-doc —
    * a doc that repeats its own boilerplate deduplicates too, unlike
    * [[cdcChunks]]' cross-doc `n_shared_chunks` stat). The canonical
    * occurrence is the GLOBALLY FIRST one in (id, chunk_start) order —
    * deterministic and oracle-replayable; every other occurrence's
    * token range is cut via the [[cutSpans]] machinery. Because CDC
    * boundaries are content-defined, an insertion-shifted duplicate
    * still deduplicates past the edit point: the chunks after the next
    * boundary re-align and hash identically (spec-pinned in DedupSpec).
    *
    * Returns one row per input doc: (id, clean_text, n_cut_chunks,
    * n_cut_tokens) — clean_text keeps canonical copies in place and
    * docs with nothing repeated pass through verbatim (modulo
    * whitespace normalization of the token re-join).
    *
    * Plan shape: the chunk table (corpus/divisor-sized) shuffles once
    * on (chunk_hash, n_tokens) for the repeat count + canonical pick
    * (one window, no self-join), the excision set — dup findings,
    * usually small — feeds [[cutSpans]]' adaptive broadcast/shuffle
    * anti join, and the per-doc stats ride the same excision table.
    * Nothing quadratic; the only corpus-sized shuffles are the token
    * rebuild's (id) rollup inherited from cutSpans.
    *
    * `chunks` must come from [[cdcChunks]] on the SAME docs frame
    * (pass a memoized/checkpointed table; it is evaluated more than
    * once). Ref: the reference's dedup surface is whole-doc only
    * (sources/Task1_1.java:52 — exact term dedup); chunk-level apply
    * is the LLM-pipeline extension.
    */
  def cdcDedupApplyFromChunks(docs: DataFrame, chunks: DataFrame,
                              idCol: String, textCol: String,
                              maxBroadcastRows: Long = DefaultBroadcastRows): DataFrame = {
    val excised = cdcExcision(chunks, idCol)
      .localCheckpoint(true) // feeds cutSpans (count + join) and the stats agg
    val stats = excised.groupBy(idCol)
      .agg(count(lit(1)).as("n_cut_chunks"),
        sum("n_tokens").as("n_cut_tokens"))
    cutSpans(docs, excised.drop("n_tokens"), idCol, textCol, maxBroadcastRows)
      .join(stats, Seq(idCol), "left")
      .select(col(idCol), col("clean_text"),
        coalesce(col("n_cut_chunks"), lit(0L)).as("n_cut_chunks"),
        coalesce(col("n_cut_tokens"), lit(0L)).as("n_cut_tokens"))
  }

  /** The excision set of [[cdcDedupApplyFromChunks]], LAZY (the caller
    * checkpoints): ONE pass over the chunk table — a single
    * `(chunk_hash, n_tokens)` exchange feeding the repeat count and the
    * canonical row_number pick — with NO join of the chunk table
    * against itself at any size. Exposed `private[graft]` so the plan
    * pin (PlanSpec) and PLANS.md assert that shape structurally instead
    * of by prose.
    */
  private[graft] def cdcExcision(chunks: DataFrame, idCol: String): DataFrame = {
    val wCanon = Window.partitionBy("chunk_hash", "n_tokens")
      .orderBy(col(idCol), col("chunk_start"))
    // one pass over the chunk table: global occurrence count decides
    // "repeated", row_number decides the canonical copy
    chunks
      .withColumn("__rn", row_number().over(wCanon))
      .withColumn("__occ", count(lit(1)).over(
        Window.partitionBy("chunk_hash", "n_tokens")))
      .filter(col("__occ") >= 2 && col("__rn") >= 2)
      .select(col(idCol), col("chunk_start").as("span_start"),
        col("chunk_end").as("span_end"), col("n_tokens"))
  }

  /** [[cdcDedupApplyFromChunks]] with the chunk table built in place. */
  def cdcDedupApply(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 4, divisor: Long = 16L,
                    maxBroadcastRows: Long = DefaultBroadcastRows): DataFrame =
    cdcDedupApplyFromChunks(docs,
      cdcChunks(docs, idCol, textCol, k, divisor).localCheckpoint(true),
      idCol, textCol, maxBroadcastRows)

  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 8): DataFrame =
    // the gram checkpoint feeds both the df aggregate and the span join;
    // the lazy result still reads it, so it stays pinned
    repeatedSpansPlan(docs, idCol, textCol, k, _.localCheckpoint(true))

  /** The one body of [[repeatedSpans]]: `stage` is applied to the gram
    * table. The served form checkpoints it there; with `identity` nothing
    * is materialized, which is the plan [[graft.Plans]] dumps.
    */
  private[graft] def repeatedSpansPlan(docs: DataFrame, idCol: String,
                                       textCol: String, k: Int,
                                       stage: DataFrame => DataFrame = identity): DataFrame = {
    val grams = stage(positionalGrams(docs, idCol, textCol, k))
    // "seen in >1 doc" ⟺ min(id) ≠ max(id): min/max partial-aggregate
    // map-side into ONE gram exchange (guide §2.3 — aggregate before you
    // shuffle), while countDistinct(id) > 1 plans a four-deep
    // HashAggregate chain keyed on (gram, id) and, where the partial
    // distinct cannot stay map-side, a second exchange.
    val crossDocGrams = grams
      .groupBy("gram")
      .agg(min(col(idCol)).as("__lo"), max(col(idCol)).as("__hi"))
      .filter(col("__lo") =!= col("__hi"))
      .select("gram")
    mergeWindowSpans(grams.join(crossDocGrams, Seq("gram"), "left_semi"), idCol, k)
  }

  /** Contaminated spans: the maximal token ranges of each corpus doc
    * that share a k-token gram with the (small, broadcast) `benchmark`
    * set — [[repeatedSpans]]' machinery pointed at eval-set leakage,
    * and the surgical alternative to [[decontaminate]]'s whole-doc
    * flag: [[cutSpans]] can excise exactly these ranges instead of
    * dropping the document. Corpus side: one gram pass + broadcast
    * semi-join + the per-doc merge; the benchmark never grows with the
    * corpus, so the broadcast is fixed-size by construction.
    */
  def contaminatedSpans(corpus: DataFrame, benchmark: DataFrame,
                        idCol: String, textCol: String,
                        k: Int = 8,
                        maxBroadcastRows: Long = DefaultBroadcastRows): DataFrame =
    contaminatedSpansFromGrams(
      positionalGrams(corpus, idCol, textCol, k),
      positionalGrams(benchmark, idCol, textCol, k),
      idCol, k, maxBroadcastRows)

  /** [[contaminatedSpans]] over PREBUILT positional gram tables (see
    * [[positionalGramTable]]) — shares the gram pass with the
    * contamination report instead of recomputing it per operator.
    */
  def contaminatedSpansFromGrams(corpusGrams: DataFrame, benchGrams: DataFrame,
                                 idCol: String, k: Int,
                                 maxBroadcastRows: Long = DefaultBroadcastRows): DataFrame = {
    val bench = maybeBroadcast(
      benchGrams.select("gram").distinct(), maxBroadcastRows)
    // LAZY result: under heavy contamination the span table scales with
    // the corpus, so no eager checkpoint here — pipelines that serve the
    // findings repeatedly materialize them as an artifact table
    // (tp_decontaminate_spans' build-once memo), owning the pin's
    // lifetime themselves
    mergeWindowSpans(
      corpusGrams.join(bench, Seq("gram"), "left_semi"),
      idCol, k)
  }

  /** Apply span cuts: rebuild each doc's text with the tokens inside
    * `spans` (id, span_start, span_end) removed — the surgical form of
    * decontamination/dedup (cut the leaked range, keep the document).
    * The anti join is token-vs-span on (id, pos ∈ [start, end)); spans
    * are dup/leak findings — usually small — so they broadcast, but
    * ADAPTIVELY: a heavily-contaminated corpus's span table scales with
    * the corpus, and past `maxBroadcastRows` the anti join falls back to
    * a shuffle join on the id (the non-equi range residual rides as a
    * join condition either way). Unlike the gram-side operators, the
    * adaptivity count here runs WITHOUT a checkpoint: this result is
    * corpus-sized and must stay lazy, so there is nothing to hang a
    * checkpoint-then-unpersist lifetime on — instead the spans plan is
    * simply evaluated twice, once for the count and once at join time.
    * REQUIREMENT: `spans` must therefore be DETERMINISTIC (or already
    * materialized — a localCheckpoint'd artifact table, the usual case):
    * a sample-/limit-derived lazy span plan could produce a count
    * inconsistent with the join's contents and mis-pick the join
    * strategy. In-repo pipelines serve span findings from build-once
    * artifact tables (tp_decontaminate_spans' memo), so the second
    * evaluation is a cheap rescan and no executor storage is pinned
    * past the call. The rebuild is one
    * shuffle on the doc id (ordered re-assembly via sorted collect, the
    * same pattern as PQ's code packing). Docs with no spans pass through
    * UNCHANGED (including empty texts).
    */
  def cutSpans(docs: DataFrame, spans: DataFrame, idCol: String,
               textCol: String,
               maxBroadcastRows: Long = DefaultBroadcastRows): DataFrame = {
    val toks = docs.select(col(idCol),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "tok")))
    // re-alias the span columns to fresh names: `spans` may share lineage
    // with `docs` (it usually derives from the same corpus scan), and
    // without the re-alias the join condition's id = id would be
    // ambiguous self-join attributes
    val spansSide = spans.select(col(idCol).as("__span_id"),
      col("span_start"), col("span_end"))
    assertDeterministic(spansSide, "cutSpans span side")
    val spansAdaptive =
      if (spans.count() <= maxBroadcastRows) broadcast(spansSide) else spansSide
    val kept = toks.join(spansAdaptive,
      toks(idCol) === col("__span_id") &&
        col("pos") >= col("span_start") && col("pos") < col("span_end"),
      "left_anti")
    val rebuilt = kept
      .groupBy(idCol)
      // field extraction directly on the sorted struct array: plans a
      // codegen GetArrayStructFields — a transform(_, getField) lambda
      // computes the same array but evaluates INTERPRETED per token
      .agg(array_sort(collect_list(struct(col("pos"), col("tok"))))
        .getField("tok").as("__toks"))
      .select(col(idCol), concat_ws(" ", col("__toks")).as("clean_text"))
    // docs whose every token was cut (or that had no tokens) still get a row
    docs.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Positional k-token-gram hashes, (id, pos, gram) — one row per
    * window start. Built with posexplode + lead windows, the same
    * codegen shape as [[shingles]]: a `transform(sequence(...))` lambda
    * looks tidier but higher-order functions evaluate INTERPRETED,
    * ~10x slower on the per-window hot path.
    *
    * The gram key is `xxhash64` — an 8-byte bigint through the gram
    * shuffle instead of a 32-char md5 hex string (4x fewer key bytes,
    * and a far cheaper hash per window). The key is internal (equality
    * only, never exposed in an output), so the representation is free;
    * a 64-bit collision needs ~2^32 distinct grams to appear at even
    * birthday odds, and its worst effect is one spurious repeated
    * window — the same tradeoff every 64-bit-fingerprint dedup makes.
    */
  private def positionalGrams(docs: DataFrame, idCol: String,
                              textCol: String, k: Int): DataFrame = {
    // no session-width repartition(id) under the lead windows: spread,
    // this allocation-heavy window work inflated task time ~19x for flat
    // wall time; AQE's byte-based sizing stays.
    val toksPos = docs.select(col(idCol),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(idCol).orderBy("pos")
    val parts = (0 until k).map(i => if (i == 0) col("tok") else lead("tok", i).over(w))
    toksPos
      // gram BEFORE the ragged-tail filter (same ordering as [[shingles]]):
      // filtering first would re-evaluate the leads over the filtered rows
      // and corrupt the last k-1 windows of every doc
      .withColumn("gram", xxhash64(concat_ws(" ", parts: _*)))
      .withColumn("__last", lead("tok", k - 1).over(w))
      .filter(col("__last").isNotNull) // ragged tail: no full k-gram starts here
      .select(col(idCol), col("pos"), col("gram"))
  }

  /** Merge k-wide windows at (id, pos) into maximal [start, end) token
    * spans: sorted-interval sweep — a window opens a NEW span iff it
    * starts past every earlier window's end. One shuffle on the id.
    */
  private def mergeWindowSpans(hits: DataFrame, idCol: String, k: Int): DataFrame = {
    val wPrev = Window.partitionBy(idCol).orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(idCol).orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hits
      .withColumn("__new", (col("pos") >
        coalesce(max(col("pos") + k).over(wPrev), lit(-1L))).cast("long"))
      .withColumn("__span", sum("__new").over(wRun))
      .groupBy(col(idCol), col("__span"))
      .agg(min("pos").as("span_start"),
        (max("pos") + k).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** Near-dup pairs by n-gram Jaccard similarity >= `threshold`, via an
    * inverted-index self-join on shingles (only docs sharing at least one
    * shingle are ever paired). Returns (id_a, id_b, jaccard), id_a < id_b.
    *
    * `maxDf` (recommended at scale): drops shingles shared by more than
    * `maxDf` docs before the self-join — a boilerplate shingle with df=f
    * costs f² candidate pairs, so the cap bounds the join's hottest key.
    * Note the cap changes semantics: capped-away shingles no longer count
    * toward intersections, but they also shrink `set_size` symmetrically
    * (sizes are computed from the capped set).
    *
    * The shingle table feeds three plans (sizes + both join sides), so it
    * is served as a [[servedPairs]] stage; only the (small — dup
    * candidates, not the corpus) pair result stays pinned.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.5,
                   maxDf: Option[Long] = None): DataFrame =
    jaccardPairsFromShingles(shingles(docs, idCol, textCol, n), idCol,
      threshold, maxDf)

  /** Serves a pair scorer's plan body: each intermediate the body passes
    * to `stage` (it feeds several plans), then the small pair result,
    * advances one pin through [[graft.util.Pins.advance]], so only the
    * result's pin outlives the call. The same body run with `identity`
    * materializes nothing: that is the plan [[graft.Plans]] dumps.
    */
  private[graft] def servedPairs(body: (DataFrame => DataFrame) => DataFrame): DataFrame = {
    var held = Option.empty[DataFrame]
    def stage(df: DataFrame): DataFrame = {
      val pinned = held.fold(df.localCheckpoint(true))(graft.util.Pins.advance(_, df))
      held = Some(pinned)
      pinned
    }
    try { val out = stage(body(stage)); held = None; out }
    finally held.foreach(graft.util.Pins.release)
  }

  /** Hash + co-partition an (id, shingle) table by the 8-byte shingle
    * key: ONE exchange that the df-cap aggregation, the hot-key anti
    * join, the set-size rollup and BOTH inverted-index self-join sides
    * then reuse without re-exchanging (guide §2.4 — operations keyed
    * the same way share one exchange; `localCheckpoint` preserves the
    * materialized partitioning, the same property the graph loops'
    * transition tables rely on). A df window over the shingle strings
    * would sort the whole table per call instead.
    */
  private def hashedByShingle(sh0: DataFrame, idCol: String): DataFrame =
    // NO repartition here: under AQE a localCheckpoint materializes with
    // UnknownPartitioning (the checkpoint scan prints
    // `UnknownPartitioning(0)`, so downstream joins re-exchange
    // regardless and a pre-checkpoint repartition is a pure extra
    // exchange). The map stays narrow: (id, 8-byte hash) is what every
    // consumer shuffles.
    sh0.select(col(idCol), xxhash64(col("shingle")).as("__sh"))

  /** Drop rows whose `__sh` key occurs in more than `cap` rows. The
    * hot-key table (boilerplate shingles) is tiny by construction — at
    * most rows/cap keys — and comes from a zero-exchange aggregation
    * over the co-partitioned input; it leaves via a left-anti join AQE
    * is free to broadcast. Keyed on the 64-bit hash rather than the
    * string: a collision would merge two shingles' df counts — the same
    * (documented, needs ~2³² distinct shingles for birthday odds)
    * tolerance the intersection join key already accepts.
    */
  private def dropHotHashed(hashed: DataFrame, cap: Long): DataFrame = {
    val hot = hashed.groupBy("__sh").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > cap)
      .select("__sh")
    hashed.join(hot, Seq("__sh"), "left_anti")
  }

  /** The hashed, capped (id, __sh) shingle table a set-overlap scorer's
    * `stage` receives: the cap costs one partial-aggregated exchange of
    * (8-byte key, count) partials plus a broadcast anti join.
    */
  private def cappedHashed(sh0: DataFrame, idCol: String,
                           maxDf: Option[Long]): DataFrame = {
    val hashed = hashedByShingle(sh0, idCol)
    maxDf.map(dropHotHashed(hashed, _)).getOrElse(hashed)
  }

  /** [[jaccardPairs]] over a PREBUILT (id, shingle) table — the serving
    * path when the shingle inverted index is materialized once per
    * corpus and shared across queries, like the MinHash/SimHash
    * signature tables. `maxDf` applies here, after the build, so one
    * uncapped index serves any cap.
    */
  def jaccardPairsFromShingles(sh0: DataFrame, idCol: String,
                               threshold: Double = 0.5,
                               maxDf: Option[Long] = None): DataFrame =
    servedPairs(jaccardPairsPlan(sh0, idCol, threshold, maxDf, _))

  /** The one body of [[jaccardPairsFromShingles]] (see [[servedPairs]]). */
  private[graft] def jaccardPairsPlan(sh0: DataFrame, idCol: String,
                                      threshold: Double, maxDf: Option[Long],
                                      stage: DataFrame => DataFrame = identity): DataFrame =
    overlapPairs(stage(cappedHashed(sh0, idCol, maxDf)), idCol, "jaccard",
      threshold)((inter, sizeA, sizeB) => inter / (sizeA + sizeB - inter))

  /** Set-overlap pairs over a hashed (idCol, __sh bigint) shingle table:
    * the inverted-index self-join keys on `xxhash64(shingle)` — an 8-byte
    * bigint through the join shuffle instead of the raw n-gram string
    * (~2-3x fewer key bytes on 3-word shingles). Internal equality key
    * only, never exposed; a 64-bit collision (needs ~2^32 distinct
    * shingles for birthday odds) at worst nudges one intersection count.
    * `scoreOf(inter_size, size_a, size_b)` computes the `score` column.
    */
  private def overlapPairs(sh: DataFrame, idCol: String, score: String,
                           threshold: Double)
                          (scoreOf: (Column, Column, Column) => Column): DataFrame = {
    val sizes = sh.groupBy(idCol).agg(count(lit(1)).as("set_size"))
    val a = sh.select(col(idCol).as("id_a"), col("__sh"))
    val b = sh.select(col(idCol).as("id_b"), col("__sh"))
    // merge hint: the self-join's sides are CORPUS-sized — a checkpoint
    // whose size estimate dips under the broadcast threshold must not
    // flip this to a broadcast of the whole inverted index (the planner
    // did so, building it three times — 2x slower at bench scale and a
    // driver bomb at 100 TB; same j_shuffle_join rationale)
    a.hint("merge").join(b, "__sh")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter_size"))
      .join(sizes.withColumnRenamed(idCol, "id_a").withColumnRenamed("set_size", "size_a"), "id_a")
      .join(sizes.withColumnRenamed(idCol, "id_b").withColumnRenamed("set_size", "size_b"), "id_b")
      .withColumn(score, scoreOf(col("inter_size"), col("size_a"), col("size_b")))
      .filter(col(score) >= threshold)
      .select("id_a", "id_b", score)
  }

  /** CONTAINMENT pairs — the asymmetric near-dup score symmetric
    * Jaccard misses: `|A ∩ B| / min(|A|, |B|)`, which fires when a
    * small document is embedded (quoted, scraped, prepended) inside a
    * much larger one — |A∩B| ≈ |A| with |A| ≪ |B| keeps Jaccard tiny
    * while the smaller doc is fully contained. The standard companion
    * filter to [[jaccardPairs]] in web-corpus dedup (Broder's
    * "containment" coefficient).
    *
    * Identical scale posture to [[jaccardPairsFromShingles]]: the same
    * hashed shingle inverted-index equi-join (8-byte keys, per-pair
    * partial aggregation, optional symmetric `maxDf` cap), one extra
    * `least()` in the scorer — the two scores can share one candidate
    * pass in a pipeline that wants both.
    */
  def containmentPairsFromShingles(sh0: DataFrame, idCol: String,
                                   threshold: Double = 0.8,
                                   maxDf: Option[Long] = None): DataFrame =
    servedPairs(containmentPairsPlan(sh0, idCol, threshold, maxDf, _))

  /** The one body of [[containmentPairsFromShingles]] (see [[servedPairs]]). */
  private[graft] def containmentPairsPlan(sh0: DataFrame, idCol: String,
                                          threshold: Double, maxDf: Option[Long],
                                          stage: DataFrame => DataFrame = identity): DataFrame =
    overlapPairs(stage(cappedHashed(sh0, idCol, maxDf)), idCol, "containment",
      threshold)((inter, sizeA, sizeB) => inter / least(sizeA, sizeB))

  /** Weighted sparse cosine all-pairs over TF-IDF term vectors — the
    * lexical near-dup scorer one notch finer than [[jaccardPairs]]
    * (rare terms weighted up instead of shingle counting): all pairs
    * with `cos(v_a, v_b) >= threshold`, where
    * `v_d[t] = tf(d,t) · ln(N / df(t))` over whitespace tokens and
    * `id_a < id_b`.
    *
    * Scale shape — the same posture as [[jaccardPairs]]: candidates come
    * from the term inverted index (equi-join on an 8-byte xxhash64 term
    * key, dot products partial-aggregated per pair before the exchange),
    * NEVER all-pairs. `maxDf` caps the hottest term key before the join
    * (a term shared by f docs costs f² candidate rows) and the cap is
    * SYMMETRIC: capped terms leave the dot products and the norms
    * together, so the score stays a true cosine of the capped vectors.
    * The weight table feeds three plans (norms + both join sides) and is
    * materialized once; the pin is released before returning.
    */
  def cosinePairs(docs: DataFrame, idCol: String, textCol: String,
                  threshold: Double = 0.3,
                  maxDf: Option[Long] = None): DataFrame =
    servedPairs(cosinePairsPlan(docs, idCol, textCol, threshold, maxDf, _))

  /** The one body of [[cosinePairs]] (see [[servedPairs]]). TF on the
    * 8-byte hashed term key, co-partitioned by term: the df rollup, the
    * df-cap filter and BOTH dot-product join sides derive from the one
    * staged exchange with zero further exchanges — the [[hashedByShingle]]
    * posture, where a df window would sort the (id, term-string) table.
    * Hashing before the df count merges colliding terms' dfs — the same
    * ~2⁻³² tolerance the join key already accepts.
    */
  private[graft] def cosinePairsPlan(docs: DataFrame, idCol: String,
                                     textCol: String, threshold: Double,
                                     maxDf: Option[Long],
                                     stage: DataFrame => DataFrame = identity): DataFrame =
    cosineTail(
      stage(cosineWeights(stage(cosineTf(docs, idCol, textCol)), docs, idCol, maxDf)),
      idCol, threshold)

  private def cosineTf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("term"))
      .select(col(idCol), xxhash64(col("term")).as("__t"))
      .groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("__tf"))

  private def cosineWeights(tfh: DataFrame, docs: DataFrame, idCol: String,
                            maxDf: Option[Long]): DataFrame = {
    val dfT = tfh.groupBy("__t").agg(count(lit(1)).as("__df"))
    val dfKept = maxDf match {
      case None => dfT
      case Some(cap) => dfT.filter(col("__df") <= cap)
    }
    val nDocs = docs.select(count(lit(1)).as("__n"))
    tfh
      .join(dfKept, "__t")
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("__t"),
        (col("__tf") * log(col("__n") / col("__df"))).as("__w"))
  }

  private def cosineTail(wts: DataFrame, idCol: String,
                         threshold: Double): DataFrame = {
    val norms = wts.groupBy(idCol).agg(sqrt(sum(col("__w") * col("__w"))).as("__nrm"))
    val a = wts.select(col(idCol).as("id_a"), col("__t"), col("__w").as("__wa"))
    val b = wts.select(col(idCol).as("id_b"), col("__t"), col("__w").as("__wb"))
    // merge hint: see overlapPairs — corpus-sized sides must not
    // broadcast on a dipped estimate
    a.hint("merge").join(b, "__t")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(sum(col("__wa") * col("__wb")).as("__dp"))
      .join(norms.withColumnRenamed(idCol, "id_a").withColumnRenamed("__nrm", "__na"), "id_a")
      .join(norms.withColumnRenamed(idCol, "id_b").withColumnRenamed("__nrm", "__nb"), "id_b")
      .withColumn("cosine_sim", col("__dp") / (col("__na") * col("__nb")))
      .filter(col("cosine_sim") >= threshold)
      .select("id_a", "id_b", "cosine_sim")
  }

  /** Fuzzy record linkage: id pairs whose `nameCol` values share a
    * `prefixLen`-char blocking prefix, differ in length by at most
    * `lenTol`, and sit within Levenshtein distance `maxDist` — with BOTH
    * quadratic dimensions capped:
    *
    *  - '''distinct-name blocks''' (`maxBlock`): within a block the exact
    *    path compares all name pairs — quadratic in DISTINCT names per
    *    block. Blocks over `maxBlock` route through character-shingle
    *    MinHash LSH (band-bucket equi-join, the same machinery as
    *    [[minhashLshCandidates]]) and only the CANDIDATES take the exact
    *    `levenshtein` verify — the linkage predicate itself stays exact
    *    on every emitted pair; what the cap trades is recall on pairs
    *    whose names are so far apart they share no band (those are near
    *    the distance threshold anyway). Below the cap the result is
    *    exhaustive.
    *  - '''id fanout''' (`maxIdsPerName`): the id-level output is
    *    (rows-per-name)² per matched name pair — on a corpus where a
    *    name recurs m times, every matched name pair emits m² id pairs,
    *    which no algorithm can outrun because it is the OUTPUT size.
    *    Names with more than `maxIdsPerName` ids are represented by
    *    their `maxIdsPerName` smallest ids (deterministic), computed
    *    with the bounded-heap `top_k_by` aggregate — map-side combine,
    *    never a per-name sort.
    *
    * Both caps are declared at the call site like `maxDf` is, and sized
    * so they never bind at oracle/bench scale (exhaustive results there)
    * while bounding the sf1/100 TB shape.
    *
    * The matched-name-pairs side of the id expansion is broadcast only
    * up to `maxBroadcastPairs`: a pathological corpus can
    * match O(distinct-names × block-width) name pairs, and an
    * unconditional broadcast would collect them on the driver. Past the
    * bound the expansion becomes a shuffle join — identical output,
    * nothing driver-sized.
    */
  def editDistancePairs(records: DataFrame, idCol: String, nameCol: String,
                        maxDist: Int = 3, prefixLen: Int = 2, lenTol: Int = 2,
                        maxBlock: Long = 1000L, maxIdsPerName: Int = 500,
                        bands: Int = 16, rowsPerBand: Int = 2,
                        maxBroadcastPairs: Long = 5000000L): DataFrame = {
    val recs = records.filter(col(nameCol).isNotNull)
    val names = recs.select(col(nameCol).cast("string").as("nm")).distinct()
      .select(col("nm"), substring(col("nm"), 1, prefixLen).as("blk"),
        length(col("nm")).as("len"))
      .withColumn("blk_n", count(lit(1)).over(Window.partitionBy("blk")))
    // exact all-pairs within small blocks (both orientations — the id
    // expansion below joins each side by name equality)
    val small = names.filter(col("blk_n") <= maxBlock)
    val exactPairs = small
      .select(col("nm").as("name_a"), col("blk"), col("len").as("len_a"))
      .join(small.select(col("nm").as("name_b"), col("blk"), col("len").as("len_b")),
        Seq("blk"))
      .filter(abs(col("len_a") - col("len_b")) <= lenTol &&
        col("name_a") =!= col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select("name_a", "name_b", "dist")
    // oversized blocks: char-3-gram MinHash, banded; candidates share a
    // (block, band-key) bucket — bucket-sized joins, never block²
    val big = names.filter(col("blk_n") > maxBlock)
    val numHashes = bands * rowsPerBand
    // explode(sequence) + substr, not transform(..., lambda): the
    // higher-order form drops the gram build out of codegen (interpreted
    // LambdaFunction — PlanSpec's no-new-interpreted-lambdas guard)
    val grams = big.select(col("nm"), col("blk"), col("len"),
        explode(sequence(lit(1), greatest(col("len") - 2, lit(1)))).as("pos"))
      .select(col("nm"), col("blk"), col("len"),
        col("nm").substr(col("pos"), lit(3)).as("shingle"))
    val mhs = (0 until numHashes).map(i => minhashHex(i).as(s"mh$i"))
    val sig = grams.groupBy("nm", "blk", "len").agg(mhs.head, mhs.tail: _*)
    val bandKeys = (0 until bands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), concat(col("blk") +: cols: _*).as("key"))
    }
    val br = sig.select(col("nm"), col("len"),
        explode(array(bandKeys: _*)).as("bk"))
      .select(col("nm"), col("len"), col("bk.band").as("band"),
        col("bk.key").as("band_key"))
    val lshPairs = br
      .select(col("band"), col("band_key"), col("nm").as("name_a"), col("len").as("len_a"))
      .join(br.select(col("band"), col("band_key"), col("nm").as("name_b"),
        col("len").as("len_b")), Seq("band", "band_key"))
      .filter(col("name_a") =!= col("name_b") &&
        abs(col("len_a") - col("len_b")) <= lenTol)
      .select("name_a", "name_b").distinct()
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select("name_a", "name_b", "dist")
    // Matched name pairs, materialized ONCE (they feed the expansion
    // join and the broadcast-or-shuffle decision): localCheckpoint runs
    // the exact+LSH verify a single time, and the resulting block-backed
    // count is free. The broadcast is GUARDED: a pathological corpus
    // (every name near every other within a block) can match
    // O(distinct-names x block-width) pairs, which no driver should be
    // asked to collect. Past `maxBroadcastPairs` the expansion falls
    // back to a shuffle join on `name_a` — same output, no driver-sized
    // structure anywhere.
    val namePairs = exactPairs.unionByName(lshPairs).localCheckpoint(true)
    // id expansion, capped: the k smallest ids per name via the bounded
    // heap (ord is a constant, so the tie-ASC order IS "smallest ids";
    // works for any orderable id type, with map-side partials)
    val ids = recs
      .groupBy(col(nameCol).as("nm"))
      .agg(graft.functions.TopKBy.topKBy(lit(0), col(idCol), col(idCol),
        maxIdsPerName).as("top"))
      .select(col("nm"), explode(col("top")).as("e"))
      .select(col("nm"), col("e.payload").as("id"))
    // The id-expansion join's OUTPUT (ids-per-name x matched pairs) is
    // orders of magnitude larger than either input, so — same as the
    // similarity probe joins — pin both sides with explicit repartitions
    // AQE leaves alone; input-byte stage sizing would push the whole
    // expansion through 1-2 tasks.
    val spark = records.sparkSession
    val parts = math.max(spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions)
    val pairsSide =
      if (namePairs.count() <= maxBroadcastPairs) broadcast(namePairs)
      else namePairs.repartition(parts, col("name_a"))
    ids.select(col("id").as("id_a"), col("nm").as("name_a"))
      .join(pairsSide, "name_a")
      .repartition(parts, col("name_b"))
      .join(ids.select(col("id").as("id_b"), col("nm").as("name_b"))
        .repartition(parts, col("name_b")), "name_b")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "dist")
  }

  /** One MinHash value as a *hex string*: min over shingles of
    * md5(seed_i ++ shingle) truncated to 15 hex chars. Fixed-width hex means
    * lexicographic MIN == numeric MIN, which keeps the whole signature
    * expressible in ANSI SQL (and hence DuckDB-oracle-checkable) while
    * staying a pure codegen expression in Spark.
    */
  private def minhashHex(i: Int): Column =
    min(substring(md5(concat(lit(s"mh$i|"), col("shingle")).cast("binary")), 1, 15))

  /** MinHash signatures: one row per doc, `numHashes` hex-string minhash
    * columns `mh0..mh{k-1}`. One shuffle (groupBy id).
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, numHashes: Int = 8): DataFrame = {
    val sh = shingles(docs, idCol, textCol, n)
    val aggs = (0 until numHashes).map(i => minhashHex(i).as(s"mh$i"))
    sh.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band rows over a MinHash signature table (`mh0..mh{k-1}`
    * columns): one row per (id, band, band_key). Shared by the batch
    * candidate join and the incremental new-vs-store join.
    */
  def minhashBandRows(sig: DataFrame, idCol: String,
                      bands: Int, rowsPerBand: Int): DataFrame = {
    val bandKeys = (0 until bands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), concat(cols: _*).as("key"))
    }
    sig.select(col(idCol), explode(array(bandKeys: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("band_key"))
  }

  /** LSH banding over a prebuilt MinHash signature table: docs sharing any
    * band key are candidate pairs. Use this form when the signature table
    * is already materialized (it is an index — build once, serve many).
    */
  def lshCandidatesFromSignatures(sig: DataFrame, idCol: String,
                                  bands: Int, rowsPerBand: Int): DataFrame = {
    val bandRows = minhashBandRows(sig, idCol, bands, rowsPerBand)
    // candidate pairs via equi-self-join on the band key (the same shape
    // as the SQL oracle) — unlike a collect_set per band, no single task
    // ever buffers a whole bucket, so a degenerate hot band (e.g. many
    // empty documents sharing a signature) streams instead of OOMing
    val a = bandRows.select(col("band"), col("band_key"), col(idCol).as("id_a"))
    val b = bandRows.select(col("band"), col("band_key"), col(idCol).as("id_b"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** LSH banding over MinHash signatures: docs sharing any band key are
    * candidate pairs; candidates are then verified with exact Jaccard.
    * bands * rowsPerBand must equal numHashes.
    */
  def minhashLshCandidates(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, bands: Int = 4, rowsPerBand: Int = 2): DataFrame =
    lshCandidatesFromSignatures(
      minhashSignatures(docs, idCol, textCol, n, bands * rowsPerBand),
      idCol, bands, rowsPerBand)

  /** LSH components with signature contraction — the dedup pipeline's
    * components entry point. Documents with IDENTICAL MinHash signatures
    * (exact dups, and near-dups that collide on every hash) are provably
    * in one component: they share all band keys, so LSH pairs connect
    * them directly, and any band key one of them shares with a third doc
    * is shared by all of them. The closure over documents therefore
    * equals the closure over one representative per distinct signature,
    * expanded back through the signature groups — with `min(id)` as the
    * representative, the final labels are identical to running
    * [[connectedComponents]] on the raw pair graph.
    *
    * Why it matters: a dup-heavy corpus (the very thing dedup is for)
    * turns each duplicated document into a clique — f copies cost f²
    * candidate pairs. Contraction runs the band join and the iterative
    * closure on distinct signatures only, so cost scales with CONTENT
    * diversity, not copy count (measured: the 100× all-dups soak drops
    * from ~25M pairs / 89 s to the driver union-find path / seconds).
    */
  def lshComponentsFromSignatures(nodes: DataFrame, idCol: String,
                                  sig: DataFrame, bands: Int, rowsPerBand: Int,
                                  maxRounds: Int = 20,
                                  localThreshold: Long = 5000000L): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sigKey = md5(concat_ws("|", (0 until numHashes).map(i => col(s"mh$i")): _*))
    // (id, signature-key), materialized once: feeds the rep choice, the
    // rep signature semi-join, the expansion, and the missing-node check
    val keyed = sig.select(col(idCol), sigKey.as("__sig")).localCheckpoint(true)
    val reps = keyed.groupBy("__sig").agg(min(col(idCol)).as("__rep"))
    val repIds = reps.select(col("__rep").as(idCol))
    val sigOfReps = sig.join(repIds, idCol)
    val cand = lshCandidatesFromSignatures(sigOfReps, idCol, bands, rowsPerBand)
    val repComps = connectedComponents(repIds, idCol, cand, "id_a", "id_b",
      maxRounds, localThreshold)
    // expand: member -> its signature's rep -> that rep's component
    val labeled = keyed.join(reps, "__sig")
      .select(col(idCol), col("__rep"))
      .join(repComps, col("__rep") === col("node"))
      .select(col(idCol).as("node"), col("component").as("component"))
    // nodes with no signature at all (e.g. empty documents produce no
    // shingles) are their own singleton components, as in the raw path.
    // (Fresh alias on the keyed side: localCheckpoint preserves attribute
    // ids, so `keyed` can still share `nodes`' id attribute.)
    val keyedIds = keyed.select(col(idCol).as("__keyed_id"))
    val missing = nodes
      .join(keyedIds, nodes(idCol) === col("__keyed_id"), "left_anti")
      .select(nodes(idCol).as("node"), nodes(idCol).as("component"))
    // fresh aliases on both union inputs (Spark 4 Union constraint quirk)
    labeled.union(missing)
  }

  /** SimHash (token-weighted): per token take `bits` bits of md5,
    * weight each ±1 bit by the token's frequency, sum per bit position,
    * sign → fingerprint bit. Emitted as a `bits`-char '0'/'1' string so
    * the result is engine-portable; [[simhashToLong]] converts when a
    * numeric fingerprint is wanted (64-bit form only).
    *
    * `bits` defaults to 64; 128 uses the full md5 and is the production
    * width for ≥1e5-signature corpora — at fixed band count the banded
    * pair join's random-collision birthday term is O(n²/2^(bits/bands)),
    * so doubling the width shrinks it by 2¹⁶ (same knob as the 128-bit
    * perceptual fingerprints; see [[simhashPairsFromSignatures]]).
    * The first 64 bits of the 128-bit fingerprint equal the 64-bit
    * fingerprint: both sign the same md5-prefix bit scores.
    *
    * Plan shape: tokens → groupBy(id, token) count → groupBy(id) with
    * `bits` bit-score sum columns → assemble bitstring. The bit positions
    * are aggregate columns of one group-by, not a row explosion — rows
    * shuffled stay bounded by distinct (doc, token) count, and the whole
    * thing is two exchanges instead of three.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
              bits: Int = 64): DataFrame = {
    require(bits >= 1 && bits <= 128, s"md5 provides at most 128 bits, got $bits")
    val tokCounts = docs
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("tok"))
      .groupBy(idCol, "tok").agg(count(lit(1)).as("freq"))
    // md5 hex -> bits/4 chars; bit j of hex char h = (value(h) >> (3 - j%4)) & 1
    val withHash = tokCounts
      .withColumn("h", substring(md5(col("tok").cast("binary")), 1, (bits + 3) / 4))
    val bitScores = (0 until bits).map { j =>
      val hexval = conv(substring(col("h"), j / 4 + 1, 1), 16, 10).cast("int")
      // bit j of the nibble: floor(hexval / 2^(3 - j%4)) % 2, all-arithmetic
      val bitval = pmod(floor(hexval / lit(1 << (3 - j % 4))).cast("long"), lit(2))
      sum(col("freq") * (bitval * 2 - 1)).as(s"bs$j")
    }
    withHash.groupBy(col(idCol))
      .agg(bitScores.head, bitScores.tail: _*)
      .select(col(idCol),
        concat((0 until bits).map(j =>
          when(col(s"bs$j") > 0, "1").otherwise("0")): _*).as("simhash"))
  }

  /** Compact hex form of the 64-char bitstring fingerprint (kept as a
    * string end-to-end: a sign-bit-set fingerprint would overflow LongType
    * under ANSI casts).
    */
  def simhashHexForm(simhashBits: Column): Column = conv(simhashBits, 2, 16)

  /** Near-dup pairs by SimHash Hamming distance <= `maxDist`, banded: the
    * 64 bits split into `bands` equal substrings; by pigeonhole any pair
    * within `bands - 1` bit flips shares at least one identical band, so
    * the equi-self-join on (band, key) has full recall for
    * `maxDist <= bands - 1` and only candidates are Hamming-verified.
    * Same join shape as MinHash-LSH banding — no all-pairs blow-up.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   bands: Int = 4, maxDist: Int = 3): DataFrame =
    simhashPairsFromSignatures(
      // materialized once: feeds the band explode and both verify joins
      simhash(docs, idCol, textCol).localCheckpoint(true),
      idCol, bands, maxDist)

  /** [[simhashPairs]] over a prebuilt (and materialized) simhash table —
    * the signature table is an index, build once and serve many.
    *
    * `bits` is the fingerprint width (the length of every `simhash`
    * string). At fixed `bands` (pinned by the pigeonhole recall bound
    * `maxDist <= bands - 1`), a WIDER fingerprint is the scale knob:
    * the band join's random-collision birthday term is O(n²/2^width)
    * with width = bits/bands, so 128-bit signatures (4×32-bit keys)
    * shrink it by 2¹⁶ vs 64-bit — the documented fix for ≥1e5-signature
    * corpora (BASELINE.md `video_fingerprint_pairs`).
    */
  def simhashPairsFromSignatures(sig: DataFrame, idCol: String,
                                 bands: Int = 4, maxDist: Int = 3,
                                 bits: Int = 64): DataFrame = {
    require(bits % bands == 0, s"bands must divide the fingerprint width $bits")
    require(maxDist <= bands - 1, s"recall guarantee needs maxDist <= bands-1")
    val width = bits / bands
    // fail loudly on a width mismatch: with bits wider than the stored
    // signatures, substring past the end yields EMPTY trailing band keys,
    // every row collides on those bands, and the candidate join silently
    // degenerates to all-pairs — exactly what banding exists to prevent
    // coalesce the length so a NULL signature raises with the diagnostic
    // message instead of a message-less RuntimeException (concat of NULL
    // would null the whole raise_error argument)
    val checked = when(length(col("simhash")) === bits, col("simhash"))
      .otherwise(raise_error(concat(
        lit(s"simhash width mismatch: bits=$bits but stored signature has "),
        coalesce(length(col("simhash")).cast("string"), lit("NULL")),
        lit(" chars"))))
    val bandCols = (0 until bands).map(b => struct(lit(b).as("band"),
      substring(checked, b * width + 1, width).as("key")))
    val bandRows = sig
      .select(col(idCol), explode(array(bandCols: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("band_key"))
    val cand = bandRows.select(col(idCol).as("id_a"), col("band"), col("band_key"))
      .join(bandRows.select(col(idCol).as("id_b"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    cand
      .join(sig.select(col(idCol).as("id_a"), col("simhash").as("sh_a")), "id_a")
      .join(sig.select(col(idCol).as("id_b"), col("simhash").as("sh_b")), "id_b")
      .withColumn("hamming",
        graft.functions.TextExprs.hamming(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  /** Transitive dedup closure: connected components over candidate dup
    * pairs, so A~B and B~C land A,B,C in one group even when A~C was
    * never emitted by LSH. `component` = the minimum reachable node id;
    * nodes without any pair are their own singleton component.
    *
    * Adaptive execution, the same call the runtime makes for broadcast
    * vs shuffle joins: the materialized pair count picks the path.
    *  - pairs <= `localThreshold`: collect and union-find on the driver
    *    (path compression; exact same labels). Dedup pair graphs are a
    *    tiny fraction of the corpus, so this is the common case and costs
    *    one collect instead of several distributed rounds. The default
    *    threshold (5M pairs ≈ 100-200 MB collected) stays well inside
    *    driver headroom while each distributed round costs several
    *    shuffles; graphs past the threshold (the 100× soak's all-cliques
    *    case is ~25M pairs) take the distributed path.
    *  - otherwise: min-label propagation with pointer doubling AND
    *    per-round graph contraction — each round every node takes the
    *    min of itself and its neighbors, follows that label's label,
    *    and the edge set is rewritten between representatives with
    *    self-loops dropped. Convergence is O(log diameter) rounds
    *    (the round bound of the large-star/small-star formulation —
    *    Kiveris et al., "Connected Components in MapReduce and
    *    Beyond", SoCC'14), but unlike plain propagation the later
    *    rounds shuffle only the still-unmerged residue: a dup clique,
    *    the dominant dedup shape, contracts to nothing after one
    *    round. Intermediates are `localCheckpoint`ed per round:
    *    without lineage truncation the plan doubles every iteration
    *    and the driver OOMs formatting it long before the data is
    *    large.
    */
  def connectedComponents(nodes: DataFrame, idCol: String,
                          pairs: DataFrame, aCol: String, bCol: String,
                          maxRounds: Int = 20,
                          localThreshold: Long = 5000000L): DataFrame = {
    // Materialize the pair list once before mirroring it: the union's two
    // branches would otherwise each recompute the (potentially expensive —
    // e.g. LSH) pair-producing plan.
    val p = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .localCheckpoint(true)

    if (p.count() <= localThreshold) {
      // localComponents collects p eagerly and rebuilds its labels from
      // driver rows, so nothing lazy still depends on the pin
      val out = localComponents(nodes, idCol, p)
      graft.util.Pins.release(p)
      return out
    }

    // fresh aliases on both branches: union children sharing attribute
    // ids trips Union's constraint rewriting (same quirk as below)
    val edges = p.select(col("src").as("src"), col("dst").as("dst"))
      .union(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .cache()
    // Only nodes that appear in some pair participate in the iteration —
    // isolated nodes are singletons by definition and are unioned back in
    // closed form at the end. In a dedup workload the pair graph is a
    // small fraction of the corpus, so every round's shuffles and the
    // convergence checks run on that fraction, not the full node set.
    val edgeNodes = edges.select(col("src").as("node")).distinct().cache()
    // `overall`: ORIGINAL edge node -> its current representative.
    var overall = edgeNodes.select(col("node"), col("node").as("component"))
      .localCheckpoint(true)
    // The iteration CONTRACTS the graph each round instead of
    // re-propagating over the full edge set: every node takes the least
    // of itself and its neighbors, follows that label's label (pointer
    // doubling), and the edge set is rewritten between representatives
    // with self-loops dropped. A dup clique — the dominant shape in a
    // dedup pair graph — collapses to NOTHING after one round, so later
    // rounds shuffle only the geometrically shrinking unresolved
    // residue; a chain still converges in O(log diameter) rounds via
    // the doubling, as in the large-star/small-star formulation
    // (Kiveris et al., SoCC'14).
    var cur = edges
    var round = 0
    while (round < maxRounds && cur.head(1).nonEmpty) {
      // the symmetric edge set lists every live node as a src, so one
      // grouped pass computes min(self, neighbors) for all of them
      val minL = cur.groupBy(col("src"))
        .agg(least(col("src"), min(col("dst"))).as("component"))
        .select(col("src").as("node"), col("component"))
      // pointer doubling: follow the label's own label; a component min
      // has no smaller-labeled row, so it keeps itself
      val lab = minL.as("l")
        .join(minL.as("m"), col("l.component") === col("m.node"), "left")
        .select(col("l.node").as("node"),
          coalesce(col("m.component"), col("l.component")).as("component"))
        .localCheckpoint(true)
      // resolve original nodes through this round's relabeling; nodes
      // whose representative is already final (contracted away in an
      // earlier round) pass through unchanged. Round 1's overall map is
      // the identity, so the resolution IS this round's labels (same node
      // set and columns) — skip the join.
      overall =
        if (round == 0) { graft.util.Pins.release(overall); lab }
        else graft.util.Pins.advance(overall, overall.as("o")
          .join(lab.as("u"), col("o.component") === col("u.node"), "left")
          .select(col("o.node").as("node"),
            coalesce(col("u.component"), col("o.component")).as("component")))
      // contract: rewrite edges between the new representatives —
      // intra-component edges become self-loops and vanish
      val contracted = cur.as("e")
        .join(lab.as("a"), col("e.src") === col("a.node"))
        .join(lab.as("b"), col("e.dst") === col("b.node"))
        .select(col("a.component").as("src"), col("b.component").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      // `edges` is the cached first state, released with the caches below
      cur = if (cur eq edges) contracted.localCheckpoint(true)
        else graft.util.Pins.advance(cur, contracted)
      // round 1: `overall` IS lab's checkpoint — released as `overall`
      if (!(overall eq lab)) graft.util.Pins.release(lab)
      round += 1
    }
    if (!(cur eq edges)) graft.util.Pins.release(cur)
    val singletons = nodes
      .join(edgeNodes, nodes(idCol) === edgeNodes("node"), "left_anti")
      .select(col(idCol).as("node"), col(idCol).as("component"))
    // materialize before dropping the caches: the caller's action runs
    // later, and an unpersisted lazy plan would recompute the whole pair
    // pipeline for the anti-join
    val result = overall
      .select(col("node").as("node"), col("component").as("component"))
      .union(singletons)
      .localCheckpoint(true)
    graft.util.Pins.release(edges)
    graft.util.Pins.release(edgeNodes)
    graft.util.Pins.release(overall)
    // released last, only once the checkpointed result can never trigger
    // a recompute of the cached edges (whose lineage reaches p)
    graft.util.Pins.release(p)
    result
  }

  /** Driver-side union-find over a collected (small) pair list; id type
    * is whatever the caller's id column is. Non-edge nodes become
    * singletons via a broadcast anti-join, exactly as in the distributed
    * path.
    */
  private def localComponents(nodes: DataFrame, idCol: String, p: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val ord = new Ordering[Any] { // min-id root, matching the distributed labels
      def compare(a: Any, b: Any): Int = (a, b) match {
        case (x: Long, y: Long) => java.lang.Long.compare(x, y)
        case (x: Int, y: Int) => Integer.compare(x, y)
        case (x: String, y: String) => x.compareTo(y)
        case _ => a.toString.compareTo(b.toString)
      }
    }
    val edgeNodeSet = scala.collection.mutable.HashSet.empty[Any]
    p.collect().foreach { r =>
      val (a, b) = (r.get(0), r.get(1))
      if (a != null && b != null) {
        edgeNodeSet += a; edgeNodeSet += b
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          val (lo, hi) = if (ord.lt(ra, rb)) (ra, rb) else (rb, ra)
          parent(hi) = lo
        }
      }
    }
    val idField = nodes.schema(idCol)
    val labelRows: Seq[org.apache.spark.sql.Row] =
      edgeNodeSet.map(n => org.apache.spark.sql.Row(n, find(n))).toSeq
    val labelsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(labelRows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        idField.copy(name = "node"), idField.copy(name = "component"))))
    val edgeNodesDf = labelsDf.select(col("node"))
    val singletons = nodes
      .join(broadcast(edgeNodesDf), nodes(idCol) === edgeNodesDf("node"), "left_anti")
      .select(col(idCol).as("node"), col(idCol).as("component"))
    labelsDf.union(singletons)
  }
}
