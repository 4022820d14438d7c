package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables
import graft.text.TextOps
import graft.util.SessionArtifacts
import graft.util.SessionArtifacts.Kind

/** The reference's text-analytics pipeline (tasks 1.1–1.5) re-expressed over
  * the synthetic `documents` table: tokenize/clean → term-document count
  * matrix → corpus-frequency HAVING filter → global top-k → TF-IDF
  * (natural-log IDF, tf = freq / Σfreq-per-doc) → per-group (language ~
  * category) top-k by average TF-IDF.
  *
  * Shapes: the count matrix is one `groupBy(doc, token)` shuffle; TF and DF
  * are windows over that matrix partitioned by doc / token (no extra
  * shuffle-join, mirroring SURVEY §3.2's "two windows, one plan"); the
  * corpus size N rides in via a 1-row broadcast cross join, never an
  * `OVER ()` global window (which would single-partition at 100 TB).
  */
object TextPipeline {

  type Q = (SparkSession, String) => DataFrame

  /** Term-document count matrix over `documents` (task 1.1 / A1+P1+P2).
    * Build-once per (session, dataset) — in the reference this is
    * literally a materialized artifact (task 1.1 writes the `.mtx` that
    * 1.2/1.4 then READ, `sources/1.2/source/task1_2.java:34-42`), so the
    * engine mirrors that dataflow: the tokenize+count shuffle runs once
    * and every downstream task serves from the materialized matrix.
    */
  def termDocCounts(s: SparkSession, d: String): DataFrame =
    PipelineOps.memoized(s, d, "term_doc_counts") {
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextOps.tokens(TextOps.clean(col("text")))).as("token"))
        .groupBy("doc_id", "token")
        .agg(count(lit(1)).as("freq"))
        .localCheckpoint(true)
    }

  /** TF-IDF per (doc, token): tf = freq/Σfreq-per-doc, idf = ln(N/df)
    * (task 1.4 / A5+A6+J5). N arrives as a broadcast 1-row cross join.
    */
  def tfidf(s: SparkSession, d: String): DataFrame = {
    val counts = termDocCounts(s, d)
    val n = Tables.documents(s, d).agg(countDistinct(col("doc_id")).as("n_docs"))
    val wDoc = Window.partitionBy("doc_id")
    val wTerm = Window.partitionBy("token")
    counts
      .crossJoin(broadcast(n))
      .withColumn("tf", col("freq") / sum("freq").over(wDoc))
      .withColumn("df", count(lit(1)).over(wTerm))
      .withColumn("idf", log(col("n_docs") / col("df")))
      .select(col("doc_id"), col("token"), col("tf"), col("idf"),
        (col("tf") * col("idf")).as("tfidf"))
  }

  val queries: Map[String, Q] = Map(
    // Task 1.1: the count matrix itself.
    "t1_term_doc_count" -> ((s, d) => termDocCounts(s, d)),

    // Task 1.2 / A2: corpus-frequency >= 3 HAVING that keeps member rows.
    "t2_corpus_freq_filter" -> ((s, d) => {
      val w = Window.partitionBy("token")
      termDocCounts(s, d)
        .withColumn("corpus_freq", sum("freq").over(w))
        .filter(col("corpus_freq") >= 3)
        .select("doc_id", "token", "freq", "corpus_freq")
    }),

    // Task 1.3 / A4: global top-10 terms by total frequency.
    "t3_top10_terms" -> ((s, d) =>
      termDocCounts(s, d)
        .groupBy("token")
        .agg(sum("freq").as("total_freq"))
        .orderBy(desc("total_freq"), asc("token"))
        .limit(10)),

    // Task 1.4: the TF-IDF matrix.
    "t4_tfidf" -> ((s, d) => tfidf(s, d)),

    // Task 1.5 / A7+A8+A9: per-language top-5 terms by average TF-IDF,
    // denominator = distinct docs in the language (not docs with the term).
    "t5_category_topk" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "lang")
      val perLang = Tables.documents(s, d)
        .groupBy("lang").agg(countDistinct("doc_id").as("docs_in_lang"))
      val sums = tfidf(s, d)
        .join(docs, "doc_id")
        .groupBy("lang", "token")
        .agg(sum("tfidf").as("sum_tfidf"))
      val avg = sums
        .join(broadcast(perLang), "lang")
        .withColumn("avg_tfidf", col("sum_tfidf") / col("docs_in_lang"))
      val w = Window.partitionBy("lang").orderBy(desc("avg_tfidf"), asc("token"))
      avg.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("lang", "token", "avg_tfidf", "rn")
    }),

    // A13/S10: global distinct-count (vocabulary size) — one row.
    "t6_vocab_size" -> ((s, d) =>
      termDocCounts(s, d).agg(countDistinct("token").as("vocab_size"))),

    // Heavy hitters, sketch-checked: the exact global top-10 terms
    // (hash-checked value-for-value, t3's shape) plus a flag that a
    // ONE-PASS count-min sketch over the raw token stream brackets each
    // exact count inside its [true, true + eps*N] guarantee. At 100 TB
    // the exact form shuffles every distinct token; the sketch is a
    // map-side-mergeable aggregate in fixed memory (width 2/eps ×
    // depth ln(1/(1-conf)) counters), so frequency questions cost one
    // scan and no token shuffle. Seeded => deterministic across runs.
    // Driver-side work is bounded: one sketch binary + 10 rows.
    "t7_heavy_hitters" -> ((s, d) => {
      import s.implicits._
      val eps = 1e-4
      val top = termDocCounts(s, d)
        .groupBy("token").agg(sum("freq").as("total_freq"))
        .orderBy(desc("total_freq"), asc("token"))
        .limit(10)
        .collect()
      val flagged =
        if (top.isEmpty) Seq.empty[(String, Long, Int)]
        else {
          val skBytes = Tables.documents(s, d)
            .select(explode(TextOps.tokens(TextOps.clean(col("text")))).as("token"))
            .agg(count_min_sketch(col("token"), lit(eps), lit(0.999), lit(42)).as("sk"))
            .head.getAs[Array[Byte]](0)
          val sk = org.apache.spark.util.sketch.CountMinSketch.readFrom(skBytes)
          // cms_ok pins the GUARANTEED invariant only: a count-min sketch
          // can never undercount (collisions only inflate), so `est >= f`
          // holds for any data and any seed — safe to hash against the
          // oracle's constant 1. The probabilistic upper bracket
          // (est <= f + eps·total with prob >= conf) is deliberately NOT
          // part of the hashed contract — a data or seed change could
          // flip it into a spurious correctness failure; SketchSpec
          // asserts it on the fixed test fixture instead.
          top.toSeq.map { r =>
            val (t, f) = (r.getString(0), r.getLong(1))
            (t, f, if (sk.estimateCount(t) >= f) 1 else 0)
          }
        }
      flagged.toDF("token", "total_freq", "cms_ok")
    }),

    // Per-group heavy hitters: top-10 terms per language by total
    // frequency — the per-domain/per-language curation ask t7 answers
    // only globally. Runs on the bounded-heap top_k_by aggregate, NOT a
    // rank window: the window form shuffles and sorts EVERY (lang,
    // token) row of a group into one task, while the heap aggregate
    // partial-aggregates map-side (≤ k rows per group per task reach
    // the shuffle) and merges k-entry heaps — memory and shuffle
    // bounded by k, not vocabulary size. Tie-break on token ASC
    // (binary string order, engine-portable).
    "t7b_group_heavy_hitters" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "lang")
      termDocCounts(s, d)
        .join(docs, "doc_id")
        .groupBy("lang", "token")
        .agg(sum("freq").as("total_freq"))
        .groupBy("lang")
        .agg(graft.functions.TopKBy.topKBy(col("total_freq").cast("double"),
          col("token"), struct(col("token"), col("total_freq")), 10).as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), col("col.payload.token").as("token"),
          col("col.payload.total_freq").as("total_freq"),
          (col("pos") + 1).cast("int").as("rn"))
    }),

    // BM25 ranked retrieval (Robertson/Spärck Jones probabilistic
    // weighting, the Okapi tf saturation form): top-20 documents for a
    // fixed conjunctive keyword query. Serves from the build-once count
    // matrix: per-doc lengths are ONE aggregation of the memoized matrix,
    // the query-term document frequencies are a FILTERED tiny aggregate
    // (|q| rows, broadcast), and the scoring input is only the posting
    // rows of the query terms — the full corpus is never rescanned per
    // query. At 100 TB the posting-row filter is the inverted-index read
    // path (partition the matrix by token bucket and the scan prunes);
    // the doc-length join is the one real shuffle, against a
    // once-materialized |docs| table. Scores round to 6dp and order by
    // (rounded score DESC, doc_id) so the top-20 cut is engine-portable.
    "t8_bm25_search" -> ((s, d) => {
      val counts = termDocCounts(s, d)
      val docLen = counts.groupBy("doc_id").agg(sum("freq").as("dl"))
      val stats = docLen.agg(count(lit(1)).cast("double").as("n_docs"),
        avg("dl").as("avgdl"))
      val hits = counts.filter(col("token").isin(Bm25Query: _*))
      val dfs = hits.groupBy("token")
        .agg(count(lit(1)).cast("double").as("df"))
      val k1 = Bm25K1
      val b = Bm25B
      hits.join(docLen, "doc_id")
        .join(broadcast(dfs), "token")
        .crossJoin(broadcast(stats))
        .withColumn("idf",
          log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
        .withColumn("score_t",
          col("idf") * (col("freq") * (k1 + 1)) /
            (col("freq") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
        .groupBy("doc_id")
        .agg(round(sum("score_t"), 6).as("bm25"),
          count(lit(1)).cast("int").as("n_matched"))
        .orderBy(desc("bm25"), asc("doc_id"))
        .limit(20)
    }),

    // Per-document keyword extraction: each doc's top-3 terms by TF-IDF
    // (deterministic ties: tfidf DESC, token ASC) — the topical-tag
    // primitive a curation pipeline attaches to every document. Serves
    // from the build-once TF-IDF matrix on the bounded-heap top_k_by
    // aggregate: map-side partials keep <= k rows per doc per task, so
    // shuffle and memory are k-bounded (the rank-window form sorts every
    // doc's full term list in one task). Scores round to 6dp for the
    // engine-portable cut.
    "t9_doc_keywords" -> ((s, d) =>
      tfidf(s, d)
        .select(col("doc_id"), col("token"), round(col("tfidf"), 6).as("w"))
        .groupBy("doc_id")
        .agg(graft.functions.TopKBy.topKBy(col("w"), col("token"),
          struct(col("token"), col("w")), 3).as("top"))
        .select(col("doc_id"), posexplode(col("top")))
        .select(col("doc_id"), col("col.payload.token").as("token"),
          col("col.payload.w").as("tfidf_r"),
          (col("pos") + 1).cast("int").as("rn"))),

    // BPE merge-table induction ([[graft.text.Bpe]]): the 8-rank merge
    // table the corpus induces — (merge_rank, lhs, rhs, merged,
    // pair_count), deterministic (ties: count DESC, pair ASC). The model
    // is a BUILD-ONCE artifact per (session, dataset) — train once,
    // serve the merge table and every apply from the same model, like
    // the shingle/signature index tables. The oracle replays the exact
    // train loop as GENERATED SQL from the same per-iteration template
    // ([[bpeOracle]]) — engines cannot drift.
    "tp_bpe_train" -> ((s, d) => {
      import s.implicits._
      bpeModel(s, d).merges.toDF()
    }),

    // BPE application: per document, the letter-run word count, the
    // subword token count after the 8 merges, and an md5 over the full
    // in-order subword stream (the strong whole-tokenization check).
    // Scale shape: the corpus is exploded ONCE and equi-joined against
    // the vocab-sized final segmentation table — never iterated; the
    // join is left to AQE (vocab usually broadcasts but grows with
    // corpus diversity). Docs with no letter-run words have no
    // tokenization and emit no row (identical in the oracle).
    "tp_bpe_apply" -> ((s, d) => {
      val seg = bpeModel(s, d).vocabSyms
        .groupBy("word")
        .agg(
          // field extraction on the sorted struct array: codegen
          // GetArrayStructFields, not a transform(...) lambda
          concat_ws(" ", array_sort(collect_list(struct(col("pos"), col("sym"))))
            .getField("sym")).as("seg_text"),
          count(lit(1)).as("n_syms"))
      val docWords = Tables.documents(s, d).select(col("doc_id"),
        posexplode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
          .as(Seq("widx", "word")))
      docWords.join(seg, "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum("n_syms").as("n_bpe_tokens"),
          md5(concat_ws(" ",
            array_sort(collect_list(struct(col("widx"), col("seg_text"))))
              .getField("seg_text"))).as("bpe_md5"))
    }),

    // The composed pretraining data-prep chain: TOKENIZE (the memoized
    // BPE model's vocab-sized segmentation joined onto the exploded
    // corpus — tp_bpe_apply's shape) then PACK (next-fit into
    // fixed-token-budget bins per shard — tp_pack_nextfit's shape, but
    // budgeted in SUBWORD tokens, the unit a training pipeline actually
    // packs by). One vocab join + one per-shard window; nothing
    // corpus-quadratic, no global window. Docs with no letter-run words
    // tokenize to nothing and emit no row (as in tp_bpe_apply).
    "tp_tokenize_pack" -> ((s, d) => {
      val seg = bpeModel(s, d).vocabSyms
        .groupBy("word").agg(count(lit(1)).as("n_syms"))
      val docWords = Tables.documents(s, d).select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
          .as("word"))
      val docTokens = docWords.join(seg, "word")
        .groupBy("doc_id").agg(sum("n_syms").as("n_tokens"))
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docTokens
        .withColumn("shard", pmod(col("doc_id"), lit(8L)))
        .withColumn("cum_tokens", sum("n_tokens").over(w))
        .withColumn("bin",
          floor((col("cum_tokens") - col("n_tokens")) / 512).cast("long"))
        .select("doc_id", "shard", "n_tokens", "bin")
    }),

    // Unigram-LM tokenizer training ([[graft.text.UnigramLm]]): the final
    // piece table — (piece, cost_micro, usage) — after seed + EM. The
    // model is a build-once artifact per (session, dataset), like the
    // BPE model; the oracle replays seed and every EM round as GENERATED
    // SQL from the same constants ([[unigramOracle]]), with the Viterbi
    // DP unrolled over end positions in integer micro-nat costs so both
    // engines compute the identical segmentation.
    "tp_unigram_train" -> ((s, d) => {
      import s.implicits._
      unigramModel(s, d).pieces.toDF()
    }),

    // Unigram-LM application: per document, letter-run word count,
    // subword piece count under the trained model, and an md5 over the
    // in-order piece stream — tp_bpe_apply's contract for the second
    // tokenizer family. Same scale shape: corpus exploded once,
    // equi-joined against the vocab-sized final segmentation.
    "tp_unigram_tok" -> ((s, d) => {
      val seg = unigramModel(s, d).segs
        .groupBy("word")
        .agg(
          concat_ws(" ", array_sort(collect_list(struct(col("pos"), col("piece"))))
            .getField("piece")).as("seg_text"),
          count(lit(1)).as("n_pieces"))
      val docWords = Tables.documents(s, d).select(col("doc_id"),
        posexplode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
          .as(Seq("widx", "word")))
      docWords.join(seg, "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum("n_pieces").as("n_unigram_tokens"),
          md5(concat_ws(" ",
            array_sort(collect_list(struct(col("widx"), col("seg_text"))))
              .getField("seg_text"))).as("tok_md5"))
    }),

    // WordPiece training ([[graft.text.WordPiece]] — the third tokenizer
    // family): BPE's bounded merge loop with the likelihood-gain argmax
    // (score = ln pc − ln ca − ln cb in integer micro-nats, the unigram
    // oracle's cross-engine float precedent). The oracle replays every
    // rank as generated SQL from the same `WpMerges` constant
    // ([[wordPieceOracle]]).
    "tp_wordpiece_train" -> ((s, d) => {
      import s.implicits._
      wpModel(s, d).merges.toDF()
    }),

    // WordPiece application: greedy longest-match-first segmentation of
    // the distinct-word table under the trained vocabulary (the codegen
    // [[graft.functions.WordPieceKernels]] expression — NOT a merge
    // replay, the defining WordPiece apply rule), joined back onto the
    // exploded corpus. Output contract mirrors the other two families:
    // per doc, word count, piece count, and an md5 over the in-order
    // `##`-marked piece stream. The oracle unrolls the greedy scan over
    // word positions (advance ≥ 1 char/step, `UniMaxWordLen` steps
    // bound it — the corpus word-length bound the unigram oracle
    // already relies on).
    "tp_wordpiece_tok" -> ((s, d) => {
      val model = wpModel(s, d)
      val docWords = Tables.documents(s, d).select(col("doc_id"),
        posexplode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
          .as(Seq("widx", "word")))
      val seg = graft.text.WordPiece.segmentWords(docWords.select("word"), model)
        .select(col("word"), concat_ws(" ", col("pieces")).as("seg_text"),
          size(col("pieces")).cast("long").as("n_pieces"))
      docWords.join(seg, "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum("n_pieces").as("n_wp_tokens"),
          md5(concat_ws(" ",
            array_sort(collect_list(struct(col("widx"), col("seg_text"))))
              .getField("seg_text"))).as("wp_md5"))
    }),

    // BATCHED BPE training ([[graft.text.Bpe.train]] with
    // `batchSize` > 1 — the production path: 2 Spark jobs per B merges
    // instead of per merge, what makes 32k-rank vocabularies feasible).
    // Same 8-rank budget as tp_bpe_train but trained in symbol-disjoint
    // batches of BpeBatchB, so the oracle certifies the BATCH selection
    // rule itself: per pass, top-max(6·want, 8) candidates by
    // (count DESC, pair ASC), then the greedy disjoint scan whose
    // used-set also reserves each accepted pair's MERGED symbol
    // (the non-interaction guarantee), then simultaneous application.
    // The oracle replays all of it as generated SQL — the scan as a
    // bounded recursive CTE over the ranked candidate list, the apply
    // as per-rank merge passes (equivalent under disjointness)
    // ([[bpeBatchedOracle]]). At sf0.001/sf0.01 the fixture genuinely
    // exercises displacement: (o,r) outcounts (o,w) but is rejected in
    // pass 0 because (e,r) already used `r`, and a later rank merges a
    // pass-created symbol pair (m, er).
    "tp_bpe_train_batched" -> ((s, d) => {
      import s.implicits._
      bpeBatchedModel(s, d).merges.toDF()
    }),

    // BATCHED WordPiece training ([[graft.text.WordPiece.train]] with
    // `batchSize` > 1 — the array-representation trainer that removed
    // the disjointness starvation and the per-pass window sorts;
    // BASELINE.md `wordpiece_train_apply`). Unlike batched BPE there is
    // NO disjointness filter: the top-want pairs by (score DESC, pair
    // ASC) apply per word in rank order, so batch members can interact
    // (an earlier rank consumes a later rank's occurrences) and
    // recorded score/count are the PRE-pass values. The oracle replays
    // each pass's scored top-want argmax and the rank-order application
    // as `want` sequential merge sub-passes — exactly
    // [[graft.functions.MergeKernels.applyBatch]]'s semantics
    // ([[wordPieceBatchedOracle]]). The fixture exercises interaction:
    // (b,i) at rank 4 consumes (i,g)'s "big" occurrences before rank 5
    // runs, and pass 2 picks up the created (bi,g) pairs.
    "tp_wordpiece_train_batched" -> ((s, d) => {
      import s.implicits._
      wpBatchedModel(s, d).merges.toDF()
    })
  )

  /** Fixed keyword query + Okapi parameters for the declared BM25 query
    * (the operator itself takes any term set; k1/b are the standard
    * defaults from Robertson et al., TREC-3).
    */
  val Bm25Query: Seq[String] = Seq("spark", "hash", "join", "window")
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** Merge ranks the declared BPE queries train — small and fixed so the
    * oracle's unrolled SQL stays reviewable; the operator itself takes
    * any count.
    */
  val BpeMerges = 8

  // one trained model per (session, dataset); the BPE vocab tables and
  // unigram segmentations are pinned, so their kinds release the pin
  private val Bpe = new Kind[graft.text.Bpe.BpeModel]("bpe", _.release())
  private val BpeBatched = new Kind[graft.text.Bpe.BpeModel]("bpe-batched", _.release())
  private val Wp = new Kind[graft.text.WordPiece.WpModel]("wordpiece")
  private val WpBatched = new Kind[graft.text.WordPiece.WpModel]("wordpiece-batched")
  private val Uni = new Kind[graft.text.UnigramLm.UnigramModel]("unigram", _.release())

  def bpeModel(s: SparkSession, d: String): graft.text.Bpe.BpeModel =
    SessionArtifacts.get(s, Bpe, d)(
      graft.text.Bpe.train(Tables.documents(s, d), "text", BpeMerges))

  /** Batch size for the declared BATCHED trainer queries — 3 against an
    * 8-rank budget so the pass wants split 3/3/2 (exercises the
    * remaining-rank cap) and the unrolled oracle stays reviewable. The
    * operators take any batch size.
    */
  val BpeBatchB = 3

  def bpeBatchedModel(s: SparkSession, d: String): graft.text.Bpe.BpeModel =
    SessionArtifacts.get(s, BpeBatched, d)(
      graft.text.Bpe.train(Tables.documents(s, d), "text", BpeMerges,
        batchSize = BpeBatchB))

  def wpBatchedModel(s: SparkSession, d: String): graft.text.WordPiece.WpModel =
    SessionArtifacts.get(s, WpBatched, d)(
      graft.text.WordPiece.train(Tables.documents(s, d), "text", WpMerges,
        batchSize = BpeBatchB))

  /** Unigram-LM constants for the declared queries — small and fixed so
    * the oracle's generated SQL stays reviewable (the operator itself
    * takes any values). `UniMaxWordLen` bounds the oracle's unrolled DP;
    * the corpus's longest letter-run word is 8 chars, asserted in spec.
    */
  val UniVocabSize = 48
  val UniMaxPieceLen = 4
  val UniEmIters = 2
  val UniMaxWordLen = 10

  /** WordPiece merge ranks for the declared queries — small and fixed so
    * the oracle's generated SQL stays reviewable (the operator takes any
    * count; batching scales it like BPE's 32k demo).
    */
  val WpMerges = 8

  def wpModel(s: SparkSession, d: String): graft.text.WordPiece.WpModel =
    SessionArtifacts.get(s, Wp, d)(
      graft.text.WordPiece.train(Tables.documents(s, d), "text", WpMerges))

  def unigramModel(s: SparkSession, d: String): graft.text.UnigramLm.UnigramModel =
    SessionArtifacts.get(s, Uni, d)(
      graft.text.UnigramLm.train(Tables.documents(s, d), "text",
        UniVocabSize, UniMaxPieceLen, UniEmIters))

  private val tokensSql =
    """SELECT doc_id, unnest(string_split_regex(lower(regexp_replace(text,
      |  '[~!@#$%^&*()\-+\[\]"'':.,<>]', '', 'g')), '\s+')) AS token
      |FROM documents""".stripMargin

  private val countsSql =
    s"""SELECT doc_id, token, count(*) AS freq FROM ($tokensSql) tk
       |WHERE token != '' GROUP BY 1, 2""".stripMargin

  private val tfidfSql =
    s"""SELECT doc_id, token, tf, idf, tf * idf AS tfidf FROM (
       |  SELECT doc_id, token,
       |    freq / (sum(freq) OVER (PARTITION BY doc_id)) AS tf,
       |    ln((SELECT count(DISTINCT doc_id) FROM documents) * 1.0
       |       / (count(*) OVER (PARTITION BY token))) AS idf
       |  FROM ($countsSql) c) t""".stripMargin

  /** t8's full BM25 top-20 oracle (doc_id, bm25, n_matched) — also the
    * lexical arm of `ret_hybrid_rrf`'s oracle (wrapped as a derived
    * table there, which DuckDB allows to carry its own WITH chain).
    */
  private[queries] val bm25TopSql: String = {
    val terms = Bm25Query.map(t => s"'$t'").mkString(", ")
    s"""WITH c AS ($countsSql),
       |dl AS (SELECT doc_id, sum(freq) AS dl FROM c GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
       |       FROM dl),
       |hits AS (SELECT doc_id, token, freq FROM c WHERE token IN ($terms)),
       |dfs AS (SELECT token, CAST(count(*) AS DOUBLE) AS df
       |        FROM hits GROUP BY 1)
       |SELECT h.doc_id,
       |  round(sum(ln(1 + (st.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
       |    * (h.freq * ${Bm25K1 + 1}) /
       |      (h.freq + $Bm25K1 * (${1 - Bm25B} + $Bm25B * dl.dl / st.avgdl))),
       |    6) AS bm25,
       |  CAST(count(*) AS INT) AS n_matched
       |FROM hits h JOIN dl ON h.doc_id = dl.doc_id
       |  JOIN dfs ON h.token = dfs.token CROSS JOIN st
       |GROUP BY 1 ORDER BY bm25 DESC, h.doc_id LIMIT 20""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "t1_term_doc_count" -> countsSql,

    "t2_corpus_freq_filter" ->
      s"""SELECT doc_id, token, freq, corpus_freq FROM (
         |  SELECT doc_id, token, freq,
         |    CAST(sum(freq) OVER (PARTITION BY token) AS BIGINT) AS corpus_freq
         |  FROM ($countsSql) c) t
         |WHERE corpus_freq >= 3""".stripMargin,

    "t3_top10_terms" ->
      s"""SELECT token, CAST(sum(freq) AS BIGINT) AS total_freq FROM ($countsSql) c
         |GROUP BY 1 ORDER BY total_freq DESC, token ASC LIMIT 10""".stripMargin,

    "t4_tfidf" -> tfidfSql,

    "t5_category_topk" ->
      s"""SELECT lang, token, avg_tfidf, rn FROM (
         |  SELECT lang, token, avg_tfidf,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY avg_tfidf DESC, token ASC) AS INT) AS rn
         |  FROM (
         |    SELECT d.lang, t.token,
         |      sum(t.tfidf) / any_value(pl.docs_in_lang) AS avg_tfidf
         |    FROM ($tfidfSql) t
         |      JOIN documents d ON t.doc_id = d.doc_id
         |      JOIN (SELECT lang, count(DISTINCT doc_id) AS docs_in_lang
         |            FROM documents GROUP BY 1) pl ON d.lang = pl.lang
         |    GROUP BY 1, 2) a) r
         |WHERE rn <= 5""".stripMargin,

    "t6_vocab_size" ->
      s"SELECT count(DISTINCT token) AS vocab_size FROM ($countsSql) c",

    "t7_heavy_hitters" ->
      s"""SELECT token, CAST(sum(freq) AS BIGINT) AS total_freq, 1 AS cms_ok
         |FROM ($countsSql) c
         |GROUP BY 1 ORDER BY total_freq DESC, token ASC LIMIT 10""".stripMargin,

    "t7b_group_heavy_hitters" ->
      s"""SELECT lang, token, total_freq, rn FROM (
         |  SELECT lang, token, total_freq,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY total_freq DESC, token ASC) AS INT) AS rn
         |  FROM (
         |    SELECT d.lang, c.token, CAST(sum(c.freq) AS BIGINT) AS total_freq
         |    FROM ($countsSql) c JOIN documents d ON c.doc_id = d.doc_id
         |    GROUP BY 1, 2) g) r
         |WHERE rn <= 10""".stripMargin,

    // rank-window replay of the bounded-heap cut, on the same rounded
    // scores and the same (tfidf DESC, token ASC) order
    "t9_doc_keywords" ->
      s"""SELECT doc_id, token, tfidf_r, rn FROM (
         |  SELECT doc_id, token, tfidf_r,
         |    CAST(row_number() OVER (
         |      PARTITION BY doc_id ORDER BY tfidf_r DESC, token ASC) AS INT)
         |      AS rn
         |  FROM (SELECT doc_id, token, round(tfidf, 6) AS tfidf_r
         |        FROM ($tfidfSql) t) x) r
         |WHERE rn <= 3""".stripMargin,

    // same Okapi constants interpolated from the Scala vals so both
    // engines parse bit-identical double literals
    "t8_bm25_search" -> bm25TopSql,

    "tp_bpe_train" -> bpeOracle(
      (0 until BpeMerges).map { k =>
        val head = if (k == 0)
          s"SELECT ${k + 1} AS merge_rank, a AS lhs, b AS rhs, a || b AS merged, pc AS pair_count"
        else s"SELECT ${k + 1}, a, b, a || b, pc"
        s"$head FROM best$k"
      }.mkString("SELECT merge_rank, lhs, rhs, merged, pair_count FROM (\n",
        "\nUNION ALL\n", ") u")),

    "tp_bpe_apply" -> bpeOracle(
      s"""seg AS (
         |  SELECT word, string_agg(sym, ' ' ORDER BY pos) AS seg_text,
         |    count(*) AS n_syms
         |  FROM syms$BpeMerges GROUP BY word),
         |docw AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word,
         |    unnest(range(len(regexp_extract_all(lower(text), '[a-z]+')))) AS widx
         |  FROM documents)
         |SELECT doc_id, count(*) AS n_words, CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens,
         |  md5(string_agg(seg_text, ' ' ORDER BY widx)) AS bpe_md5
         |FROM docw JOIN seg USING (word)
         |GROUP BY doc_id""".stripMargin, extraCtes = true),

    "tp_tokenize_pack" -> bpeOracle(
      s"""seg AS (
         |  SELECT word, count(*) AS n_syms FROM syms$BpeMerges GROUP BY word),
         |docw AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
         |  FROM documents),
         |doctok AS (
         |  SELECT doc_id, doc_id % 8 AS shard,
         |    CAST(sum(n_syms) AS BIGINT) AS n_tokens
         |  FROM docw JOIN seg USING (word) GROUP BY doc_id)
         |SELECT doc_id, shard, n_tokens,
         |  CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) - n_tokens) / 512) AS BIGINT) AS bin
         |FROM doctok""".stripMargin, extraCtes = true),

    "tp_unigram_train" -> unigramOracle(
      s"""SELECT v.piece, v.cost AS cost_micro,
         |  CAST(coalesce(u.usage, 0) AS BIGINT) AS usage
         |FROM cost$UniEmIters v LEFT JOIN usage$UniEmIters u USING (piece)""".stripMargin),

    "tp_unigram_tok" -> unigramOracle(
      s"""docw AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word,
         |    unnest(range(len(regexp_extract_all(lower(text), '[a-z]+')))) AS widx
         |  FROM documents),
         |segt AS (
         |  SELECT word, seg, len(string_split(seg, ' ')) AS n_pieces
         |  FROM fin$UniEmIters)
         |SELECT doc_id, count(*) AS n_words,
         |  CAST(sum(n_pieces) AS BIGINT) AS n_unigram_tokens,
         |  md5(string_agg(seg, ' ' ORDER BY widx)) AS tok_md5
         |FROM docw JOIN segt USING (word)
         |GROUP BY doc_id""".stripMargin, extraCtes = true),

    "tp_wordpiece_train" -> wordPieceOracle(
      (0 until WpMerges).map { k =>
        val head = if (k == 0)
          s"SELECT ${k + 1} AS merge_rank, a AS lhs, b AS rhs, " +
            "a || b AS merged, sm AS score_micro, pc AS pair_count"
        else s"SELECT ${k + 1}, a, b, a || b, sm, pc"
        s"$head FROM wbest$k"
      }.mkString(
        "SELECT merge_rank, lhs, rhs, merged, score_micro, pair_count FROM (\n",
        "\nUNION ALL\n", ") u")),

    "tp_wordpiece_tok" -> wordPieceOracle(
      s"""docw AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word,
         |    unnest(range(len(regexp_extract_all(lower(text), '[a-z]+')))) AS widx
         |  FROM documents)
         |SELECT doc_id, count(*) AS n_words,
         |  CAST(sum(n_pieces) AS BIGINT) AS n_wp_tokens,
         |  md5(string_agg(seg, ' ' ORDER BY widx)) AS wp_md5
         |FROM docw JOIN wfin USING (word)
         |GROUP BY doc_id""".stripMargin,
      withApply = true, extraCtes = true),

    "tp_bpe_train_batched" -> bpeBatchedOracle(),

    "tp_wordpiece_train_batched" -> wordPieceBatchedOracle()
  )

  /** The BPE train loop as GENERATED DuckDB SQL: the word/char base CTEs
    * plus, per merge rank, the identical pair-count → deterministic
    * argmax → greedy merge template [[graft.text.Bpe]] executes — built
    * from the same `BpeMerges` constant, so the engines replay the exact
    * same (bounded) loop and cannot drift. An exhausted iteration (no
    * adjacent pairs anywhere) leaves `best_k` empty, the LEFT JOIN makes
    * the pass a no-op, and the train output simply has fewer rows —
    * mirroring the Scala loop's early stop.
    */
  private[queries] def bpeOracle(finalSelect: String, extraCtes: Boolean = false): String = {
    val base =
      s"""WITH words AS (
         |  SELECT word, count(*) AS cnt FROM (
         |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
         |    FROM documents) t
         |  GROUP BY 1),
         |syms0 AS (
         |  SELECT word, cnt,
         |    unnest(range(length(word))) AS pos,
         |    unnest(string_split(word, '')) AS sym
         |  FROM words)""".stripMargin
    val iters = (0 until BpeMerges).map { k =>
      s"""p$k AS (
         |  SELECT sym AS a, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS b, cnt
         |  FROM syms$k),
         |best$k AS (
         |  SELECT a, b, CAST(sum(cnt) AS BIGINT) AS pc
         |  FROM p$k WHERE b IS NOT NULL
         |  GROUP BY a, b ORDER BY pc DESC, a ASC, b ASC LIMIT 1),
         |m$k AS (
         |  SELECT s.word, s.cnt, s.pos, s.sym,
         |    coalesce(s.sym = b.a AND
         |      lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) = b.b,
         |      false) AS m,
         |    lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) AS nxt
         |  FROM syms$k s LEFT JOIN best$k b ON true),
         |sel$k AS (
         |  SELECT word, cnt, pos, sym, m, nxt,
         |    m AND (pos - (coalesce(max(CASE WHEN NOT m THEN pos END)
         |      OVER (PARTITION BY word ORDER BY pos ROWS UNBOUNDED PRECEDING), -1)
         |      + 1)) % 2 = 0 AS sel
         |  FROM m$k),
         |syms${k + 1} AS (
         |  SELECT word, cnt,
         |    row_number() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos,
         |    CASE WHEN sel THEN sym || nxt ELSE sym END AS sym
         |  FROM (SELECT *, lag(sel) OVER (PARTITION BY word ORDER BY pos) AS prev_sel
         |        FROM sel$k) q
         |  WHERE NOT coalesce(prev_sel, false))""".stripMargin
    }
    val ctes = (base +: iters).mkString(",\n")
    if (extraCtes) s"$ctes,\n$finalSelect" else s"$ctes\n$finalSelect"
  }

  /** The unigram-LM train loop as GENERATED DuckDB SQL, from the same
    * constants the Scala operator uses: seed substring counts →
    * char-complete top-`UniVocabSize` vocabulary → integer micro-nat
    * costs → `UniEmIters` Viterbi-EM rounds → a final E-pass. The
    * Viterbi DP is unrolled over end positions 1..`UniMaxWordLen` (the
    * corpus bound), each step carrying the accumulated cost AND the
    * segmentation string, with ties broken toward the longer piece —
    * exactly [[graft.text.UnigramLm.viterbi]]. Integer costs make the
    * DP sums exact, so the engines cannot drift on float association.
    * Multi-referenced DP CTEs are `MATERIALIZED` to keep DuckDB from
    * inlining the (j − l)-chained lattice exponentially.
    */
  private def unigramOracle(finalSelect: String, extraCtes: Boolean = false): String = {
    val base =
      s"""WITH words AS MATERIALIZED (
         |  SELECT word, count(*) AS cnt FROM (
         |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
         |    FROM documents) t
         |  GROUP BY 1),
         |cand AS MATERIALIZED (
         |  SELECT substr(word, start, l) AS piece, CAST(sum(cnt) AS BIGINT) AS pcnt
         |  FROM (SELECT word, cnt, unnest(range(1, length(word) + 1)) AS start
         |        FROM words) t
         |  CROSS JOIN (SELECT unnest(range(1, $UniMaxPieceLen + 1)) AS l) ls
         |  WHERE start + l - 1 <= length(word)
         |  GROUP BY 1),
         |chars AS MATERIALIZED (
         |  SELECT piece, pcnt FROM cand WHERE length(piece) = 1),
         |multi AS (
         |  SELECT piece, pcnt FROM (
         |    SELECT piece, pcnt,
         |      row_number() OVER (ORDER BY pcnt DESC, piece ASC) AS rn
         |    FROM cand WHERE length(piece) > 1) q
         |  WHERE rn <= $UniVocabSize - (SELECT count(*) FROM chars)),
         |vocab0 AS MATERIALIZED (
         |  SELECT piece, pcnt FROM chars UNION ALL SELECT piece, pcnt FROM multi),
         |cost0 AS MATERIALIZED (
         |  SELECT piece, CAST(round(-ln(CAST(pcnt AS DOUBLE) /
         |    (SELECT CAST(sum(pcnt) AS DOUBLE) FROM vocab0)) * 1000000) AS BIGINT)
         |    AS cost
         |  FROM vocab0)""".stripMargin
    // one E-pass per cost table: DP lattice + final segmentations + usage
    def ePass(e: Int): String = {
      val dp = (1 to UniMaxWordLen).map { j =>
        val branches = (1 to math.min(UniMaxPieceLen, j)).map { l =>
          s"""      SELECT b.word, b.cnt, b.acc + c.cost AS acc,
             |        CASE WHEN b.seg = '' THEN c.piece
             |             ELSE b.seg || ' ' || c.piece END AS seg, $l AS l
             |      FROM b${e}_${j - l} b JOIN cost$e c
             |        ON c.piece = substr(b.word, ${j - l + 1}, $l)
             |      WHERE length(b.word) >= $j""".stripMargin
        }.mkString("\n      UNION ALL\n")
        s"""b${e}_$j AS MATERIALIZED (
           |  SELECT word, cnt, acc, seg FROM (
           |    SELECT word, cnt, acc, seg,
           |      row_number() OVER (PARTITION BY word ORDER BY acc ASC, l DESC) AS rn
           |    FROM (
           |$branches) u) q
           |  WHERE rn = 1)""".stripMargin
      }
      val finBranches = (1 to UniMaxWordLen).map { j =>
        s"  SELECT word, cnt, seg FROM b${e}_$j WHERE length(word) = $j"
      }.mkString("\n  UNION ALL\n")
      s"""b${e}_0 AS (
         |  SELECT word, cnt, CAST(0 AS BIGINT) AS acc, '' AS seg FROM words),
         |${dp.mkString(",\n")},
         |fin$e AS MATERIALIZED (
         |$finBranches),
         |usage$e AS MATERIALIZED (
         |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS usage
         |  FROM (SELECT cnt, unnest(string_split(seg, ' ')) AS piece FROM fin$e) s
         |  GROUP BY 1)""".stripMargin
    }
    // M-step: add-one smoothing over the kept (used or single-char) set
    def mStep(e: Int): String =
      s"""kept$e AS MATERIALIZED (
         |  SELECT v.piece, coalesce(u.usage, 0) AS usage
         |  FROM cost$e v LEFT JOIN usage$e u USING (piece)
         |  WHERE coalesce(u.usage, 0) > 0 OR length(v.piece) = 1),
         |cost${e + 1} AS MATERIALIZED (
         |  SELECT piece, CAST(round(-ln(CAST(usage + 1 AS DOUBLE) /
         |    (SELECT CAST(sum(usage + 1) AS DOUBLE) FROM kept$e)) * 1000000)
         |    AS BIGINT) AS cost
         |  FROM kept$e)""".stripMargin
    val rounds = (0 until UniEmIters).flatMap(e => Seq(ePass(e), mStep(e))) :+
      ePass(UniEmIters)
    val ctes = (base +: rounds).mkString(",\n")
    if (extraCtes) s"$ctes,\n$finalSelect" else s"$ctes\n$finalSelect"
  }

  /** The WordPiece train loop — and, with `withApply`, the greedy
    * longest-match segmentation — as GENERATED DuckDB SQL from the same
    * constants the Scala operator uses. Per merge rank: symbol counts →
    * pair counts → the likelihood argmax (`round((ln pc − ln ca −
    * ln cb)·10⁶)` BIGINT, ties sm DESC → a ASC → b ASC — byte-for-byte
    * [[graft.text.WordPiece.train]]'s sequential path) → the identical
    * greedy-leftmost merge template [[bpeOracle]] uses. Every `wsyms_k`
    * is MATERIALIZED: it is referenced three times per iteration, and
    * un-materialized chained inlining would grow 3^k.
    *
    * The apply chain replays greedy longest-match WITHOUT length
    * unrolling: step j joins the in-flight (word, pos, seg) row against
    * the whole vocabulary on `substr(word, pos, length(piece)) = piece`
    * and keeps the longest match (`row_number` by length DESC — ties
    * impossible, equal-length matches at one position are the same
    * string). Each step consumes ≥ 1 char, so `UniMaxWordLen` steps
    * finish every corpus word (the word-length bound the unigram DP
    * already relies on; spec-asserted). On-corpus words can never hit
    * the `[UNK]` path — every single character is in the vocabulary by
    * construction — so the oracle does not model it (the kernel spec
    * covers it on hostile input).
    */
  private def wordPieceOracle(finalSelect: String, withApply: Boolean = false,
                              extraCtes: Boolean = false): String = {
    val base =
      s"""WITH words AS MATERIALIZED (
         |  SELECT word, count(*) AS cnt FROM (
         |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
         |    FROM documents) t
         |  GROUP BY 1),
         |wsyms0 AS MATERIALIZED (
         |  SELECT word, cnt,
         |    unnest(range(length(word))) AS pos,
         |    unnest(string_split(word, '')) AS sym
         |  FROM words)""".stripMargin
    val iters = (0 until WpMerges).map { k =>
      s"""wsc$k AS MATERIALIZED (
         |  SELECT sym, CAST(sum(cnt) AS BIGINT) AS c FROM wsyms$k GROUP BY 1),
         |wpc$k AS (
         |  SELECT a, b, CAST(sum(cnt) AS BIGINT) AS pc FROM (
         |    SELECT sym AS a, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS b,
         |      cnt
         |    FROM wsyms$k) p
         |  WHERE b IS NOT NULL GROUP BY a, b),
         |wbest$k AS MATERIALIZED (
         |  SELECT a, b, pc,
         |    CAST(round((ln(CAST(pc AS DOUBLE)) - ln(CAST(ca.c AS DOUBLE))
         |      - ln(CAST(cb.c AS DOUBLE))) * 1000000) AS BIGINT) AS sm
         |  FROM wpc$k JOIN wsc$k ca ON ca.sym = wpc$k.a
         |    JOIN wsc$k cb ON cb.sym = wpc$k.b
         |  ORDER BY sm DESC, a ASC, b ASC LIMIT 1),
         |wm$k AS (
         |  SELECT s.word, s.cnt, s.pos, s.sym,
         |    coalesce(s.sym = b.a AND
         |      lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) = b.b,
         |      false) AS m,
         |    lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) AS nxt
         |  FROM wsyms$k s LEFT JOIN wbest$k b ON true),
         |wsel$k AS (
         |  SELECT word, cnt, pos, sym, m, nxt,
         |    m AND (pos - (coalesce(max(CASE WHEN NOT m THEN pos END)
         |      OVER (PARTITION BY word ORDER BY pos ROWS UNBOUNDED PRECEDING), -1)
         |      + 1)) % 2 = 0 AS sel
         |  FROM wm$k),
         |wsyms${k + 1} AS MATERIALIZED (
         |  SELECT word, cnt,
         |    row_number() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos,
         |    CASE WHEN sel THEN sym || nxt ELSE sym END AS sym
         |  FROM (SELECT *, lag(sel) OVER (PARTITION BY word ORDER BY pos) AS prev_sel
         |        FROM wsel$k) q
         |  WHERE NOT coalesce(prev_sel, false))""".stripMargin
    }
    val applyCtes = if (!withApply) Seq.empty else {
      val mergedUnion = (0 until WpMerges)
        .map(k => s"  SELECT a || b AS piece FROM wbest$k").mkString("\n  UNION\n")
      val vocab =
        s"""wvocab AS MATERIALIZED (
           |  SELECT DISTINCT sym AS piece FROM wsyms0
           |  UNION
           |$mergedUnion)""".stripMargin
      val g0 = "wg0 AS (SELECT word, 1 AS pos, '' AS seg FROM words)"
      val steps = (1 to UniMaxWordLen).map { j =>
        s"""wg$j AS MATERIALIZED (
           |  SELECT word, pos, seg FROM (
           |    SELECT g.word, g.pos + length(v.piece) AS pos,
           |      CASE WHEN g.seg = '' THEN v.piece
           |           ELSE g.seg || ' ##' || v.piece END AS seg,
           |      row_number() OVER (PARTITION BY g.word
           |        ORDER BY length(v.piece) DESC) AS rn
           |    FROM wg${j - 1} g JOIN wvocab v
           |      ON g.pos <= length(g.word)
           |     AND substr(g.word, g.pos, length(v.piece)) = v.piece) q
           |  WHERE rn = 1
           |  UNION ALL
           |  SELECT word, pos, seg FROM wg${j - 1} WHERE pos > length(word))""".stripMargin
      }
      val fin =
        s"""wfin AS MATERIALIZED (
           |  SELECT word, seg, CAST(len(string_split(seg, ' ')) AS BIGINT)
           |    AS n_pieces
           |  FROM wg$UniMaxWordLen WHERE pos > length(word))""".stripMargin
      (Seq(vocab, g0) ++ steps :+ fin)
    }
    val ctes = ((base +: iters) ++ applyCtes).mkString(",\n")
    if (extraCtes) s"$ctes,\n$finalSelect" else s"$ctes\n$finalSelect"
  }

  /** The BATCHED BPE train loop ([[graft.text.Bpe.train]],
    * `batchSize = BpeBatchB`) as GENERATED DuckDB SQL. Per pass k:
    *
    *  - `bcand\$k`: the full pair-count table ranked by
    *    (pc DESC, lhs ASC, rhs ASC) — the trainer's candidate order.
    *  - `bwant\$k`: this pass's batch cap,
    *    least(B, numMerges − accepted-so-far) — the remaining-rank cap
    *    the Scala loop applies (`math.min(batchSize, numMerges − rank)`).
    *  - `bscan\$k`: the greedy symbol-disjoint scan as a RECURSIVE CTE
    *    over candidate ranks, carrying the used-symbol list and the
    *    accepted batch as accumulators. A candidate is accepted iff
    *    lhs, rhs AND the merged symbol lhs||rhs are all unused (the
    *    non-interaction reservation, `Bpe.scala` trainBatched); the
    *    scan stops at the batch cap or after greatest(6·want, 8)
    *    candidates — the trainer's oversampled collect window.
    *  - `bbatch\$k`: the final accumulator row unnested to
    *    (a, b, pc, bi).
    *  - `want` sub-passes `bsyms\$k_i → bsyms\$k_{i+1}` each applying
    *    batch member bi = i+1 (absent member → LEFT JOIN no-op) with the
    *    sequential greedy-leftmost template. Under symbol-disjointness
    *    rank-order application ≡ the simultaneous pass
    *    ([[graft.functions.MergeKernels]] scaladoc), so per-rank
    *    sub-passes replay `MergeBatchApply` exactly.
    *
    * `BpeMerges` passes are unrolled (worst case: every batch starves to
    * one accepted pair); fully-accepted batches leave later passes with
    * want = 0 → empty batches → no-op sub-passes, mirroring the Scala
    * loop's early exit. Ranks are assigned in (pass, within-batch index)
    * order — the Scala `rank + 1 + i` numbering.
    */
  private[queries] def bpeBatchedOracle(): String = {
    val B = BpeBatchB
    val base =
      s"""WITH RECURSIVE words AS MATERIALIZED (
         |  SELECT word, count(*) AS cnt FROM (
         |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
         |    FROM documents) t
         |  GROUP BY 1),
         |bsyms0_0 AS MATERIALIZED (
         |  SELECT word, cnt,
         |    unnest(range(length(word))) AS pos,
         |    unnest(string_split(word, '')) AS sym
         |  FROM words),
         |bacc0 AS (
         |  SELECT CAST(NULL AS VARCHAR) AS a, CAST(NULL AS VARCHAR) AS b,
         |    CAST(NULL AS BIGINT) AS pc, CAST(NULL AS INTEGER) AS bi,
         |    CAST(NULL AS INTEGER) AS pass WHERE false)""".stripMargin
    val passes = (0 until BpeMerges).flatMap { k =>
      val select =
        s"""bcand$k AS (
           |  SELECT a, b, pc,
           |    CAST(row_number() OVER (ORDER BY pc DESC, a ASC, b ASC) AS INTEGER) AS rk
           |  FROM (
           |    SELECT a, b, CAST(sum(cnt) AS BIGINT) AS pc FROM (
           |      SELECT sym AS a, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS b, cnt
           |      FROM bsyms${k}_0) p
           |    WHERE b IS NOT NULL GROUP BY a, b) g),
           |bwant$k AS (
           |  SELECT CAST(least($B, $BpeMerges - (SELECT count(*) FROM bacc$k)) AS INTEGER) AS want),
           |bscan$k AS (
           |  SELECT 0 AS i, CAST([] AS VARCHAR[]) AS used,
           |    CAST([] AS STRUCT(a VARCHAR, b VARCHAR, pc BIGINT, bi INTEGER)[]) AS acc
           |  UNION ALL
           |  SELECT i + 1,
           |    CASE WHEN ok THEN used || [a, b, a || b] ELSE used END,
           |    CASE WHEN ok THEN list_append(acc,
           |      {'a': a, 'b': b, 'pc': pc, 'bi': CAST(len(acc) + 1 AS INTEGER)})
           |      ELSE acc END
           |  FROM (
           |    SELECT s.i, s.used, s.acc, c.a, c.b, c.pc, w.want,
           |      len(s.acc) < w.want AND NOT list_contains(s.used, c.a)
           |        AND NOT list_contains(s.used, c.b)
           |        AND NOT list_contains(s.used, c.a || c.b) AS ok
           |    FROM bscan$k s JOIN bcand$k c ON c.rk = s.i + 1
           |    CROSS JOIN bwant$k w
           |    WHERE s.i < greatest(w.want * 6, 8) AND len(s.acc) < w.want) q),
           |bbatch$k AS MATERIALIZED (
           |  SELECT m.a AS a, m.b AS b, m.pc AS pc, m.bi AS bi
           |  FROM (SELECT unnest(acc) AS m
           |        FROM (SELECT acc FROM bscan$k ORDER BY i DESC LIMIT 1))),
           |bacc${k + 1} AS (
           |  SELECT * FROM bacc$k
           |  UNION ALL SELECT a, b, pc, bi, $k AS pass FROM bbatch$k)""".stripMargin
      val subPasses = (0 until B).map { i =>
        mergeSubPass(s"bsyms${k}_$i", s"bsyms${k}_${i + 1}",
          s"SELECT a, b FROM bbatch$k WHERE bi = ${i + 1}")
      }
      val carry =
        s"""bsyms${k + 1}_0 AS MATERIALIZED (
           |  SELECT * FROM bsyms${k}_$B)""".stripMargin
      (select +: subPasses) :+ carry
    }
    val fin =
      s"""SELECT CAST(row_number() OVER (ORDER BY pass, bi) AS INTEGER) AS merge_rank,
         |  a AS lhs, b AS rhs, a || b AS merged, pc AS pair_count
         |FROM bacc$BpeMerges""".stripMargin
    (base +: passes).mkString(",\n") + "\n" + fin
  }

  /** The BATCHED WordPiece train loop ([[graft.text.WordPiece.train]],
    * `batchSize = BpeBatchB`) as GENERATED DuckDB SQL. Per pass k: the
    * scored pair table (likelihood micro-nats, the sequential oracle's
    * expression) ranked by (score DESC, lhs ASC, rhs ASC), the top
    * least(B, numMerges − accepted) taken WITHOUT disjointness — the
    * array-representation trainer fills every batch — then `want`
    * sequential merge sub-passes applying the members in rank order,
    * which IS [[graft.functions.MergeKernels.applyBatch]]'s semantics
    * (each rank a full greedy-leftmost pass over the current table;
    * earlier members may consume or create later members' occurrences).
    * Recorded score/count are the PRE-pass values, as the trainer
    * records them. `WpMerges` passes unrolled; want = 0 passes no-op.
    */
  private[queries] def wordPieceBatchedOracle(): String = {
    val B = BpeBatchB
    val base =
      s"""WITH words AS MATERIALIZED (
         |  SELECT word, count(*) AS cnt FROM (
         |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
         |    FROM documents) t
         |  GROUP BY 1),
         |wbsyms0_0 AS MATERIALIZED (
         |  SELECT word, cnt,
         |    unnest(range(length(word))) AS pos,
         |    unnest(string_split(word, '')) AS sym
         |  FROM words),
         |wbacc0 AS (
         |  SELECT CAST(NULL AS VARCHAR) AS a, CAST(NULL AS VARCHAR) AS b,
         |    CAST(NULL AS BIGINT) AS pc, CAST(NULL AS BIGINT) AS sm,
         |    CAST(NULL AS INTEGER) AS bi, CAST(NULL AS INTEGER) AS pass WHERE false)""".stripMargin
    val passes = (0 until WpMerges).flatMap { k =>
      val select =
        s"""wbsc$k AS MATERIALIZED (
           |  SELECT sym, CAST(sum(cnt) AS BIGINT) AS c FROM wbsyms${k}_0 GROUP BY 1),
           |wbwant$k AS (
           |  SELECT CAST(least($B, $WpMerges - (SELECT count(*) FROM wbacc$k)) AS INTEGER) AS want),
           |wbbatch$k AS MATERIALIZED (
           |  SELECT a, b, pc, sm, rn AS bi FROM (
           |    SELECT a, b, pc,
           |      CAST(round((ln(CAST(pc AS DOUBLE)) - ln(CAST(ca.c AS DOUBLE))
           |        - ln(CAST(cb.c AS DOUBLE))) * 1000000) AS BIGINT) AS sm,
           |      CAST(row_number() OVER (ORDER BY
           |        round((ln(CAST(pc AS DOUBLE)) - ln(CAST(ca.c AS DOUBLE))
           |          - ln(CAST(cb.c AS DOUBLE))) * 1000000) DESC, a ASC, b ASC)
           |        AS INTEGER) AS rn
           |    FROM (
           |      SELECT a, b, CAST(sum(cnt) AS BIGINT) AS pc FROM (
           |        SELECT sym AS a, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS b,
           |          cnt
           |        FROM wbsyms${k}_0) p
           |      WHERE b IS NOT NULL GROUP BY a, b) g
           |    JOIN wbsc$k ca ON ca.sym = g.a
           |    JOIN wbsc$k cb ON cb.sym = g.b) r
           |  CROSS JOIN wbwant$k w
           |  WHERE rn <= w.want),
           |wbacc${k + 1} AS (
           |  SELECT * FROM wbacc$k
           |  UNION ALL SELECT a, b, pc, sm, bi, $k AS pass FROM wbbatch$k)""".stripMargin
      val subPasses = (0 until B).map { i =>
        mergeSubPass(s"wbsyms${k}_$i", s"wbsyms${k}_${i + 1}",
          s"SELECT a, b FROM wbbatch$k WHERE bi = ${i + 1}")
      }
      val carry =
        s"""wbsyms${k + 1}_0 AS MATERIALIZED (
           |  SELECT * FROM wbsyms${k}_$B)""".stripMargin
      (select +: subPasses) :+ carry
    }
    val fin =
      s"""SELECT CAST(row_number() OVER (ORDER BY pass, bi) AS INTEGER) AS merge_rank,
         |  a AS lhs, b AS rhs, a || b AS merged, sm AS score_micro, pc AS pair_count
         |FROM wbacc$WpMerges""".stripMargin
    (base +: passes).mkString(",\n") + "\n" + fin
  }

  /** One greedy-leftmost merge sub-pass `from → to` applying the single
    * (a, b) pair produced by `pairSql` (empty → LEFT JOIN no-op) — the
    * shared per-rank template of [[bpeOracle]]/[[wordPieceOracle]],
    * parameterized for the batched oracles' sub-pass chains. The `to`
    * CTE is MATERIALIZED: it is referenced by the next sub-pass's three
    * window reads, and un-materialized chained inlining grows
    * exponentially in pass count.
    */
  private def mergeSubPass(from: String, to: String, pairSql: String): String =
    s"""${to}_m AS (
       |  SELECT s.word, s.cnt, s.pos, s.sym,
       |    coalesce(s.sym = b.a AND
       |      lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) = b.b,
       |      false) AS m,
       |    lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) AS nxt
       |  FROM $from s
       |  LEFT JOIN ($pairSql) b ON true),
       |${to}_sel AS (
       |  SELECT word, cnt, pos, sym, m, nxt,
       |    m AND (pos - (coalesce(max(CASE WHEN NOT m THEN pos END)
       |      OVER (PARTITION BY word ORDER BY pos ROWS UNBOUNDED PRECEDING), -1)
       |      + 1)) % 2 = 0 AS sel
       |  FROM ${to}_m),
       |$to AS MATERIALIZED (
       |  SELECT word, cnt,
       |    row_number() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos,
       |    CASE WHEN sel THEN sym || nxt ELSE sym END AS sym
       |  FROM (SELECT *, lag(sel) OVER (PARTITION BY word ORDER BY pos) AS prev_sel
       |        FROM ${to}_sel) q
       |  WHERE NOT coalesce(prev_sel, false))""".stripMargin
}
