package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.dedup.Dedup
import graft.similarity.{Opq, Pq, Retrieval, Similarity, Sq}
import graft.text.{TextAnalysis, TextOps}
import graft.util.SessionArtifacts
import graft.util.SessionArtifacts.Kind

/** Declared queries for the training-data-pipeline operators: dedup (exact,
  * shingle-Jaccard, MinHash+LSH, SimHash), similarity search (brute-force
  * cosine top-k, near-dup pairs), and text analysis (lang-ID, quality,
  * token counts, fingerprints). Each has a DuckDB oracle built from the
  * same deterministic primitives (md5-hex minhashes, integer bit
  * arithmetic), so even the hash-based operators are hash-compared — not
  * just row-counted.
  */
object PipelineOps {

  type Q = (SparkSession, String) => DataFrame

  private val stopwords = graft.text.TextAnalysis.MarkerStopwords

  /** MMR re-rank parameters for the declared `sim_mmr_rerank`: pool the
    * top-25 candidates by (rounded) relevance per query, select 8 with
    * λ = 0.7. Exposed so the soak measures the shipped operator.
    */
  val MmrPoolK = 25
  val MmrK = 8
  val MmrLambda = 0.7

  /** Rounded-cosine threshold for semantic decontamination — shared by
    * the declared query and its oracle SQL (one constant, no drift).
    */
  val SemDecontThreshold = 0.4

  /** Shared materialization for the dedup chain: the LSH candidate pairs
    * and their connected components each feed several declared queries
    * (`dd_minhash_lsh`, `dd_components`, `dd_apply`), and recomputing the
    * shingle→signature→band pipeline per query triples its cost. The
    * materialized artifacts are tiny by construction (candidate pairs and
    * per-doc labels, not the corpus), so they're eagerly localCheckpointed
    * once per (session, dataset) — the same build-once/serve-many shape a
    * production dedup pipeline has (signatures are an *index*, not a
    * per-query intermediate).
    */
  private val Shared = new Kind[DataFrame]("shared-frame", graft.util.Pins.release(_))
  private val Ivf = new Kind[Similarity.IvfIndex]("persisted-ivf")
  private val RefIdx = new Kind[Similarity.IvfIndex]("ann-ref-index",
    idx => graft.util.Pins.release(idx.cells))
  private val PqCb = new Kind[Pq.PqCodebook]("pq-codebook")
  private val OpqM = new Kind[Opq.OpqModel]("opq-model")

  private[queries] def memoized(s: SparkSession, d: String, key: String)
                      (build: => DataFrame): DataFrame =
    SessionArtifacts.get(s, Shared, (d, key))(build)

  /** Drop every build-once artifact bound to `s` — shared frames,
    * indexes, quantizer and tokenizer models, resolved relations, staged
    * files — releasing their pins, so the next call rebuilds: the
    * explicit hook a multi-session service calls before stopping a
    * session (see the eviction caveat on [[SessionArtifacts]]).
    */
  def releaseMemo(s: SparkSession): Unit = SessionArtifacts.release(s)

  /** Build-once bucketed copy of a test table (hash-bucketed + sorted on
    * the join key): subsequent equi-joins between co-bucketed tables are
    * exchange-free — the write-time layout investment a 100 TB fact table
    * amortizes over every downstream join. The in-memory catalog forgets
    * tables between JVMs but their warehouse directories persist, so the
    * builder drops both before re-creating.
    */
  private def bucketedTable(s: SparkSession, d: String, src: String,
                            key: String, cols: Seq[String],
                            buckets: Int): DataFrame =
    memoized(s, d, s"bkt_$src") {
      // md5 of the dataset id, not hashCode/sanitization: two distinct
      // dataset dirs must never map to one table name (a collision would
      // silently cross-wire datasets sharing a warehouse)
      val tbl = s"graft_bkt_${src}_${datasetTag(d)}"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      // stale table dirs from a prior JVM live under the SESSION'S
      // configured warehouse (not necessarily ./spark-warehouse) and make
      // saveAsTable fail with LOCATION_ALREADY_EXISTS
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), tbl)
      loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
      Tables.load(s, d, src).select(cols.map(col): _*)
        .write.mode("overwrite").bucketBy(buckets, key).sortBy(key)
        .saveAsTable(tbl)
      s.table(tbl)
    }

  /** Build-once persisted IVF index over `embeddings`: fit + cell
    * assignment happen once per (session, dataset), the cells table is
    * written `partitionBy("cell")` under the local warehouse, and queries
    * run against the read-back partitioned form — so the probe join can
    * prune cell partitions, and repeated query batches never refit.
    */
  // under the SESSION'S configured warehouse, like bucketedTable — a
  // hardcoded relative "spark-warehouse/" diverges from where the
  // session actually writes when warehouse.dir is overridden
  private def ivfIndexPath(s: SparkSession, d: String): String =
    // collision-free dataset tag (see bucketedTable): character
    // sanitization would map "sf0.1 a" and "sf0.1-a" to one directory,
    // letting the second build overwrite the first's index while its
    // memoized handle lazily re-reads the path
    new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"),
      s"graft_ivf_${datasetTag(d)}").toString

  /** Filesystem/catalog-safe, collision-free tag for a dataset id. */
  private def datasetTag(d: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
  }

  def persistedIvfIndex(s: SparkSession, d: String): Similarity.IvfIndex =
    SessionArtifacts.get(s, Ivf, d) {
        val path = ivfIndexPath(s, d)
        Similarity.writeIvfIndex(
          Similarity.buildIvfIndex(Tables.embeddings(s, d), "vec_id", "embedding",
            nlist = 16, seed = 42L),
          path)
        Similarity.readIvfIndex(s, path)
      }

  /** Build-once IVF index over the REFERENCE half of the embeddings
    * (even vec_ids) for the cross-corpus ANN join — a genuinely separate
    * index from [[persistedIvfIndex]] (different corpus, different
    * quantizer), cells checkpointed so repeated probes don't re-run the
    * k-means transform.
    */
  def annJoinRefIndex(s: SparkSession, d: String): Similarity.IvfIndex =
    SessionArtifacts.get(s, RefIdx, d) {
        val idx = Similarity.buildIvfIndex(
          Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(2)) === 0),
          "vec_id", "embedding", nlist = 8, seed = 42L)
        idx.copy(cells = idx.cells.localCheckpoint(true))
      }

  /** Build-once EXACT top-5 cosine neighbors of the `vec_id % 100 == 0`
    * query set, served through the persisted IVF index at nprobe == nlist
    * (bit-identical to brute force, but a hash join on `cell` rather than
    * a CartesianProduct). `sim_topk` declares it; `sim_ann_ivf` reuses it
    * as the ground truth of its recall check.
    */
  private def exactIvfTopK(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "ivf_exact_topk") {
      val idx = persistedIvfIndex(s, d)
      // nprobe = nlist (derived, not hardcoded): probing every cell is
      // what makes this the EXACT result
      Similarity.queryIvf(idx,
        Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(100)) === 0),
        "vec_id", "embedding", k = 5, nprobe = idx.centroids.length)
        .localCheckpoint(true)
    }

  /** Build-once PQ codebook + encoded corpus over `embeddings` (m=8
    * subspaces × 16 codes, seeded — deterministic): the m-bytes-per-
    * vector form a 100 TB corpus stores. The codebook is k-means driver
    * state (dim doubles per code row); the encoded table is
    * corpus-sized but 32x slimmer than the raw floats.
    */
  def pqCodebook(s: SparkSession, d: String): Pq.PqCodebook =
    SessionArtifacts.get(s, PqCb, d)(
      Pq.buildCodebook(Tables.embeddings(s, d), "vec_id", "embedding",
        m = 8, ksub = 16, dim = 64, iters = 5, seed = 42L))

  def pqEncoded(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "pq_encoded") {
      Pq.encode(Tables.embeddings(s, d), "vec_id", "embedding", pqCodebook(s, d))
        .localCheckpoint(true)
    }

  /** Build-once OPQ model (rotation + rotated-space codebook) and
    * encoded corpus — same shape discipline as the plain-PQ pair; the
    * rotation adds dim² driver doubles and a codegen map, nothing
    * corpus-sized.
    */
  def opqModel(s: SparkSession, d: String): Opq.OpqModel =
    SessionArtifacts.get(s, OpqM, d)(
      Opq.train(Tables.embeddings(s, d), "vec_id", "embedding",
        m = 8, ksub = 16, dim = 64, iters = 5, seed = 42L))

  def opqEncoded(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "opq_encoded") {
      Opq.encode(Tables.embeddings(s, d), "vec_id", "embedding", opqModel(s, d))
        .localCheckpoint(true)
    }

  /** Build-once SQ8-encoded corpus (per-vector scale + packed int8
    * code): the 4×-compressed, codebook-free storage form. The encode
    * is a pure map; memoizing mirrors `pq_encoded` so both quantizers
    * serve repeated probes from one materialization.
    */
  def sq8Encoded(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "sq8_encoded") {
      Sq.encode(Tables.embeddings(s, d), "vec_id", "embedding")
        .localCheckpoint(true)
    }

  /** The full MMR re-rank pipeline — ONE definition shared by the
    * declared `sim_mmr_rerank` (whose plan PlanSpec pins) and the soak
    * shape that measures it, so the pinned path and the timed path can
    * never silently diverge. scoreIvf (not queryIvf): no rank window —
    * the only contraction is the bounded-heap pool, cut on the ROUNDED
    * relevance (engine-portable); the sequential greedy then runs in
    * the `mmr_select` expression on ONE row per query.
    */
  def mmrRerank(idx: Similarity.IvfIndex, queries: DataFrame,
                corpus: DataFrame, nprobe: Int): DataFrame =
    Similarity.scoreIvf(idx, queries, "vec_id", "embedding", nprobe)
      .withColumn("rel", round(col("cosine_sim"), 6))
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nvec")), "neighbor_id")
      .groupBy("query_id")
      .agg(graft.functions.TopKBy.topKBy(col("rel"), col("neighbor_id"),
        col("nvec"), MmrPoolK).as("pool"))
      .select(col("query_id"),
        posexplode(graft.functions.MmrSelect.mmrSelect(
          col("pool"), MmrK, MmrLambda)))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.tie").as("neighbor_id"), col("col.mmr").as("mmr"))

  /** The shared ANN accuracy contract (`sim_ann_*`, `sim_knn_graph`):
    * per query, the APPROXIMATE result's row count — hash-checked
    * against the oracle's full-k claim; counting the exact side here
    * would let a shrunken approximate result (a regressed probe
    * returning 2 rows) pass as long as those rows matched — plus the
    * recall-floor flag (>= `floor` of the exact top-k recovered).
    */
  private def recallContract(exact: DataFrame, approx: DataFrame,
                             countName: String, floor: Int): DataFrame = {
    val apx = approx.select(col("query_id"), col("neighbor_id"))
    val apxN = apx.groupBy("query_id")
      .agg(count(lit(1)).cast("int").as(countName))
    exact
      .join(apx.withColumn("__m", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("__m"), lit(0))).as("__matched"))
      .join(apxN, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col(countName), lit(0)).cast("int").as(countName),
        (col("__matched") >= floor).cast("int").as("recall_ok"))
  }

  private def recallVsExact(s: SparkSession, d: String,
                            approx: DataFrame): DataFrame =
    recallContract(exactIvfTopK(s, d), approx, "n_results", floor = 2)

  /** The SRP near-dup pair pipeline `sim_near_dup` serves, lazy: the
    * body [[srpPairs]] checkpoints and the plan `graft.Plans` audits.
    */
  private[graft] def srpPairsPlan(s: SparkSession, d: String): DataFrame =
    Similarity.srpNearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
      threshold = 0.4, numPlanes = 4, dim = 64)

  /** Build-once SRP near-dup pair table — `sim_near_dup` declares it and
    * `sim_dedup_apply`'s closure consumes the identical set; memoizing
    * stops the bucket + in-bucket-verify pipeline from running twice per
    * harness pass (the same rationale as the shingle/signature tables).
    */
  private def srpPairs(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "srp_pairs")(srpPairsPlan(s, d).localCheckpoint(true))

  /** Build-once EXACT all-points KNN graph — [[Similarity.knnGraph]] at
    * `nprobe == nlist` (every pair scored once via the cell join, so the
    * result equals brute force) — the ground truth for `sim_knn_graph`'s
    * per-point recall contract.
    */
  private def exactKnnGraph(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "ivf_exact_knn_graph") {
      val idx = persistedIvfIndex(s, d)
      Similarity.knnGraph(idx, Tables.embeddings(s, d), "vec_id", "embedding",
        k = 5, nprobe = idx.centroids.length)
        .localCheckpoint(true)
    }

  /** Shingle inverted-index table (distinct (doc, 3-gram) rows) over
    * `documents`, built once per dataset — the last shared dedup
    * materialization to get the index treatment the MinHash/SimHash
    * signature tables already have; `dd_shingles` and
    * `dd_jaccard_pairs` both serve from it.
    */
  def shingleTable(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "shingles") {
      Dedup.shingles(Tables.documents(s, d), "doc_id", "text", 3)
        .localCheckpoint(true)
    }


  /** MinHash signature table (8 hex hashes per doc) over `documents`,
    * built once per dataset — the index both `dd_minhash_sig` and the LSH
    * candidate join serve from.
    */
  def minhashSigs(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "minhash_sigs") {
      Dedup.minhashSignatures(Tables.documents(s, d), "doc_id", "text", 3, 8)
        .localCheckpoint(true)
    }

  /** MinHash signatures over the MULTILINGUAL fixture (the same corpus
    * with OracleFold's non-ASCII suffixes appended) — the group-split
    * closure runs on these so the whole shingle→md5→band chain is
    * oracle-certified off-ASCII, not just on the ASCII testdata.
    */
  private def minhashSigsMl(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "minhash_sigs_ml") {
      Dedup.minhashSignatures(
        OracleFold.augmentDocs(Tables.documents(s, d)), "doc_id", "text", 3, 8)
        .localCheckpoint(true)
    }

  /** [[dupComponents]] over the multilingual fixture — tp_group_split's
    * closure (same UNCAPPED-pair contract, multilingual input).
    */
  private def dupComponentsMl(s: SparkSession, d: String): DataFrame = {
    val sigs = minhashSigsMl(s, d) // built outside the memo update (no nesting)
    memoized(s, d, "dup_components_ml") {
      Dedup.lshComponentsFromSignatures(
        OracleFold.augmentDocs(Tables.documents(s, d)), "doc_id", sigs, 4, 2)
        .localCheckpoint(true)
    }
  }

  /** SimHash fingerprint table over `documents`, built once per dataset —
    * serves both `dd_simhash` and the banded Hamming pair join.
    */
  def simhashSigs(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "simhash_sigs") {
      Dedup.simhash(Tables.documents(s, d), "doc_id", "text")
        .localCheckpoint(true)
    }

  /** 128-bit SimHash fingerprint table (full md5 width) — the production
    * width for ≥1e5-signature corpora: at the same 4 bands the band keys
    * widen from 16 to 32 bits, shrinking the pair join's birthday term
    * by 2¹⁶ (the text-side counterpart of the 128-bit perceptual
    * fingerprints).
    */
  def simhashSigs128(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "simhash_sigs128") {
      Dedup.simhash(Tables.documents(s, d), "doc_id", "text", bits = 128)
        .localCheckpoint(true)
    }

  /** MinHash-LSH candidate pairs over `documents`, built once per dataset. */
  def lshCandidates(s: SparkSession, d: String): DataFrame = {
    val sigs = minhashSigs(s, d) // built outside the memo update (no nesting)
    memoized(s, d, "lsh_candidates") {
      Dedup.lshCandidatesFromSignatures(sigs, "doc_id", 4, 2)
        .localCheckpoint(true)
    }
  }

  /** Connected components over the shared LSH signatures, built once —
    * via signature contraction (identical-signature docs collapse to one
    * representative before the closure), so cost scales with content
    * diversity, not duplicate count. Labels are identical to the raw
    * pair-graph closure.
    */
  def dupComponents(s: SparkSession, d: String): DataFrame = {
    val sigs = minhashSigs(s, d) // built outside the memo update (no nesting)
    memoized(s, d, "dup_components") {
      Dedup.lshComponentsFromSignatures(Tables.documents(s, d), "doc_id", sigs, 4, 2)
        .localCheckpoint(true)
    }
  }

  /** Positional 8-gram tables for the % 10 corpus/benchmark split,
    * built once per dataset — the decontamination family's shared input
    * (span finding + the contamination report both read them), the same
    * index treatment as the shingle/signature tables.
    */
  private def corpusGrams8(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "corpus_grams8") {
      Dedup.positionalGramTable(
        Tables.documents(s, d).filter(pmod(col("doc_id"), lit(10)) =!= 0),
        "doc_id", "text", k = 8).localCheckpoint(true)
    }

  private def benchGrams8(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "bench_grams8") {
      Dedup.positionalGramTable(
        Tables.documents(s, d).filter(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id", "text", k = 8).localCheckpoint(true)
    }

  /** Contaminated-span findings (corpus = doc_id % 10 != 0 vs the % 10
    * benchmark split, 8-token grams), built once per dataset: leak
    * findings are an ARTIFACT — a pipeline locates them once, then both
    * reports them (`tp_decontaminate_spans`) and applies the cut
    * (`tp_cut_spans`) from the same table, exactly like the dedup
    * signature index. The double gram pass per consuming query is gone.
    */
  def contamSpans(s: SparkSession, d: String): DataFrame = {
    val (cg, bg) = (corpusGrams8(s, d), benchGrams8(s, d)) // outside the memo update
    memoized(s, d, "contam_spans") {
      Dedup.contaminatedSpansFromGrams(cg, bg, "doc_id", k = 8)
        .localCheckpoint(true)
    }
  }

  /** The declared near-dup scorers, each call written once. Registered
    * in [[queries]] as served (intermediates checkpointed and released,
    * see `Dedup.servedPairs`); with `lazyPlan` the same scorer body runs
    * with nothing materialized — the plan [[graft.Plans]] dumps.
    */
  private[graft] def nearDupQueries(lazyPlan: Boolean): Map[String, Q] = {
    def pairs(body: (DataFrame => DataFrame) => DataFrame): DataFrame =
      if (lazyPlan) body(identity) else Dedup.servedPairs(body)
    Map(
      // Hot-shingle cap (maxDf=50) in the declared query: above the observed
      // max df at test scale (25 at sf0.1), so results are identical here,
      // while the plan carries the guard that bounds the inverted-index
      // join's worst key (Σdf² blowup on boilerplate shingles) at 100 TB.
      // Serves from the build-once shingle index like the signature tables.
      "dd_jaccard_pairs" -> ((s, d) => pairs(Dedup.jaccardPairsPlan(
        shingleTable(s, d), "doc_id", threshold = 0.5, maxDf = Some(50L), _))),

      // Asymmetric CONTAINMENT pairs (|A∩B| / min size): fires when a
      // small doc is embedded inside a much larger one — |A∩B| ≈ |A| with
      // |A| << |B| keeps Jaccard tiny while the smaller doc is fully
      // contained. Same capped inverted-index machinery off the same
      // build-once shingle table; the threshold is lower-signal than 1.0
      // so partial quoting still surfaces.
      "dd_containment_pairs" -> ((s, d) => pairs(Dedup.containmentPairsPlan(
        shingleTable(s, d), "doc_id", threshold = 0.8, maxDf = Some(50L), _))),

      // TF-IDF weighted cosine all-pairs (the lexical scorer a notch finer
      // than Jaccard: rare shared terms count for more). Same capped
      // inverted-index posture as dd_jaccard_pairs — term-key equi-join,
      // partial-aggregated dot products, symmetric maxDf cap — never
      // all-pairs.
      "dd_cosine_pairs" -> ((s, d) => pairs(Dedup.cosinePairsPlan(
        Tables.documents(s, d), "doc_id", "text", threshold = 0.3,
        maxDf = Some(50L), _))),

      // Exact-substring repeated spans (Lee et al. ACL'22 "ExactSubstr",
      // re-expressed on shuffle-partitioned positional k-gram hashes): the
      // maximal cross-document 8-token spans a training pipeline would cut.
      // k=8 at test scale keeps the fixture corpus's templated sentences
      // detectable; nothing in the plan is quadratic. Served, the gram
      // table is checkpointed (Dedup.repeatedSpans).
      "dd_repeated_spans" -> ((s, d) => Dedup.repeatedSpansPlan(
        Tables.documents(s, d), "doc_id", "text", k = 8,
        if (lazyPlan) identity else _.localCheckpoint(true))))
  }

  val queries: Map[String, Q] = Map[String, Q](
    "dd_exact" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d), "doc_id", "text")),

    // Content-defined chunking dedup stats: per doc, total CDC chunks
    // and chunks shared (same hash + length) with at least one OTHER
    // doc — the edit-robust chunk-level redundancy measure positional
    // spans can't give (an insertion shifts every span; CDC boundaries
    // re-align at the next content boundary). The chunk table is a
    // build-once artifact (memoized, like the signature index); the
    // shared-chunk set contracts by content before the semi-join.
    "dd_cdc_chunks" -> ((s, d) => {
      val chunks = memoized(s, d, "cdc_chunks") {
        Dedup.cdcChunks(Tables.documents(s, d), "doc_id", "text",
          k = 4, divisor = 16L).localCheckpoint(true)
      }
      val shared = chunks.groupBy("chunk_hash", "n_tokens")
        .agg(countDistinct("doc_id").as("__d"))
        .filter(col("__d") >= 2)
        .select("chunk_hash", "n_tokens")
      val flagged = chunks
        .join(shared, Seq("chunk_hash", "n_tokens"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared_chunks"))
      chunks.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
        .join(flagged, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("n_shared_chunks"), lit(0L)).as("n_shared_chunks"))
    }),

    // The CDC payoff operator: rebuild the corpus with repeated chunks
    // excised, keeping the globally-first (doc_id, chunk_start) copy of
    // each — chunk-level dedup that survives insertions (boundaries are
    // content-defined, so shifted duplicates re-align and still dedup).
    // Shares the build-once chunk artifact with dd_cdc_chunks.
    "dd_cdc_apply" -> ((s, d) => {
      val chunks = memoized(s, d, "cdc_chunks") {
        Dedup.cdcChunks(Tables.documents(s, d), "doc_id", "text",
          k = 4, divisor = 16L).localCheckpoint(true)
      }
      Dedup.cdcDedupApplyFromChunks(
        Tables.documents(s, d), chunks, "doc_id", "text")
    }),

    // Cross-corpus vocabulary overlap WITHOUT a corpus join — the audit
    // run before mixing two sources (shared-vocabulary Jaccard is the
    // cheap proxy for domain similarity). One distinct-word shuffle
    // carries BOTH sides: per word, presence flags for the en split and
    // the rest, then a single global fold computes the exact distinct
    // counts, the exact overlap, the Jaccard, AND the HLL
    // inclusion-exclusion estimate (|A|+|B|−|A∪B|) from the SAME
    // deduped rows (HLL is duplicate-insensitive — a7b's trick). The
    // sketch path is what scales to corpora too large to co-shuffle:
    // each side's sketch is a fixed-KB mergeable aggregate computable
    // in separate passes/clusters; here the exact values ride along as
    // the oracle anchor and the estimate is declared as a bounded-error
    // flag (estimates are engine-specific, bounds are not).
    "dd_vocab_overlap" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select((col("lang") === "en").as("in_a"),
          explode(TextOps.tokens(col("text"))).as("word"))
      words.groupBy("word")
        .agg(max(when(col("in_a"), 1).otherwise(0)).as("a"),
          max(when(!col("in_a"), 1).otherwise(0)).as("b"))
        .agg(
          sum("a").cast("long").as("n_vocab_en"),
          sum("b").cast("long").as("n_vocab_rest"),
          sum(col("a") * col("b")).cast("long").as("overlap_exact"),
          approx_count_distinct(when(col("a") === 1, col("word")), 0.02).as("__ha"),
          approx_count_distinct(when(col("b") === 1, col("word")), 0.02).as("__hb"),
          approx_count_distinct(col("word"), 0.02).as("__hu"))
        .select(col("n_vocab_en"), col("n_vocab_rest"), col("overlap_exact"),
          round(col("overlap_exact").cast("double") /
            (col("n_vocab_en") + col("n_vocab_rest") - col("overlap_exact")), 6)
            .as("jaccard"),
          (abs(col("__ha") + col("__hb") - col("__hu") - col("overlap_exact")) <=
            greatest(lit(8L), ((col("n_vocab_en") + col("n_vocab_rest")) / 10)))
            .cast("int").as("sketch_ok"))
    }),

    // Exact dedup AFTER normalization (clean charset + lowercase +
    // whitespace collapse): catches the case/punctuation/spacing
    // variants byte-exact dedup misses — the standard second dedup mode
    // a pipeline runs beside dd_exact. Same one-shuffle-on-hash shape.
    "dd_exact_normalized" -> ((s, d) =>
      Dedup.exact(
        Tables.documents(s, d).select(col("doc_id"),
          concat_ws(" ", TextOps.cleanTokens(col("text"))).as("text")),
        "doc_id", "text")),

    "dd_shingles" -> ((s, d) => shingleTable(s, d)),

    // Span-level decontamination: WHERE the eval-set leak sits in each
    // corpus doc (maximal 8-token ranges sharing a gram with the
    // benchmark split) — the surgical alternative to tp_decontaminate's
    // whole-doc flag. The benchmark gram set broadcasts (fixed size by
    // construction, adaptively guarded); the corpus pays one gram pass +
    // the per-doc merge. Served from the build-once spans table: leak
    // FINDINGS are an artifact a pipeline materializes once and applies
    // many times, exactly like the dedup signature index.
    "tp_decontaminate_spans" -> ((s, d) => contamSpans(s, d)),

    // ...and the cut applied: every corpus doc rebuilt with its
    // contaminated ranges excised (docs without spans pass through
    // verbatim) — the text a training run would actually ingest. Reads
    // the same build-once spans table; the per-query work is the cut
    // itself (anti join + ordered reassembly).
    "tp_cut_spans" -> ((s, d) => {
      val corpus = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(10)) =!= 0)
      Dedup.cutSpans(corpus, contamSpans(s, d), "doc_id", "text")
    }),

    "dd_minhash_sig" -> ((s, d) => minhashSigs(s, d)),

    "dd_minhash_lsh" -> ((s, d) =>
      lshCandidates(s, d).select("id_a", "id_b")),

    "dd_simhash" -> ((s, d) => simhashSigs(s, d)),

    // LSH TUNING instrumentation: how good are the banded MinHash
    // candidates against the exact (capped) Jaccard truth — the
    // confusion counts a pipeline reads before turning the
    // bands/rows-per-band knobs (more bands → recall up, precision
    // down). Both pair tables already exist at bounded size (banded
    // equi-join / capped inverted index — never all-pairs), so the
    // quality join is pair-table-sized and the output is ONE row of
    // counts; precision and recall derive driver-side or in SQL.
    "dd_lsh_quality" -> ((s, d) => {
      val cand = lshCandidates(s, d).select("id_a", "id_b")
      val truth = Dedup.jaccardPairsFromShingles(shingleTable(s, d), "doc_id",
        threshold = 0.5, maxDf = Some(50L)).select("id_a", "id_b")
      val hit = cand.join(truth, Seq("id_a", "id_b"))
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(truth.agg(count(lit(1)).as("n_true_pairs")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_candidates"), col("n_true_pairs"), col("n_hit"),
          (col("n_true_pairs") - col("n_hit")).as("n_missed"))
    }),

    // Fuzzy record linkage: part-name pairs within Levenshtein distance 3.
    // The expensive verify runs on DISTINCT names only (prefix + length
    // blocked), never on rows — and BOTH quadratic dimensions carry
    // declared caps (round 18, like maxDf on the shingle operators):
    // maxBlock=1000 routes oversized distinct-name blocks through
    // char-shingle LSH + exact verify, and maxIdsPerName=500 bounds the
    // id-level output, which is (rows-per-name)^2 per matched name pair
    // — the growth that made this row ~134x at sf1 (it was output size,
    // not Levenshtein: this data has 64 distinct names and 10x rows
    // means 100x id pairs). Neither cap binds at oracle (sf0.01) or
    // bench (sf0.1) scale, where the result stays exhaustive.
    "dd_editdist_pairs" -> ((s, d) =>
      Dedup.editDistancePairs(Tables.part(s, d).select("p_partkey", "p_name"),
        "p_partkey", "p_name", maxDist = 3, prefixLen = 2, lenTol = 2,
        maxBlock = 1000L, maxIdsPerName = 500)),

    // Applying the dedup: keep one document per near-dup component (the
    // min-id root), i.e. the filtered corpus a training run would read.
    // Reuses the shared candidate/component materialization.
    "dd_apply" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val comps = dupComponents(s, d)
      docs.join(comps, docs("doc_id") === comps("node"))
        .filter(col("doc_id") === col("component"))
        .select(docs("doc_id"), col("lang"), col("n_chars"))
    }),

    // Benchmark decontamination: docs sharing any 3-gram shingle with
    // the held-out eval set (deterministic subset doc_id % 97 == 0
    // standing in for a real benchmark). The eval set's distinct
    // shingles broadcast (eval sets are small by construction); the
    // corpus side is one shingle pass + broadcast semi-join + one
    // aggregation — never self-joined, never shuffled on shingle.
    "tp_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.decontaminate(
        docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(97)) === 0),
        "doc_id", "text")
    }),

    // Same decontamination through [[Dedup.decontaminateBloom]]: a Bloom
    // filter over the eval shingles' hashes drops non-matching corpus
    // grams in codegen BEFORE any exchange — the scale path for when the
    // eval shingle ROWS outgrow the broadcast threshold but their ~MB
    // filter doesn't. Exact-confirmed, so the oracle is tp_decontaminate's.
    "tp_decontaminate_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.decontaminateBloom(
        docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(97)) === 0),
        "doc_id", "text")
    }),

    // The benchmark owner's view: per EVAL doc, how widely it leaks into
    // the training corpus (distinct corpus docs + distinct leaked
    // 8-grams) — ranks eval items by compromise, the report that decides
    // which benchmark questions are burned and must rotate. Serves from
    // the shared build-once gram tables (same input as the span chain).
    "tp_contamination_report" -> ((s, d) =>
      Dedup.contaminationReportFromGrams(
        corpusGrams8(s, d), benchGrams8(s, d), "doc_id")),

    // SimHash near-dup pairs: banded Hamming (<= 3 bits over 4 bands),
    // served from the shared fingerprint table.
    "dd_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairsFromSignatures(simhashSigs(s, d), "doc_id", 4, 3)),

    // 128-bit SimHash signatures + banded pairs: identical recall bound
    // (maxDist <= bands-1 by pigeonhole), 32-bit band keys instead of
    // 16-bit — the O(n²/2^width) random-collision term drops by 2¹⁶.
    "dd_simhash128" -> ((s, d) => simhashSigs128(s, d)),
    "dd_simhash128_pairs" -> ((s, d) =>
      Dedup.simhashPairsFromSignatures(simhashSigs128(s, d), "doc_id",
        bands = 4, maxDist = 3, bits = 128)),

    // Transitive dedup closure: LSH candidate pairs -> connected
    // components (min-label propagation; oracle = recursive CTE).
    "dd_components" -> ((s, d) =>
      dupComponents(s, d).select(col("node").as("doc_id"), col("component"))),

    // GROUP-AWARE (leakage-safe) train/test split: the per-doc hash
    // split (tp_hash_split) puts two near-duplicate crawls of one page
    // on opposite sides whenever their bytes differ — the classic eval
    // leak tp_split_leakage only AUDITS. This operator prevents it:
    // every doc inherits its dedup COMPONENT's split, decided by the
    // portable rolling hash of the component label, so a near-dup
    // cluster moves as a unit (The-Stack-style dedup-aware splitting).
    // Cost on top of the shared closure: one codegen hash projection.
    // CONTRACT: the closure is the UNCAPPED LSH candidate table
    // (dupComponents) — no pair is ever silently dropped, so no LSH
    // near-dup pair can straddle the split (DedupSpec pins this). A
    // split keyed on components built from a CAPPED pair table
    // (jaccard/cosine/containment with maxDf) does NOT inherit that
    // guarantee: a capped-away pair can land its docs in different
    // components and thus on opposite sides — the cap's recall trade,
    // also spec-pinned.
    // Declared over the MULTILINGUAL fixture: the closure (shingles →
    // md5 minhash → bands → components) runs on non-ASCII text, so the
    // cross-engine grouping contract is certified beyond the ASCII
    // corpus (the rolling hash itself keys the ASCII component label).
    "tp_group_split" -> ((s, d) => {
      val h = pmod(graft.functions.TextExprs.rollingHash(
        col("component").cast("string")), lit(10L))
      dupComponentsMl(s, d).select(col("node").as("doc_id"), col("component"))
        .select(col("doc_id"), col("component"),
          when(h < 8, "train").otherwise("test").as("split"))
    }),

    // Radius (range) search through the persisted IVF index at full
    // probe: every corpus vector within cosine >= 0.2 of each query —
    // the "everything this similar" retrieval form (near-dup audits,
    // recall sweeps), exact at nprobe == nlist, no per-query sort.
    "sim_radius" -> ((s, d) => {
      val idx = persistedIvfIndex(s, d)
      Similarity.queryIvfRadius(idx,
        Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(200)) === 0),
        "vec_id", "embedding", minSim = 0.2, nprobe = idx.centroids.length)
    }),

    // The dedup report a pipeline actually prints: the component-size
    // histogram (how many dup clusters of each size) — duplication rate
    // and worst-clique size at a glance, two tiny aggregations over the
    // shared component labels.
    "dd_cluster_sizes" -> ((s, d) =>
      dupComponents(s, d)
        .groupBy("component").agg(count(lit(1)).as("__sz"))
        .groupBy(col("__sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))),

    // Exact top-k, served through the persisted IVF index at
    // nprobe == nlist: every (query, corpus) pair is scored once via the
    // cell hash equi-join — same result as brute force bit-for-bit (raw
    // vectors + hoisted norms ride in the cells table), but the plan is a
    // hash join on `cell`, not a CartesianProduct over the corpus. The
    // cross-join bruteForceTopK stays as the spec-only reference. The
    // result table is memoized: `sim_ann_ivf`'s recall check reuses it as
    // its ground truth instead of re-scanning every cell.
    "sim_topk" -> ((s, d) => exactIvfTopK(s, d)),

    // Embedding near-dup via SRP-LSH (the scale path): equi-join on the
    // signed-random-projection bucket, exact cosine verify inside buckets
    // — no cross join anywhere in the plan. The seeded hyperplanes make
    // the bucketing deterministic, so the DuckDB oracle reproduces it
    // exactly (plane weights inlined as literals). The brute-force
    // cosineNearDupPairs stays as the verification baseline in specs.
    "sim_near_dup" -> ((s, d) => srpPairs(s, d)),

    // Semantic dedup, APPLIED (SemDeDup-shaped: embedding near-dups
    // collapse to one representative): SRP-bucketed cosine pairs →
    // transitive closure → keep the min-id root of each component — the
    // embedding-space counterpart of dd_apply, and the vector set a
    // training run would actually embed-train on. Candidates come from
    // the bucket equi-join (never all-pairs); the closure runs on the
    // pair graph only (a small fraction of the corpus by construction).
    "sim_dedup_apply" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Dedup.connectedComponents(emb.select("vec_id"), "vec_id",
        srpPairs(s, d), "id_a", "id_b")
        .filter(col("node") === col("component"))
        .select(col("node").as("vec_id"))
    }),

    // IVF-indexed approximate top-k (the ANN scale path; seeded k-means
    // quantizer, nprobe of nlist cells scanned), declared as its RECALL
    // against the exact result: per query, how many of the exact top-5
    // does the 6-of-16-cells probe recover. The driver check is now an
    // accuracy floor (recall >= 2/5 per query; the near-uniform synthetic
    // embeddings scatter true neighbors across cells, so this is the
    // honest operating point, not a softball), not a row count; exactness
    // at nprobe == nlist is additionally property-tested vs brute force.
    "sim_ann_ivf" -> ((s, d) =>
      recallVsExact(s, d,
        Similarity.queryIvf(persistedIvfIndex(s, d),
          Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(100)) === 0),
          "vec_id", "embedding", k = 5, nprobe = 6))),

    // All-points KNN GRAPH through the IVF index (the first stage of
    // graph-based semantic dedup / clustering): EVERY corpus vector gets
    // its approximate top-5 cosine neighbors from a 10-of-16-cell probe —
    // a shuffle cell join (the probe side is the corpus, never broadcast)
    // with the bounded-heap top_k_by contraction. Declared as its
    // per-point RECALL against the exact graph (same cell-join machinery
    // at nprobe == nlist, memoized): the floor is recall >= 2 of 5 for
    // EVERY point — the sim_ann_ivf floor held corpus-wide, measured
    // min 3/5 at sf0.01 and 2/5 at sf0.1 on the near-uniform synthetic
    // embeddings (whose scattered true neighbors are the honest worst
    // case, not a softball).
    "sim_knn_graph" -> ((s, d) =>
      recallContract(
        exactKnnGraph(s, d),
        Similarity.knnGraph(persistedIvfIndex(s, d),
          Tables.embeddings(s, d), "vec_id", "embedding", k = 5, nprobe = 10),
        "n_neighbors", floor = 2)),

    // Graph-clustered semantic components: KNN-graph edges above a
    // cosine threshold → transitive closure — the graph-clustering pass
    // a semantic dedup / topic-discovery pipeline runs after the graph
    // build (SemDeDup-adjacent, but neighbor-graph-based). Declared on
    // the EXACT graph (full probe — bit-equal to brute force, so the
    // oracle can replay it in SQL); production runs the same composition
    // on the approximate graph, whose quality sim_knn_graph's recall
    // contract pins. Closure runs on the thresholded edge set only — a
    // small fraction of the corpus by construction, like dd_components.
    "sim_knn_components" -> ((s, d) => {
      val edges = exactKnnGraph(s, d).filter(col("cosine_sim") >= 0.4)
        .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"))
      Dedup.connectedComponents(
        Tables.embeddings(s, d).select("vec_id"), "vec_id",
        edges, "id_a", "id_b")
        .select(col("node").as("vec_id"), col("component"))
    }),

    // Index-health drift: the mean squared member-to-centroid distance of
    // the live cells vs the build-time value in the metadata sidecar
    // (appendToIvfIndex never refits — drift is THE signal that recall
    // is eroding and refitIvfIndex is due). A freshly built index must
    // self-report ratio == 1 up to aggregation-order ulps; the declared
    // check pins that invariant driver-visibly, plus the round-16
    // CELL-SKEW telemetry (max/median cell population — the straggler
    // early-warning scatter drift can't see): a fresh k-means index
    // over the near-uniform embeddings must report finite skew >= 1.
    // Rising-drift + skewed-appends + refit-restores behavior is
    // property-tested in SimilaritySpec.
    "sim_ivf_drift" -> ((s, d) => {
      import s.implicits._
      persistedIvfIndex(s, d) // ensure the index is built and persisted
      val r = Similarity.ivfDrift(s, ivfIndexPath(s, d))
      Seq((if (math.abs(r.ratio - 1.0) < 1e-6) 1 else 0,
        if (r.cellSkew >= 1.0 && !r.cellSkew.isInfinity) 1 else 0))
        .toDF("drift_ok", "skew_ok")
    }),

    // IVFPQ + refine ([[graft.similarity.Pq]]): IVF cells prune
    // candidates, ADC scores them as m byte-table lookups (no raw
    // vectors touched until the rerank), the top-50 shortlist is
    // reranked exactly. Declared as its RECALL vs the exact top-5
    // (same floor shape as sim_ann_ivf). The near-uniform synthetic
    // embeddings are PQ's worst case (no cluster structure for the
    // codebooks to exploit), so the shortlist is the knob that buys
    // recall back: at 50 of ~190 candidates the reranked result
    // matches the IVF-only path's floor. Everything is seeded (coarse
    // quantizer, codebook init) => deterministic.
    "sim_ann_ivfpq" -> ((s, d) =>
      recallVsExact(s, d,
        Pq.ivfPqTopK(persistedIvfIndex(s, d), pqEncoded(s, d),
          pqCodebook(s, d),
          Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(100)) === 0),
          "vec_id", "embedding", k = 5, nprobe = 6, shortlist = 50))),

    // IVFOPQ + refine ([[graft.similarity.Opq]]): the rotate-then-
    // quantize composition — PCA eigenbasis as a pure (uncentered)
    // rotation with eigenvalue-balanced subspace allocation, PQ trained
    // and encoded in rotated space, ADC scored there too, while the
    // coarse probe and the exact rerank stay on raw vectors. At real
    // embedding dims OPQ is the difference between PQ being usable or
    // not; the declared contract is the same recall floor as the
    // plain-PQ row on the identical fixture/knobs.
    "sim_ann_opq" -> ((s, d) =>
      recallVsExact(s, d,
        Opq.ivfOpqTopK(persistedIvfIndex(s, d), opqEncoded(s, d),
          opqModel(s, d),
          Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(100)) === 0),
          "vec_id", "embedding", k = 5, nprobe = 6, shortlist = 50))),

    // SEMANTIC decontamination — the embedding-space counterpart of
    // tp_decontaminate's n-gram overlap: drop every corpus vector whose
    // cosine against ANY benchmark vector reaches the threshold (the
    // paraphrased-contamination case lexical k-grams can't see), plus
    // the benchmark members themselves. Scale shape: the benchmark is
    // eval-set-sized, so it rides [[Similarity.queryIvfRadius]]'s
    // BROADCAST probe over the persisted partition-pruned index (full
    // probe — exact, no rank window at all), and the bounded hit set
    // anti-joins back onto the corpus. Cut on the 6dp-rounded cosine
    // (radius pre-filtered a hair below so the rounded cut is the only
    // boundary), replayed value-for-value by the oracle.
    "tp_decontaminate_semantic" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = persistedIvfIndex(s, d)
      val bench = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
      val hits = Similarity.queryIvfRadius(idx, bench, "vec_id", "embedding",
          minSim = SemDecontThreshold - 1e-6, nprobe = idx.centroids.length)
        .filter(round(col("cosine_sim"), 6) >= SemDecontThreshold)
        .select(col("neighbor_id").as("vec_id"))
      emb.join(
          hits.unionAll(bench.select("vec_id")).distinct(),
          Seq("vec_id"), "left_anti")
        .select("vec_id", "label")
    }),

    // Cross-corpus ANN JOIN ([[Similarity.annJoin]]): corpus A (odd
    // vec_ids — "incoming batch") against an index built over corpus B
    // (even vec_ids — "reference corpus"), exact top-3 B-neighbors per
    // A-row at full probe. The retrieval-augmentation /
    // dedup-against-reference primitive: A is corpus-sized, so the
    // probe rides a SHUFFLE cell join (never broadcast — the queryIvf
    // broadcast shape would ship all of A everywhere) and the per-row
    // cut is the bounded-heap top_k_by. Ranked on the 6dp-rounded
    // cosine (house portability convention) so the oracle replays the
    // identical selection brute-force, value-for-value.
    "sim_ann_join" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.annJoin(annJoinRefIndex(s, d),
        emb.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding", k = 3,
        nprobe = annJoinRefIndex(s, d).centroids.length,
        roundTo = Some(6))
        .withColumnRenamed("cosine_sim", "xc_sim")
    }),

    // IVF-SQ8+refine: the codebook-FREE quantized path (per-vector int8
    // scale quantization, 4x compression, no trained state — append-only
    // corpora never refit). Same probe/shortlist/rerank architecture and
    // the same recall contract as the PQ row; the int8 scoring loop is
    // the codegen vec_dot_i8 over the packed BINARY codes.
    "sim_ann_sq8" -> ((s, d) =>
      recallVsExact(s, d,
        Sq.ivfSq8TopK(persistedIvfIndex(s, d), sq8Encoded(s, d),
          Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(100)) === 0),
          "vec_id", "embedding", k = 5, nprobe = 6, shortlist = 50))),

    // Retrieval evaluation: precision@5 / recall@5 / reciprocal rank /
    // nDCG@5 of the EXACT top-5 (the memoized full-probe result — the
    // oracle replays it by brute force) against the embeddings table's
    // label column as binary relevance. The metrics pass itself is the
    // operator under test: q·k ranked rows + label joins + one groupBy,
    // never corpus-shaped — the same pass a deployment runs to tune
    // nprobe/shortlist/fusion against a labeled query sample.
    "ret_eval_metrics" -> ((s, d) =>
      Retrieval.metrics(exactIvfTopK(s, d), Tables.embeddings(s, d),
        "vec_id", "label", k = 5)),

    // Hard-negative mining at full probe (exact — the oracle replays it
    // brute-force): per anchor, the 5 most-similar different-label
    // vectors under the 0.95 near-dup cap. The partial-probe form is
    // the same call with nprobe < nlist (corpus-linear, soak-covered by
    // the scoreIvf machinery the MMR row exercises).
    "sim_hard_negatives" -> ((s, d) => {
      val idx = persistedIvfIndex(s, d)
      Retrieval.hardNegatives(idx,
        Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(100)) === 0),
        Tables.embeddings(s, d), "vec_id", "embedding", "label",
        k = 5, nprobe = idx.centroids.length, maxSim = 0.95)
    }),

    // Symmetric int8 quantization of embeddings (the storage/ANN-speed
    // form at scale: 4x smaller vectors, SIMD-friendly). Pure map; the
    // per-vector scale is materialized as its own projection so the
    // lambda references an attribute, not a re-evaluated expression.
    // max |v| = max(array_max(v), -array_min(v)) — two codegen array
    // reductions instead of an interpreted per-element abs lambda.
    // The int8 vector is emitted as a comma-joined string (array-typed
    // outputs are unhashable in common verification harnesses).
    "sim_quantize" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          (greatest(
            array_max(col("embedding")).cast("double"),
            -array_min(col("embedding")).cast("double"),
            lit(1e-12)) / 127.0).as("scale"))
        .select(col("vec_id"), col("scale"),
          concat_ws(",", transform(col("embedding"),
            v => round(v.cast("double") / col("scale")).cast("int").cast("string")))
            .as("q"))),

    // Diversified re-rank (maximal marginal relevance): after retrieval
    // contracts the corpus to a per-query candidate pool, greedily pick
    // the k results balancing relevance against redundancy with what's
    // already picked — the standard answer to near-duplicate hits
    // crowding a result page. The distributed shape is pool-then-select:
    // full-probe IVF scoring (the contraction), relevance ROUNDED to 6dp
    // so the pool cut is engine-portable, a bounded-heap `top_k_by`
    // pooling (map-side partials keep <= poolK rows per query per task),
    // then the sequential greedy runs in `mmr_select` on ONE row per
    // query — never on the corpus. Every score comparison happens on
    // rounded values (house float convention), so the DuckDB oracle
    // replays the identical selection via chained per-pick CTEs.
    "sim_mmr_rerank" -> ((s, d) => {
      val idx = persistedIvfIndex(s, d)
      val emb = Tables.embeddings(s, d)
      mmrRerank(idx, emb.filter(pmod(col("vec_id"), lit(100)) === 0), emb,
        nprobe = idx.centroids.length)
    }),

    // Hybrid retrieval via reciprocal-rank fusion: the lexical arm (BM25
    // top-20, the t8 machinery) and the dense arm (cosine top-20 through
    // the IVF index) fused by rrf = Σ 1/(60 + rank) — the
    // score-calibration-free fusion every hybrid search stack ships.
    // Both arms are already contractions (<= 20 rows each; at 100 TB the
    // lexical arm is the posting-filter read path and the dense arm the
    // IVF probe), so the fusion itself is a constant-size full-outer
    // join — the global rank windows below run on 20-row inputs, not
    // corpus data. doc_id and vec_id share the id space by corpus
    // construction (embeddings(i) embeds documents(i)).
    "ret_hybrid_rrf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val lex = TextPipeline.queries("t8_bm25_search")(s, d)
        .select(col("doc_id"), row_number().over(
          Window.orderBy(desc("bm25"), asc("doc_id"))).cast("int").as("rank_lex"))
      val idx = persistedIvfIndex(s, d)
      val dense = Similarity.queryIvf(idx,
        Tables.embeddings(s, d).filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 20, nprobe = idx.centroids.length)
        .select(col("neighbor_id").as("doc_id"), col("rank").as("rank_dense"))
      lex.join(dense, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          round(coalesce(lit(1.0) / (lit(60) + col("rank_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rank_dense")), lit(0.0)), 6)
            .as("rrf"),
          col("rank_lex"), col("rank_dense"))
        .orderBy(desc("rrf"), asc("doc_id"))
        .limit(10)
    }),

    // The composed corpus-cleaning pipeline — what a training run actually
    // reads: quality-filtered (token count, stopword ratio, distinct-token
    // ratio) AND exact-dup keeper AND near-dup component root, in one
    // declared query. Every stage reuses the shared materializations; the
    // joins are all on doc_id (broadcastable filters over one fact scan).
    "tp_corpus_clean" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val keepQuality = TextAnalysis
        .qualityFeatures(docs, "doc_id", "text", stopwords)
        .filter(col("n_tokens") >= 30 &&
          col("stopword_ratio") >= 0.05 && col("distinct_token_ratio") >= 0.4)
        .select("doc_id")
      val exactKeepers = Dedup.exact(docs, "doc_id", "text")
        .select(col("keeper_id").as("doc_id"))
      val componentRoots = dupComponents(s, d)
        .filter(col("node") === col("component"))
        .select(col("node").as("doc_id"))
      docs.join(keepQuality, "doc_id")
        .join(exactKeepers, "doc_id")
        .join(componentRoots, "doc_id")
        .select("doc_id", "lang", "n_chars")
    }),

    // Source-level curation stats (the CCNet/RefinedWeb axis: quality
    // decisions per DOMAIN, not per document): per source, doc count,
    // token mass, and stopword/distinct-token/dup rates. Every rate is
    // a ratio of INTEGER sums (token counts, distinct-hash counts), so
    // the doubles are exact single divisions — deterministic across
    // engines and partition orders, never an avg-of-doubles. One
    // partial-aggregated rollup keyed by the low-cardinality source.
    "tp_source_stats" -> ((s, d) => {
      val perDoc = sourcePerDoc(s, d)
      // zero-token guard: a source whose documents are all empty gives
      // sum(__n) = 0, where Spark's Divide yields NULL but DuckDB's
      // double division yields NaN — pin both to 0.0 (the readStats
      // zero-word convention)
      def ratio(num: org.apache.spark.sql.Column) =
        when(sum("__n") === 0, lit(0.0))
          .otherwise(num.cast("double") / sum("__n"))
      perDoc.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("__n").as("n_tokens"),
        ratio(sum("__s")).as("stop_ratio"),
        ratio(sum("__d")).as("distinct_ratio"),
        (lit(1.0) - countDistinct("__h").cast("double") / count(lit(1)))
          .as("dup_rate"))
    }),

    // Applying the curation: keep documents from sources whose
    // distinct-token ratio is at least the corpus-wide ratio (the
    // "above-average domains" cut). The threshold compare is integer
    // CROSS-MULTIPLICATION in decimal(38,0) — sum_d·tot_n ≥ tot_d·sum_n
    // — never a float boundary (a source sitting exactly on the mean
    // keeps; both engines agree exactly; 1e14-token sides fit 38
    // digits). Kept sources broadcast back onto the corpus.
    "tp_source_filter" -> ((s, d) => {
      val perSrc = sourcePerDoc(s, d).groupBy("source")
        .agg(sum("__d").as("__sd"), sum("__n").as("__sn"))
      val tot = perSrc.agg(sum("__sd").as("__td"), sum("__sn").as("__tn"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val keptSrc = perSrc.crossJoin(broadcast(tot))
        .filter(dec(col("__sd")) * dec(col("__tn")) >=
          dec(col("__td")) * dec(col("__sn")))
        .select("source")
      Tables.documents(s, d).join(broadcast(keptSrc), "source")
        .select("doc_id", "source")
    }),

    // The WHOLE training-data prep chain as ONE declared query — clean
    // (quality gate ∧ exact-dup keeper ∧ near-dup component root, the
    // tp_corpus_clean composition) → decontaminate (drop the eval
    // subset and every train doc sharing a 3-gram shingle with it) →
    // tokenize survivors under the corpus-trained BPE artifact (the
    // memoized build-once model; a production pipeline applies a
    // pretrained tokenizer, it does not retrain per run) → next-fit
    // pack into 512-subword-token bins per shard. Every stage reuses
    // the shared materializations (dupComponents, bpeModel), so the
    // end-to-end cost is the fragments' cost plus three doc_id-keyed
    // contractions — and the oracle replays the full composition in one
    // statement, certifying the cross-stage plumbing.
    "tp_pipeline_e2e" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val keepQuality = TextAnalysis
        .qualityFeatures(docs, "doc_id", "text", stopwords)
        .filter(col("n_tokens") >= 30 &&
          col("stopword_ratio") >= 0.05 && col("distinct_token_ratio") >= 0.4)
        .select("doc_id")
      val exactKeepers = Dedup.exact(docs, "doc_id", "text")
        .select(col("keeper_id").as("doc_id"))
      val componentRoots = dupComponents(s, d)
        .filter(col("node") === col("component"))
        .select(col("node").as("doc_id"))
      val contaminated = Dedup.decontaminate(
        docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(97)) === 0),
        "doc_id", "text").select("doc_id")
      val kept = docs.select("doc_id")
        .filter(pmod(col("doc_id"), lit(97)) =!= 0)
        .join(keepQuality, "doc_id")
        .join(exactKeepers, "doc_id")
        .join(componentRoots, "doc_id")
        .join(contaminated, Seq("doc_id"), "left_anti")
      val seg = TextPipeline.bpeModel(s, d).vocabSyms
        .groupBy("word").agg(count(lit(1)).as("n_syms"))
      val docWords = docs.join(kept, "doc_id").select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
          .as("word"))
      val docTokens = docWords.join(seg, "word")
        .groupBy("doc_id").agg(sum("n_syms").as("n_tokens"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docTokens
        .withColumn("shard", pmod(col("doc_id"), lit(8L)))
        .withColumn("cum_tokens", sum("n_tokens").over(w))
        .withColumn("bin",
          floor((col("cum_tokens") - col("n_tokens")) / 512).cast("long"))
        .select("doc_id", "shard", "n_tokens", "bin")
    }),

    // Co-located fact-fact join: both sides bucketed+sorted on the join
    // key at write time, so the sort-merge join runs with ZERO exchanges
    // on the join inputs (the only shuffle left is the final small agg).
    // Same results as the plain join — oracle-checked.
    "sk_bucketed_join" -> ((s, d) => {
      val o = bucketedTable(s, d, "orders", "o_orderkey",
        Seq("o_orderkey", "o_orderpriority"), buckets = 8)
      val li = bucketedTable(s, d, "lineitem", "l_orderkey",
        Seq("l_orderkey", "l_quantity"), buckets = 8)
      o.hint("merge").join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"), sum("l_quantity").as("sum_qty"))
    }),

    "ta_langid" -> ((s, d) =>
      TextAnalysis.languageId(s, Tables.documents(s, d), "doc_id", "text")),

    // Canonical normalization (NFC + lower + control-strip + whitespace
    // collapse): pure codegen map; the unicode behavior itself is
    // spec-pinned on composed/decomposed fixtures (the corpus is ASCII,
    // where NFC is the identity — the oracle still replays the full
    // chain value-for-value).
    "ta_normalize" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.normalizeText(col("text")).as("norm_text"))),

    "ta_quality" -> ((s, d) =>
      TextAnalysis.qualityFeatures(Tables.documents(s, d), "doc_id", "text", stopwords)),

    // PMI collocations: top-20 adjacent pairs by pointwise mutual
    // information, pair count >= 5 ([[TextAnalysis.pmiBigrams]]).
    "ta_pmi_bigrams" -> ((s, d) =>
      TextAnalysis.pmiBigrams(Tables.documents(s, d), "text")),

    // Sentence statistics (Gopher/C4-family quality rules): sentence
    // count + mean/max sentence tokens per doc.
    "ta_sentences" -> ((s, d) =>
      TextAnalysis.sentenceStats(Tables.documents(s, d), "doc_id", "text")),

    // Sentence-boundary chunking: ~60-token context windows that never
    // split a sentence (prefix-sum binning — deterministic, engine-
    // replayable, unlike stateful greedy next-fit).
    "tp_chunk_sentences" -> ((s, d) =>
      TextAnalysis.chunkBySentences(Tables.documents(s, d), "doc_id", "text",
        budgetTokens = 60)),

    "ta_token_counts" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.subwordCount(col("text")).as("n_subwords"))),

    "ta_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(Tables.documents(s, d), "doc_id", "text")),

    // Repetition quality signal: top-bigram share per document.
    "ta_repetition" -> ((s, d) =>
      TextAnalysis.repetitionRatio(Tables.documents(s, d), "doc_id", "text")),

    // Unigram log-probability quality score (perplexity-ish filter):
    // mean ln(corpus_freq/total) over each doc's tokens.
    "ta_unigram_logprob" -> ((s, d) =>
      TextAnalysis.unigramLogProb(Tables.documents(s, d), "doc_id", "text")),

    // Bigram-LM fluency score (CCNet-style): mean ln P(w|prev) under the
    // corpus-trained Laplace-smoothed bigram model. Bigrams map-side
    // (codegen arrays_zip over slices), counts one shuffle, c(v)
    // derived from the contracted counts.
    "ta_bigram_logprob" -> ((s, d) =>
      TextAnalysis.bigramLogProb(Tables.documents(s, d), "doc_id", "text")),

    // Rabin-Karp rolling hash over the raw text (native expression) —
    // declared over the MULTILINGUAL fixture so the byte-fold contract
    // is hash-certified off-ASCII (composed, decomposed, 3- and 4-byte
    // sequences; see OracleFold).
    "ta_rolling_hash" -> ((s, d) =>
      OracleFold.augmentDocs(Tables.documents(s, d)).select(col("doc_id"),
        graft.functions.TextExprs.rollingHash(col("text")).as("rhash"))),

    // Flesch reading-ease per document — the classic readability quality
    // signal. Three codegen counts: words (whitespace tokens), sentences
    // ([.!?]+ segments with ≥1 token, the ta_sentences segmentation), and
    // a vowel-group syllable approximation counted over the WHOLE
    // lowercased text in one regexp pass (vowel groups never span
    // whitespace, so the per-token sum equals the text-level count — no
    // interpreted per-token lambda). Map-side except the sentence count's
    // one doc-id aggregation.
    "ta_readability" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sents = docs
        .select(col("doc_id"), explode(split(col("text"), "[.!?]+")).as("__sent"))
        .filter(size(TextOps.tokens(col("__sent"))) > 0)
        .groupBy("doc_id").agg(count(lit(1)).as("n_sentences"))
      docs.select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_words"),
          size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
            .as("n_syllables"))
        .join(sents, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_words"), col("n_syllables"),
          coalesce(col("n_sentences"), lit(0L)).as("n_sentences"),
          when(col("n_sentences") > 0 && col("n_words") > 0,
            lit(206.835)
              - lit(1.015) * col("n_words") / col("n_sentences")
              - lit(84.6) * col("n_syllables") / col("n_words")).as("flesch"))
    })
  ) ++ nearDupQueries(lazyPlan = false)

  // ---- oracle SQL ---------------------------------------------------------

  /** tokens with 0-based positions, empties filtered before positioning
    * (mirrors TextOps.tokens: filter after split, then posexplode).
    */
  private def posToksSqlFrom(src: String): String =
    s"""SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS tok
      |FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS l
      |      FROM $src) src""".stripMargin

  private val posToksSql = posToksSqlFrom("documents")

  /** WITH-prefix producing `toks` (token arrays per doc) and `cspans`
    * (the %10-benchmark contaminated spans) — shared by the
    * tp_decontaminate_spans and tp_cut_spans oracles; identical gram +
    * interval sweep as dd_repeated_spans with the cross-doc gram set
    * replaced by the benchmark's.
    */
  private val contamSpansSql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS tk
      |  FROM documents),
      |cgrams AS (
      |  SELECT doc_id, i AS pos, md5(array_to_string(tk[i+1:i+8], ' ')) AS gram
      |  FROM toks, LATERAL unnest(range(0, greatest(len(tk) - 7, 0))) t(i)),
      |cbench AS (SELECT DISTINCT gram FROM cgrams WHERE doc_id % 10 = 0),
      |chits AS (
      |  SELECT g.doc_id, g.pos FROM cgrams g JOIN cbench USING (gram)
      |  WHERE g.doc_id % 10 <> 0),
      |cmarked AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos > coalesce(max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS new_span
      |  FROM chits),
      |cspanned AS (
      |  SELECT doc_id, pos,
      |    sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      |  FROM cmarked),
      |cspans AS (
      |  SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
      |    CAST(max(pos) + 8 AS INT) AS span_end, count(*) AS n_windows
      |  FROM cspanned GROUP BY doc_id, span_id)""".stripMargin

  private def shinglesSqlFrom(src: String): String =
    s"""SELECT DISTINCT doc_id, shingle FROM (
       |  SELECT doc_id,
       |    concat_ws(' ', tok,
       |      lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos),
       |      lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos)) AS shingle,
       |    lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS last_tok
       |  FROM (${posToksSqlFrom(src)}) pt) sh
       |WHERE last_tok IS NOT NULL""".stripMargin

  private val shinglesSql = shinglesSqlFrom("documents")

  // shared by tp_decontaminate and its bloom-prefiltered physical variant
  private val decontaminateSql =
    s"""WITH sh AS ($shinglesSql),
       |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
       |SELECT doc_id, count(*) AS n_hits
       |FROM sh JOIN bench USING (shingle)
       |WHERE doc_id % 97 <> 0
       |GROUP BY 1""".stripMargin

  /** Per-doc integer counts feeding the source-curation rollups: token
    * count, stopword token count (codegen `count_in_set`), distinct
    * token count, and the content hash — integers only, so every
    * source-level rate is one exact division.
    */
  private def sourcePerDoc(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), md5(col("text")).as("__h"),
        TextOps.tokens(col("text")).as("__t"))
      .select(col("source"), col("__h"),
        size(col("__t")).cast("long").as("__n"),
        graft.functions.TextExprs.countInSet(col("__t"),
          array(stopwords.map(lit): _*)).as("__s"),
        size(array_distinct(col("__t"))).cast("long").as("__d"))

  /** The shared per-doc CTE of the source-curation oracles — the same
    * integer counts [[sourcePerDoc]] computes.
    */
  private val sourcePerDocSql =
    """SELECT source, md5(text) AS h,
      |  CAST(len(toks) AS BIGINT) AS n,
      |  CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in')))
      |    AS BIGINT) AS s,
      |  CAST(len(list_distinct(toks)) AS BIGINT) AS d
      |FROM (SELECT source, text,
      |        list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
      |      FROM documents) t""".stripMargin

  private def mh(i: Int): String =
    s"min(substr(md5('mh$i|' || shingle), 1, 15)) AS mh$i"

  /** The full corpus-clean statement (quality gate ∧ exact-dup keeper ∧
    * near-dup component root) — `tp_corpus_clean`'s oracle, and the
    * clean stage of `tp_pipeline_e2e`'s (where it nests as a derived
    * table: DuckDB scopes a CTE body's own WITH RECURSIVE locally).
    * Defined after [[minhashSigSql]]; kept as one self-contained
    * statement so both uses stay byte-identical.
    */
  private lazy val corpusCleanSql =
    s"""WITH RECURSIVE cand AS (
       |WITH sig AS ($minhashSigSql),
       |bands AS (
       |  SELECT doc_id, 0 AS band, mh0 || mh1 AS band_key FROM sig
       |  UNION ALL SELECT doc_id, 1, mh2 || mh3 FROM sig
       |  UNION ALL SELECT doc_id, 2, mh4 || mh5 FROM sig
       |  UNION ALL SELECT doc_id, 3, mh6 || mh7 FROM sig)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM cand
       |  UNION SELECT id_b, id_a FROM cand),
       |reach(node, root) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node),
       |comp AS (
       |  SELECT node AS doc_id, min(root) AS component FROM reach GROUP BY 1),
       |q AS (
       |  SELECT doc_id,
       |    len(toks) AS n_tokens,
       |    len(list_filter(toks, t2 -> t2 IN ('the','a','of','and','to','in'))) * 1.0
       |      / len(toks) AS stop_ratio,
       |    len(list_distinct(toks)) * 1.0 / len(toks) AS distinct_ratio
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
       |        FROM documents) tq),
       |keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
       |SELECT d.doc_id, d.lang, d.n_chars
       |FROM documents d
       |  JOIN q ON q.doc_id = d.doc_id
       |  JOIN keepers k ON k.doc_id = d.doc_id
       |  JOIN comp c ON c.doc_id = d.doc_id AND c.doc_id = c.component
       |WHERE q.n_tokens >= 30 AND q.stop_ratio >= 0.05 AND q.distinct_ratio >= 0.4""".stripMargin

  private def minhashSigSqlFrom(src: String): String =
    s"""SELECT doc_id, ${(0 until 8).map(mh).mkString(", ")}
       |FROM (${shinglesSqlFrom(src)}) s GROUP BY doc_id""".stripMargin

  private val minhashSigSql = minhashSigSqlFrom("documents")

  /** SimHash fingerprints as `bits`-char '0'/'1' strings (mirrors
    * Dedup.simhash; md5-nibble bit extraction in integer arithmetic).
    */
  private def simhashSqlAt(bits: Int): String =
    s"""WITH tc0 AS (
       |  SELECT doc_id, tok, count(*) AS freq FROM ($posToksSql) pt GROUP BY 1, 2),
       |bits0 AS (
       |  SELECT doc_id, bit,
       |    sum(freq * (2 * (((strpos('0123456789abcdef',
       |        substr(substr(md5(tok), 1, ${(bits + 3) / 4}), CAST(bit // 4 AS INT) + 1, 1)) - 1)
       |      // (CASE bit % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) % 2) - 1)) AS bit_score
       |  FROM tc0 CROSS JOIN (SELECT unnest(range(0, $bits)) AS bit) b
       |  GROUP BY 1, 2)
       |SELECT doc_id,
       |  string_agg(CASE WHEN bit_score > 0 THEN '1' ELSE '0' END, '' ORDER BY bit) AS simhash
       |FROM bits0 GROUP BY doc_id""".stripMargin

  private val simhashSql = simhashSqlAt(64)

  /** Banded SimHash Hamming-pairs oracle at fingerprint width `bits`
    * over 4 bands (band key width = bits/4), maxDist 3 — the same
    * pigeonhole join the engine runs.
    */
  private def simhashPairsSqlAt(bits: Int): String = {
    val w = bits / 4
    s"""WITH sims AS (${simhashSqlAt(bits)}),
       |bands AS (
       |  SELECT doc_id, b AS band, substr(simhash, CAST(1 + $w * b AS INT), $w) AS band_key
       |  FROM sims CROSS JOIN (SELECT unnest(range(0, 4)) AS b) t),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT id_a, id_b,
       |    len(list_filter(range(1, ${bits + 1}), i ->
       |      substr(sa.simhash, CAST(i AS INT), 1) != substr(sb.simhash, CAST(i AS INT), 1)))
       |      AS hamming
       |  FROM cand
       |    JOIN sims sa ON sa.doc_id = id_a
       |    JOIN sims sb ON sb.doc_id = id_b) v
       |WHERE hamming <= 3""".stripMargin
  }

  /** 64-dim embeddings flattened to (vec_id, i, x) in double precision. */
  private val flatEmbSql =
    """SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |       CAST(unnest(embedding) AS DOUBLE) AS x
      |FROM embeddings""".stripMargin

  /** The declared sim_near_dup's SRP hyperplanes as SQL literals
    * (plane_id, i, w) with 1-based i matching generate_subscripts — the
    * planes are deterministic given the seed, so the oracle reproduces
    * the exact bucketing. Double.toString round-trips, so DuckDB parses
    * back the identical IEEE value.
    */
  private val srpPlanesValues: String = {
    val planes = Similarity.randomPlanes(numPlanes = 4, dim = 64, seed = 42L)
    (for {
      (plane, pid) <- planes.zipWithIndex
      (w, i) <- plane.zipWithIndex
    } yield s"($pid, ${i + 1}, $w)").mkString(", ")
  }

  /** The `sim_mmr_rerank` oracle: the same greedy selection the
    * `mmr_select` expression runs, unrolled as one CTE per pick. The λ
    * and (1−λ) factors are interpolated via `Double.toString` and CAST
    * to DOUBLE so DuckDB multiplies by the IDENTICAL IEEE values the JVM
    * computes with (a bare `0.3` literal would be the decimal 0.3, not
    * the binary `1.0 - 0.7`).
    */
  private def mmrOracle: String = {
    // integer micro-unit scoring, mirroring the mmr_select expression:
    // λₙ = round(λ·1000), relevance/cosines quantized to 1e-6 as
    // BIGINTs, score = λₙ·relµ − (1000−λₙ)·simµ exactly — no float
    // rounding in any pick comparison, and the reported mmr
    // (score / 1e9) is an exact integer→double conversion both engines
    // agree on. Every CTE is MATERIALIZED: the sel chain is referenced
    // multiple times per later step, and DuckDB's default CTE inlining
    // would re-expand it exponentially (and reopen the parquet per
    // expansion — the "too many open files" failure mode).
    val lamNum = math.round(MmrLambda * 1000.0)
    val oneMinusNum = 1000L - lamNum
    val picks = (2 to MmrK).map { p =>
      s"""sc$p AS MATERIALIZED (
         |  SELECT pl.query_id, pl.cand_id,
         |    $lamNum * pl.rel_u - $oneMinusNum * max(ps.s_u) AS score
         |  FROM pool pl
         |    JOIN psim ps ON ps.query_id = pl.query_id AND ps.id_a = pl.cand_id
         |    JOIN sel${p - 1} t ON t.query_id = ps.query_id AND t.cand_id = ps.id_b
         |    LEFT JOIN sel${p - 1} e
         |      ON e.query_id = pl.query_id AND e.cand_id = pl.cand_id
         |  WHERE e.cand_id IS NULL
         |  GROUP BY pl.query_id, pl.cand_id, pl.rel_u),
         |pick$p AS MATERIALIZED (
         |  SELECT query_id, cand_id, score, $p AS rank FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY score DESC, cand_id) AS rn
         |    FROM sc$p) x WHERE rn = 1),
         |sel$p AS MATERIALIZED (SELECT query_id, cand_id FROM sel${p - 1}
         |          UNION ALL SELECT query_id, cand_id FROM pick$p)""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to MmrK).map(p => s"SELECT * FROM pick$p").mkString("\n    UNION ALL ")
    s"""WITH flat AS MATERIALIZED ($flatEmbSql),
       |norms AS MATERIALIZED (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY 1),
       |rel0 AS MATERIALIZED (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    round(sum(q.x * c.x) / (nq.nrm * nc.nrm), 6) AS rel
       |  FROM flat q JOIN flat c ON q.i = c.i AND c.vec_id != q.vec_id
       |    JOIN norms nq ON nq.vec_id = q.vec_id
       |    JOIN norms nc ON nc.vec_id = c.vec_id
       |  WHERE q.vec_id % 100 = 0
       |  GROUP BY q.vec_id, c.vec_id, nq.nrm, nc.nrm),
       |pool AS MATERIALIZED (
       |  SELECT query_id, cand_id,
       |    CAST(round(rel * 1000000) AS BIGINT) AS rel_u
       |  FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rn
       |    FROM rel0) x
       |  WHERE rn <= $MmrPoolK),
       |psim AS MATERIALIZED (
       |  SELECT pa.query_id, pa.cand_id AS id_a, pb.cand_id AS id_b,
       |    CAST(round(sum(fa.x * fb.x) / (na.nrm * nb.nrm) * 1000000) AS BIGINT) AS s_u
       |  FROM pool pa JOIN pool pb
       |    ON pa.query_id = pb.query_id AND pa.cand_id != pb.cand_id
       |    JOIN flat fa ON fa.vec_id = pa.cand_id
       |    JOIN flat fb ON fb.vec_id = pb.cand_id AND fb.i = fa.i
       |    JOIN norms na ON na.vec_id = pa.cand_id
       |    JOIN norms nb ON nb.vec_id = pb.cand_id
       |  GROUP BY pa.query_id, pa.cand_id, pb.cand_id, na.nrm, nb.nrm),
       |pick1 AS MATERIALIZED (
       |  SELECT query_id, cand_id, score, 1 AS rank FROM (
       |    SELECT query_id, cand_id, $lamNum * rel_u AS score,
       |      row_number() OVER (
       |        PARTITION BY query_id ORDER BY $lamNum * rel_u DESC, cand_id) AS rn
       |    FROM pool) x WHERE rn = 1),
       |sel1 AS MATERIALIZED (SELECT query_id, cand_id FROM pick1),
       |$picks
       |SELECT query_id, CAST(rank AS INT) AS rank, cand_id AS neighbor_id,
       |  CAST(score AS DOUBLE) / CAST(1000000000 AS DOUBLE) AS mmr
       |FROM ($unionAll) u""".stripMargin
  }

  /** The full SRP near-dup pair query (sim_near_dup's oracle), reusable
    * as the pair source of the sim_dedup_apply closure.
    */
  private val srpPairsSql =
    s"""WITH flat AS ($flatEmbSql),
       |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY 1),
       |planes(plane_id, i, w) AS (VALUES $srpPlanesValues),
       |proj AS (
       |  SELECT f.vec_id, p.plane_id, sum(f.x * p.w) AS s
       |  FROM flat f JOIN planes p ON f.i = p.i
       |  GROUP BY 1, 2),
       |buckets AS (
       |  SELECT vec_id,
       |    string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY plane_id)
       |      AS bucket
       |  FROM proj GROUP BY 1),
       |cand AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM buckets a JOIN buckets b
       |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |dots AS (
       |  SELECT c.id_a, c.id_b, sum(fa.x * fb.x) AS dp
       |  FROM cand c
       |    JOIN flat fa ON fa.vec_id = c.id_a
       |    JOIN flat fb ON fb.vec_id = c.id_b AND fb.i = fa.i
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, dp / (na.nrm * nb.nrm) AS cosine_sim
       |FROM dots
       |  JOIN norms na ON na.vec_id = id_a
       |  JOIN norms nb ON nb.vec_id = id_b
       |WHERE dp / (na.nrm * nb.nrm) >= 0.4""".stripMargin

  val oracle: Map[String, String] = Map(
    "dd_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id, count(*) AS dup_count
        |FROM documents GROUP BY 1""".stripMargin,

    // md5 of the normalized text: clean charset + lowercase + tokenize +
    // single-space rejoin (the same normalization the t1 chain replays)
    "dd_exact_normalized" ->
      """SELECT md5(norm) AS content_hash, min(doc_id) AS keeper_id,
        |  count(*) AS dup_count
        |FROM (SELECT doc_id,
        |        array_to_string(list_filter(string_split_regex(
        |          lower(regexp_replace(text,
        |            '[~!@#$%^&*()\-+\[\]"'':.,<>]', '', 'g')), '\s+'),
        |          t -> t != ''), ' ') AS norm
        |      FROM documents) t
        |GROUP BY 1""".stripMargin,

    // exact vocab counts/overlap/Jaccard replayed per word (whitespace
    // tokens, empties dropped); the HLL estimate is engine-specific, so
    // the oracle pins its BOUND flag, not its value (a7b's convention)
    "dd_vocab_overlap" ->
      """WITH w AS (
        |  SELECT word, max(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS a,
        |         max(CASE WHEN lang != 'en' THEN 1 ELSE 0 END) AS b
        |  FROM (SELECT lang,
        |          unnest(list_filter(string_split_regex(text, '\s+'),
        |            t -> t != '')) AS word
        |        FROM documents) tk
        |  GROUP BY 1)
        |SELECT CAST(sum(a) AS BIGINT) AS n_vocab_en,
        |  CAST(sum(b) AS BIGINT) AS n_vocab_rest,
        |  CAST(sum(a * b) AS BIGINT) AS overlap_exact,
        |  round(CAST(sum(a * b) AS DOUBLE)
        |    / (sum(a) + sum(b) - sum(a * b)), 6) AS jaccard,
        |  1 AS sketch_ok
        |FROM w""".stripMargin,

    "dd_shingles" -> shinglesSql,

    // identical gram + merge construction as Dedup.contaminatedSpans
    // over the %10 benchmark split (shared by the cut oracle below)
    "tp_decontaminate_spans" -> s"$contamSpansSql\nSELECT * FROM cspans",

    "tp_cut_spans" ->
      s"""$contamSpansSql,
         |tokpos AS (
         |  SELECT doc_id, generate_subscripts(tk, 1) - 1 AS pos, unnest(tk) AS tok
         |  FROM toks WHERE doc_id % 10 <> 0),
         |kept AS (
         |  SELECT t.doc_id, t.pos, t.tok FROM tokpos t
         |  WHERE NOT EXISTS (SELECT 1 FROM cspans s
         |    WHERE s.doc_id = t.doc_id
         |      AND t.pos >= s.span_start AND t.pos < s.span_end))
         |SELECT d.doc_id, coalesce(k.clean_text, '') AS clean_text
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
         |LEFT JOIN (
         |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
         |  FROM kept GROUP BY 1) k USING (doc_id)""".stripMargin,

    // identical positional-k-gram + interval-merge construction as
    // Dedup.repeatedSpans (k = 8, raw whitespace tokens)
    "dd_repeated_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, i AS pos, md5(array_to_string(tk[i+1:i+8], ' ')) AS gram
        |  FROM toks, LATERAL unnest(range(0, greatest(len(tk) - 7, 0))) t(i)),
        |dup AS (SELECT gram FROM grams GROUP BY 1 HAVING count(DISTINCT doc_id) > 1),
        |hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
        |marked AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > coalesce(max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS new_span
        |  FROM hits),
        |spans AS (
        |  SELECT doc_id, pos,
        |    sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
        |  FROM marked)
        |SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
        |  CAST(max(pos) + 8 AS INT) AS span_end, count(*) AS n_windows
        |FROM spans GROUP BY doc_id, span_id""".stripMargin,

    // CDC chunking replayed: same whitespace tokens, boundary = rolling
    // hash of the 4-token window ending at j ≡ 0 mod 16 (OracleFold's
    // UTF-8 byte fold — engine-exact on any corpus), chunk id =
    // boundaries strictly before j, chunk hash over the space-rejoined
    // slice, shared = (hash, len) in >= 2 distinct docs
    "dd_cdc_chunks" -> {
      def fold(sExpr: String) = OracleFold.rollingHashSql(sExpr)
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS tk
         |  FROM documents),
         |pos AS (
         |  SELECT doc_id, tk, j
         |  FROM toks, LATERAL unnest(range(1, len(tk) + 1)) t(j)),
         |bnd AS (
         |  SELECT doc_id, j,
         |    CASE WHEN j >= 4 AND
         |      ${fold("array_to_string(tk[j-3:j], ' ')")} % 16 = 0
         |    THEN 1 ELSE 0 END AS b
         |  FROM pos),
         |cid AS (
         |  SELECT doc_id, j,
         |    coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY j
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
         |  FROM bnd),
         |chunks AS (
         |  SELECT doc_id, chunk_id, min(j) AS s, max(j) AS e
         |  FROM cid GROUP BY 1, 2),
         |hashed AS (
         |  SELECT ch.doc_id, CAST(ch.e - ch.s + 1 AS BIGINT) AS n_tokens,
         |    ${fold("array_to_string(tk[ch.s:ch.e], ' ')")} AS chunk_hash
         |  FROM chunks ch JOIN toks USING (doc_id)),
         |shared AS (
         |  SELECT chunk_hash, n_tokens FROM hashed
         |  GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 2)
         |SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN s.chunk_hash IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_shared_chunks
         |FROM hashed h LEFT JOIN shared s USING (chunk_hash, n_tokens)
         |GROUP BY 1""".stripMargin
    },

    // the apply replayed end-to-end: same boundary fold + chunking as
    // dd_cdc_chunks, repeated = (hash, len) occurring >= 2 times
    // ANYWHERE, canonical = first (doc_id, start), every other
    // occurrence's token range excised, text re-joined in token order
    "dd_cdc_apply" -> {
      def fold(sExpr: String) = OracleFold.rollingHashSql(sExpr)
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS tk
         |  FROM documents),
         |pos AS (
         |  SELECT doc_id, tk, j
         |  FROM toks, LATERAL unnest(range(1, len(tk) + 1)) t(j)),
         |bnd AS (
         |  SELECT doc_id, j,
         |    CASE WHEN j >= 4 AND
         |      ${fold("array_to_string(tk[j-3:j], ' ')")} % 16 = 0
         |    THEN 1 ELSE 0 END AS b
         |  FROM pos),
         |cid AS (
         |  SELECT doc_id, j,
         |    coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY j
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
         |  FROM bnd),
         |chunks AS (
         |  SELECT doc_id, chunk_id, min(j) AS s, max(j) AS e
         |  FROM cid GROUP BY 1, 2),
         |occ AS (
         |  SELECT ch.doc_id, ch.s, ch.e, CAST(ch.e - ch.s + 1 AS BIGINT) AS n_tokens,
         |    ${fold("array_to_string(tk[ch.s:ch.e], ' ')")} AS chunk_hash
         |  FROM chunks ch JOIN toks USING (doc_id)),
         |rep AS (
         |  SELECT doc_id, s, e, n_tokens,
         |    count(*) OVER (PARTITION BY chunk_hash, n_tokens) AS occ_n,
         |    row_number() OVER (PARTITION BY chunk_hash, n_tokens
         |      ORDER BY doc_id, s) AS rn
         |  FROM occ),
         |cut AS (SELECT doc_id, s, e, n_tokens FROM rep WHERE occ_n >= 2 AND rn >= 2),
         |kept AS (
         |  SELECT p.doc_id, p.j, p.tk[p.j] AS tok FROM pos p
         |  WHERE NOT EXISTS (SELECT 1 FROM cut c
         |    WHERE c.doc_id = p.doc_id AND p.j >= c.s AND p.j <= c.e)),
         |stats AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cut_chunks,
         |    CAST(sum(n_tokens) AS BIGINT) AS n_cut_tokens
         |  FROM cut GROUP BY 1)
         |SELECT d.doc_id, coalesce(k.clean_text, '') AS clean_text,
         |  coalesce(st.n_cut_chunks, CAST(0 AS BIGINT)) AS n_cut_chunks,
         |  coalesce(st.n_cut_tokens, CAST(0 AS BIGINT)) AS n_cut_tokens
         |FROM documents d
         |LEFT JOIN (
         |  SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS clean_text
         |  FROM kept GROUP BY 1) k USING (doc_id)
         |LEFT JOIN stats st USING (doc_id)""".stripMargin
    },

    "tp_decontaminate" -> decontaminateSql,

    // IDENTICAL semantics to tp_decontaminate — the bloom prefilter is a
    // physical-plan change only (false positives die at the confirm join)
    "tp_decontaminate_bloom" -> decontaminateSql,

    // same 8-gram construction as the span oracles, aggregated from the
    // BENCHMARK side: per eval doc, distinct leaking corpus docs + grams
    "tp_contamination_report" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, md5(array_to_string(tk[i+1:i+8], ' ')) AS gram
        |  FROM toks, LATERAL unnest(range(0, greatest(len(tk) - 7, 0))) t(i)),
        |b AS (SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % 10 = 0),
        |c AS (SELECT DISTINCT doc_id AS corpus_id, gram FROM grams WHERE doc_id % 10 <> 0)
        |SELECT b.doc_id, count(DISTINCT c.corpus_id) AS n_corpus_docs,
        |  count(DISTINCT b.gram) AS n_leaked_grams
        |FROM b JOIN c USING (gram)
        |GROUP BY 1""".stripMargin,

    // sh mirrors the declared query's maxDf=50 hot-shingle cap (a no-op on
    // this data — observed max df is 25 at sf0.1 — but part of the plan).
    "dd_jaccard_pairs" ->
      s"""WITH sh0 AS ($shinglesSql),
         |sh AS (
         |  SELECT doc_id, shingle FROM (
         |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
         |    FROM sh0) c
         |  WHERE df <= 50),
         |sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_size
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  inter_size * 1.0 / (sa.set_size + sb.set_size - inter_size) AS jaccard
         |FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |WHERE inter_size * 1.0 / (sa.set_size + sb.set_size - inter_size) >= 0.5""".stripMargin,

    // the same shingle/cap machinery, the asymmetric min-size scorer
    "dd_containment_pairs" ->
      s"""WITH sh0 AS ($shinglesSql),
         |sh AS (
         |  SELECT doc_id, shingle FROM (
         |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
         |    FROM sh0) c
         |  WHERE df <= 50),
         |sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_size
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  inter_size * 1.0 / least(sa.set_size, sb.set_size) AS containment
         |FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |WHERE inter_size * 1.0 / least(sa.set_size, sb.set_size) >= 0.8""".stripMargin,

    // Same tokenization as ta_token_counts, same symmetric df<=50 cap as
    // dd_jaccard_pairs; weights and norms in double, 6-sig-digit rounding
    // absorbs summation-order differences.
    "dd_cosine_pairs" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
        |fd AS (
        |  SELECT doc_id, term, tf, count(*) OVER (PARTITION BY term) AS df
        |  FROM tf),
        |n AS (SELECT count(*) AS nd FROM documents),
        |wts AS (
        |  SELECT doc_id, term, tf * ln(nd * 1.0 / df) AS w
        |  FROM fd CROSS JOIN n
        |  WHERE df <= 50),
        |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM wts GROUP BY 1),
        |dots AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w) AS dp
        |  FROM wts a JOIN wts b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, dp / (na.nrm * nb.nrm) AS cosine_sim
        |FROM dots
        |  JOIN nrm na ON na.doc_id = id_a
        |  JOIN nrm nb ON nb.doc_id = id_b
        |WHERE dp / (na.nrm * nb.nrm) >= 0.3""".stripMargin,

    "dd_minhash_sig" -> minhashSigSql,

    "dd_minhash_lsh" ->
      s"""WITH sig AS ($minhashSigSql),
         |bands AS (
         |  SELECT doc_id, 0 AS band, mh0 || mh1 AS band_key FROM sig
         |  UNION ALL SELECT doc_id, 1, mh2 || mh3 FROM sig
         |  UNION ALL SELECT doc_id, 2, mh4 || mh5 FROM sig
         |  UNION ALL SELECT doc_id, 3, mh6 || mh7 FROM sig)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id""".stripMargin,

    // both pair replays composed, reduced to the confusion counts
    "dd_lsh_quality" ->
      s"""WITH sig AS ($minhashSigSql),
         |bands AS (
         |  SELECT doc_id, 0 AS band, mh0 || mh1 AS band_key FROM sig
         |  UNION ALL SELECT doc_id, 1, mh2 || mh3 FROM sig
         |  UNION ALL SELECT doc_id, 2, mh4 || mh5 FROM sig
         |  UNION ALL SELECT doc_id, 3, mh6 || mh7 FROM sig),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |sh0 AS ($shinglesSql),
         |sh AS (
         |  SELECT doc_id, shingle FROM (
         |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
         |    FROM sh0) c
         |  WHERE df <= 50),
         |sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_size
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT id_a, id_b FROM inter
         |    JOIN sizes sa ON sa.doc_id = id_a
         |    JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE inter_size * 1.0 / (sa.set_size + sb.set_size - inter_size) >= 0.5)
         |SELECT
         |  (SELECT count(*) FROM cand) AS n_candidates,
         |  (SELECT count(*) FROM truth) AS n_true_pairs,
         |  (SELECT count(*) FROM cand JOIN truth USING (id_a, id_b)) AS n_hit,
         |  (SELECT count(*) FROM truth) -
         |    (SELECT count(*) FROM cand JOIN truth USING (id_a, id_b)) AS n_missed""".stripMargin,

    "dd_components" ->
      s"""WITH RECURSIVE cand AS (
         |WITH sig AS ($minhashSigSql),
         |bands AS (
         |  SELECT doc_id, 0 AS band, mh0 || mh1 AS band_key FROM sig
         |  UNION ALL SELECT doc_id, 1, mh2 || mh3 FROM sig
         |  UNION ALL SELECT doc_id, 2, mh4 || mh5 FROM sig
         |  UNION ALL SELECT doc_id, 3, mh6 || mh7 FROM sig)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM cand
         |  UNION SELECT id_b, id_a FROM cand),
         |reach(node, root) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node)
         |SELECT node AS doc_id, min(root) AS component
         |FROM reach GROUP BY 1""".stripMargin,

    // same closure over the MULTILINGUAL fixture + the tp_hash_split
    // rolling hash applied to the component label: every member of a
    // component lands on one side (the closure's shingle→md5 chain is
    // thereby certified on non-ASCII text; the reach seed keeps plain
    // documents — doc_ids are identical either way)
    "tp_group_split" ->
      s"""WITH RECURSIVE cand AS (
         |WITH sig AS (${minhashSigSqlFrom(s"(${OracleFold.mlDocsSql}) mldocs")}),
         |bands AS (
         |  SELECT doc_id, 0 AS band, mh0 || mh1 AS band_key FROM sig
         |  UNION ALL SELECT doc_id, 1, mh2 || mh3 FROM sig
         |  UNION ALL SELECT doc_id, 2, mh4 || mh5 FROM sig
         |  UNION ALL SELECT doc_id, 3, mh6 || mh7 FROM sig)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM cand
         |  UNION SELECT id_b, id_a FROM cand),
         |reach(node, root) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node),
         |comp AS (
         |  SELECT node AS doc_id, min(root) AS component FROM reach GROUP BY 1)
         |SELECT doc_id, component,
         |  CASE WHEN ${OracleFold.rollingHashSql("CAST(component AS VARCHAR)")} % 10 < 8
         |  THEN 'train' ELSE 'test' END AS split
         |FROM comp""".stripMargin,

    // same closure, rolled up to the component-size histogram
    "dd_cluster_sizes" ->
      s"""WITH RECURSIVE cand AS (
         |WITH sig AS ($minhashSigSql),
         |bands AS (
         |  SELECT doc_id, 0 AS band, mh0 || mh1 AS band_key FROM sig
         |  UNION ALL SELECT doc_id, 1, mh2 || mh3 FROM sig
         |  UNION ALL SELECT doc_id, 2, mh4 || mh5 FROM sig
         |  UNION ALL SELECT doc_id, 3, mh6 || mh7 FROM sig)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM cand
         |  UNION SELECT id_b, id_a FROM cand),
         |reach(node, root) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node),
         |comp AS (
         |  SELECT node, min(root) AS component FROM reach GROUP BY 1),
         |sz AS (
         |  SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1)
         |SELECT cluster_size, count(*) AS n_clusters FROM sz GROUP BY 1""".stripMargin,

    "dd_editdist_pairs" ->
      """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
         FROM part a JOIN part b
           ON substr(a.p_name, 1, 2) = substr(b.p_name, 1, 2)
           AND a.p_partkey < b.p_partkey
           AND abs(length(a.p_name) - length(b.p_name)) <= 2
           AND a.p_name != b.p_name
         WHERE levenshtein(a.p_name, b.p_name) <= 3""",

    "dd_apply" ->
      s"""WITH RECURSIVE cand AS (
         |WITH sig AS ($minhashSigSql),
         |bands AS (
         |  SELECT doc_id, 0 AS band, mh0 || mh1 AS band_key FROM sig
         |  UNION ALL SELECT doc_id, 1, mh2 || mh3 FROM sig
         |  UNION ALL SELECT doc_id, 2, mh4 || mh5 FROM sig
         |  UNION ALL SELECT doc_id, 3, mh6 || mh7 FROM sig)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM cand
         |  UNION SELECT id_b, id_a FROM cand),
         |reach(node, root) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node),
         |comp AS (
         |  SELECT node AS doc_id, min(root) AS component FROM reach GROUP BY 1)
         |SELECT d.doc_id, d.lang, d.n_chars
         |FROM documents d JOIN comp c ON d.doc_id = c.doc_id
         |WHERE c.doc_id = c.component""".stripMargin,

    "dd_simhash" -> simhashSql,

    "dd_simhash_pairs" -> simhashPairsSqlAt(64),

    "dd_simhash128" -> simhashSqlAt(128),

    "dd_simhash128_pairs" -> simhashPairsSqlAt(128),

    "sim_topk" ->
      s"""WITH flat AS ($flatEmbSql),
         |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY 1),
         |dots AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, sum(q.x * c.x) AS dp
         |  FROM flat q JOIN flat c ON q.i = c.i
         |  WHERE q.vec_id % 100 = 0 AND c.vec_id != q.vec_id
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT query_id, neighbor_id, dp / (nq.nrm * nc.nrm) AS cosine_sim
         |  FROM dots
         |    JOIN norms nq ON nq.vec_id = query_id
         |    JOIN norms nc ON nc.vec_id = neighbor_id)
         |SELECT query_id, neighbor_id, cosine_sim, rank FROM (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS INT) AS rank
         |  FROM scored) r
         |WHERE rank <= 5""".stripMargin,

    // The ANN recall check: every query must return a full top-5 and
    // recover >= 2 of the exact top-5 from 6 of 16 probed cells. The
    // oracle pins the query set, the result-set size, and the accuracy
    // floor — a driver-visible check, not a row count.
    "sim_ann_ivf" ->
      """SELECT vec_id AS query_id, 5 AS n_results, 1 AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin,

    // The KNN-graph contract: EVERY corpus point has a full top-5
    // neighbor list and clears the per-point recall floor vs the exact
    // graph.
    "sim_knn_graph" ->
      "SELECT vec_id AS query_id, 5 AS n_neighbors, 1 AS recall_ok FROM embeddings",

    // Exact KNN-graph edges (brute-force top-5 with cosine >= 0.4,
    // replayed flat) symmetrized, then the same recursive min-label
    // closure as dd_components.
    "sim_knn_components" ->
      s"""WITH RECURSIVE cand AS (
         |WITH flat AS ($flatEmbSql),
         |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY 1),
         |dots AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS nid, sum(a.x * b.x) AS dp
         |  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id <> b.vec_id
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT qid, nid, dp / (na.nrm * nb.nrm) AS cs
         |  FROM dots
         |    JOIN norms na ON na.vec_id = qid
         |    JOIN norms nb ON nb.vec_id = nid),
         |top AS (
         |  SELECT qid, nid, cs,
         |    row_number() OVER (PARTITION BY qid ORDER BY cs DESC, nid ASC) AS rk
         |  FROM scored)
         |SELECT DISTINCT least(qid, nid) AS id_a, greatest(qid, nid) AS id_b
         |FROM top WHERE rk <= 5 AND cs >= 0.4),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM cand
         |  UNION SELECT id_b, id_a FROM cand),
         |reach(node, root) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node)
         |SELECT node AS vec_id, min(root) AS component
         |FROM reach GROUP BY 1""".stripMargin,

    // Same contract for the IVFPQ+refine path: full top-5 per query,
    // recall floor held after ADC + exact rerank.
    "sim_ann_ivfpq" ->
      """SELECT vec_id AS query_id, 5 AS n_results, 1 AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin,

    // Semantic decontamination replayed brute-force: every (bench,
    // corpus) pair's rounded cosine; the drop set is the bench ids plus
    // every corpus id reaching the threshold against any bench vector.
    "tp_decontaminate_semantic" ->
      s"""WITH flat AS MATERIALIZED ($flatEmbSql),
         |norms AS MATERIALIZED (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY 1),
         |hits AS (
         |  SELECT c.vec_id
         |  FROM flat q JOIN flat c ON q.i = c.i AND c.vec_id != q.vec_id
         |    JOIN norms nq ON nq.vec_id = q.vec_id
         |    JOIN norms nc ON nc.vec_id = c.vec_id
         |  WHERE q.vec_id % 10 = 0
         |  GROUP BY c.vec_id, q.vec_id, nq.nrm, nc.nrm
         |  HAVING round(sum(q.x * c.x) / (nq.nrm * nc.nrm), 6) >= $SemDecontThreshold)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id % 10 != 0 AND vec_id NOT IN (SELECT vec_id FROM hits)""".stripMargin,

    // Cross-corpus ANN join replayed brute-force: every odd×even pair's
    // rounded cosine, (xc_sim DESC, neighbor ASC) top-3 per query — the
    // identical portable cut on the identical rounded value (exact at
    // full probe, so the replay is value-for-value, not a recall flag).
    "sim_ann_join" ->
      s"""WITH flat AS MATERIALIZED ($flatEmbSql),
         |norms AS MATERIALIZED (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY 1),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(sum(q.x * c.x) / (nq.nrm * nc.nrm), 6) AS xc_sim
         |  FROM flat q JOIN flat c ON q.i = c.i
         |    JOIN norms nq ON nq.vec_id = q.vec_id
         |    JOIN norms nc ON nc.vec_id = c.vec_id
         |  WHERE q.vec_id % 2 = 1 AND c.vec_id % 2 = 0
         |  GROUP BY 1, 2, nq.nrm, nc.nrm)
         |SELECT query_id, neighbor_id, xc_sim, CAST(rn AS INT) AS rank FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY xc_sim DESC, neighbor_id) AS rn
         |  FROM scored) x WHERE rn <= 3""".stripMargin,

    // Same contract for the IVFOPQ+refine path: full top-5 per query,
    // recall floor held after rotated-space ADC + exact rerank.
    "sim_ann_opq" ->
      """SELECT vec_id AS query_id, 5 AS n_results, 1 AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin,

    // And for the IVF-SQ8+refine path: full top-5 per query, recall
    // floor held after int8 scoring + exact rerank.
    "sim_ann_sq8" ->
      """SELECT vec_id AS query_id, 5 AS n_results, 1 AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin,

    // Hard negatives replayed brute-force: every pair's rounded cosine,
    // different-label + sub-cap filter, (hn_sim DESC, neighbor ASC)
    // top-5 — the identical portable cut on the identical rounded value.
    "sim_hard_negatives" ->
      s"""WITH flat AS MATERIALIZED ($flatEmbSql),
         |norms AS MATERIALIZED (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY 1),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(sum(q.x * c.x) / (nq.nrm * nc.nrm), 6) AS hn_sim
         |  FROM flat q JOIN flat c ON q.i = c.i AND c.vec_id != q.vec_id
         |    JOIN norms nq ON nq.vec_id = q.vec_id
         |    JOIN norms nc ON nc.vec_id = c.vec_id
         |  WHERE q.vec_id % 100 = 0
         |  GROUP BY 1, 2, nq.nrm, nc.nrm),
         |banded AS (
         |  SELECT s.query_id, s.neighbor_id, s.hn_sim
         |  FROM scored s
         |    JOIN embeddings ql ON ql.vec_id = s.query_id
         |    JOIN embeddings nl ON nl.vec_id = s.neighbor_id
         |  WHERE s.hn_sim < 0.95 AND ql.label != nl.label)
         |SELECT query_id, neighbor_id, hn_sim, CAST(rn AS INT) AS rank FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY hn_sim DESC, neighbor_id) AS rn
         |  FROM banded) x WHERE rn <= 5""".stripMargin,

    // Retrieval metrics replayed in full: brute-force exact top-5 (the
    // same rank the declared query's memoized full-probe result holds,
    // bit-parity proven by the sim_knn_components oracle), label joins,
    // the identical rank-discounted folds. generate_series is LATERAL
    // per query for the ideal DCG. n_rel sums to HUGEINT — CAST before
    // dividing (house DuckDB trap list).
    "ret_eval_metrics" ->
      s"""WITH flat AS MATERIALIZED ($flatEmbSql),
         |norms AS MATERIALIZED (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY 1),
         |scored AS MATERIALIZED (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    sum(q.x * c.x) / (nq.nrm * nc.nrm) AS cs
         |  FROM flat q JOIN flat c ON q.i = c.i AND c.vec_id != q.vec_id
         |    JOIN norms nq ON nq.vec_id = q.vec_id
         |    JOIN norms nc ON nc.vec_id = c.vec_id
         |  WHERE q.vec_id % 100 = 0
         |  GROUP BY 1, 2, nq.nrm, nc.nrm),
         |topk AS (
         |  SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rn
         |    FROM scored) x WHERE rn <= 5),
         |lab AS (SELECT vec_id, label FROM embeddings),
         |labc AS (SELECT label, count(*) AS n_label FROM lab GROUP BY 1),
         |rel AS (
         |  SELECT t.query_id, ql.label AS qlabel, t.rank,
         |    CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END AS rel
         |  FROM topk t
         |    JOIN lab ql ON ql.vec_id = t.query_id
         |    JOIN lab nl ON nl.vec_id = t.neighbor_id),
         |agg AS (
         |  SELECT query_id, qlabel,
         |    CAST(sum(rel) AS BIGINT) AS n_rel,
         |    sum(CAST(rel AS DOUBLE) / log2(rank + 1)) AS dcg,
         |    min(CASE WHEN rel = 1 THEN rank END) AS first_rel
         |  FROM rel GROUP BY 1, 2),
         |fin AS (
         |  SELECT a.*, c.n_label,
         |    least(c.n_label - 1, 5) AS rk
         |  FROM agg a JOIN labc c ON c.label = a.qlabel),
         |series AS (SELECT unnest(range(1, 6)) AS i),
         |ideal AS (
         |  SELECT f.query_id, sum(1.0 / log2(s.i + 1)) AS idcg
         |  FROM fin f JOIN series s ON s.i <= f.rk
         |  GROUP BY 1)
         |SELECT f.query_id,
         |  round(CAST(f.n_rel AS DOUBLE) / 5, 6) AS p_at_k,
         |  CASE WHEN f.n_label > 1
         |    THEN round(CAST(f.n_rel AS DOUBLE) / (f.n_label - 1), 6) END AS recall_at_k,
         |  round(coalesce(1.0 / f.first_rel, 0.0), 6) AS rr,
         |  CASE WHEN f.rk >= 1 THEN round(f.dcg / i.idcg, 6) END AS ndcg_at_k
         |FROM fin f LEFT JOIN ideal i ON i.query_id = f.query_id""".stripMargin,

    // A freshly built index self-reports zero drift (current mean sq
    // assignment distance == the sidecar's build-time value).
    "sim_ivf_drift" -> "SELECT 1 AS drift_ok, 1 AS skew_ok",

    // Mirrors srpNearDupPairs: same seeded planes (inlined literals), same
    // bucket key, same in-bucket cosine verify at threshold 0.4.
    "sim_near_dup" -> srpPairsSql,

    // exact radius set, replayed flat: every (query, other) cosine at
    // full probe equals the brute-force filter
    "sim_radius" ->
      s"""WITH flat AS ($flatEmbSql),
         |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY 1),
         |q AS (SELECT vec_id FROM embeddings WHERE vec_id % 200 = 0),
         |dots AS (
         |  SELECT qa.vec_id AS query_id, fb.vec_id AS neighbor_id,
         |    sum(fa.x * fb.x) AS dp
         |  FROM q qa
         |    JOIN flat fa ON fa.vec_id = qa.vec_id
         |    JOIN flat fb ON fb.i = fa.i AND fb.vec_id <> qa.vec_id
         |  GROUP BY 1, 2)
         |SELECT query_id, neighbor_id, dp / (na.nrm * nb.nrm) AS cosine_sim
         |FROM dots
         |  JOIN norms na ON na.vec_id = query_id
         |  JOIN norms nb ON nb.vec_id = neighbor_id
         |WHERE dp / (na.nrm * nb.nrm) >= 0.2""".stripMargin,

    // same pair construction, then the recursive closure + min-id-root
    // keep rule (the dd_components/dd_apply oracle pattern over the
    // embedding pair graph)
    "sim_dedup_apply" ->
      s"""WITH RECURSIVE pairs AS ($srpPairsSql),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(node, root) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node),
         |comp AS (SELECT node, min(root) AS component FROM reach GROUP BY 1)
         |SELECT node AS vec_id FROM comp WHERE node = component""".stripMargin,

    "sim_quantize" ->
      """SELECT vec_id, scale,
        |  array_to_string(
        |    list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) / scale) AS INT)),
        |    ',') AS q
        |FROM (
        |  SELECT vec_id, embedding,
        |    greatest(list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))), 1e-12)
        |      / 127.0 AS scale
        |  FROM embeddings) t""".stripMargin,

    // The greedy MMR selection replayed as chained per-pick CTEs: pool
    // by ROUNDED relevance (the engine-portable cut), pairwise candidate
    // cosines rounded to 6dp, then one CTE per pick — each scores the
    // unselected pool against the selected set and takes the
    // (mmr DESC, cand_id ASC) head, exactly the expression's arithmetic.
    "sim_mmr_rerank" -> mmrOracle,

    // RRF fusion: both arms' rank lists (each arm its own oracle-exact
    // SQL — the t8 BM25 top-20 and the sim_topk-style dense top-20 for
    // query vector 0), full-outer joined, 1/(60+rank) summed.
    "ret_hybrid_rrf" ->
      s"""WITH lex AS (
         |  SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY bm25 DESC, doc_id) AS INT) AS rank_lex
         |  FROM (${TextPipeline.bm25TopSql}) b),
         |flat AS ($flatEmbSql),
         |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY 1),
         |dscored AS (
         |  SELECT c.vec_id AS doc_id, sum(q.x * c.x) / (nq.nrm * nc.nrm) AS cos
         |  FROM flat q JOIN flat c ON q.i = c.i AND c.vec_id != q.vec_id
         |    JOIN norms nq ON nq.vec_id = q.vec_id
         |    JOIN norms nc ON nc.vec_id = c.vec_id
         |  WHERE q.vec_id = 0
         |  GROUP BY c.vec_id, nq.nrm, nc.nrm),
         |dense AS (
         |  SELECT doc_id, CAST(rn AS INT) AS rank_dense FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rn
         |    FROM dscored) x
         |  WHERE rn <= 20)
         |SELECT COALESCE(l.doc_id, de.doc_id) AS doc_id,
         |  round(COALESCE(CAST(1 AS DOUBLE) / (60 + l.rank_lex), 0) +
         |        COALESCE(CAST(1 AS DOUBLE) / (60 + de.rank_dense), 0), 6) AS rrf,
         |  l.rank_lex, de.rank_dense
         |FROM lex l FULL JOIN dense de ON l.doc_id = de.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,

    "sk_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_lines, sum(l_quantity) AS sum_qty
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    // same component CTE as dd_apply, plus the quality + exact-keeper gates
    "tp_corpus_clean" -> corpusCleanSql,

    // CASE-guarded ratios: an all-empty source has sum(n) = 0, where
    // DuckDB's double division gives NaN but Spark gives NULL — both
    // sides pin 0.0 (see the engine-side guard)
    "tp_source_stats" ->
      s"""WITH pd AS ($sourcePerDocSql)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS n_tokens,
         |  CASE WHEN sum(n) = 0 THEN 0.0
         |    ELSE CAST(sum(s) AS DOUBLE) / CAST(sum(n) AS DOUBLE) END AS stop_ratio,
         |  CASE WHEN sum(n) = 0 THEN 0.0
         |    ELSE CAST(sum(d) AS DOUBLE) / CAST(sum(n) AS DOUBLE) END AS distinct_ratio,
         |  1.0 - CAST(count(DISTINCT h) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    AS dup_rate
         |FROM pd GROUP BY 1""".stripMargin,

    // the identical cross-multiplied threshold in HUGEINT (DuckDB's
    // exact wide integer — decimal(38,0)'s role on the Spark side)
    "tp_source_filter" ->
      s"""WITH pd AS ($sourcePerDocSql),
         |ps AS (SELECT source, CAST(sum(d) AS HUGEINT) AS sd,
         |         CAST(sum(n) AS HUGEINT) AS sn
         |       FROM pd GROUP BY 1),
         |tot AS (SELECT CAST(sum(sd) AS HUGEINT) AS td,
         |          CAST(sum(sn) AS HUGEINT) AS tn FROM ps),
         |kept AS (SELECT source FROM ps, tot WHERE sd * tn >= td * sn)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN kept USING (source)""".stripMargin,

    // The COMPOSED prep chain's oracle: corpus-clean (nested, its own
    // recursive closure) → decontaminate-drop → the generated BPE merge
    // chain → pack. One statement, every stage the fragment oracles
    // above already pin, spliced — so a pass here certifies the
    // cross-stage doc_id plumbing, not just each stage alone.
    "tp_pipeline_e2e" -> TextPipeline.bpeOracle(
      s"""clean AS (
         |  SELECT doc_id FROM ($corpusCleanSql) cc),
         |shc AS ($shinglesSql),
         |contaminated AS (
         |  SELECT DISTINCT s.doc_id FROM shc s
         |    JOIN (SELECT DISTINCT shingle FROM shc WHERE doc_id % 97 = 0) b
         |      USING (shingle)
         |  WHERE s.doc_id % 97 <> 0),
         |kept AS (
         |  SELECT doc_id FROM clean WHERE doc_id % 97 <> 0
         |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |seg AS (
         |  SELECT word, count(*) AS n_syms
         |  FROM syms${TextPipeline.BpeMerges} GROUP BY word),
         |docw AS (
         |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
         |  FROM documents JOIN kept USING (doc_id)),
         |doctok AS (
         |  SELECT doc_id, doc_id % 8 AS shard,
         |    CAST(sum(n_syms) AS BIGINT) AS n_tokens
         |  FROM docw JOIN seg USING (word) GROUP BY doc_id)
         |SELECT doc_id, shard, n_tokens,
         |  CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) - n_tokens) / 512) AS BIGINT) AS bin
         |FROM doctok""".stripMargin, extraCtes = true),

    // the identical normalization chain, DuckDB's nfc_normalize standing
    // in for the codegen expression (same Unicode NFC)
    "ta_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(
        |    lower(nfc_normalize(text)), '[[:cntrl:]]', ' ', 'g'),
        |    '\s+', ' ', 'g')) AS norm_text
        |FROM documents""".stripMargin,

    "ta_langid" ->
      s"""WITH lex(cand_lang, marker) AS (VALUES
         |  ('en','the'),('en','a'),('en','of'),('en','and'),
         |  ('es','el'),('es','la'),('es','de'),('es','y'),
         |  ('fr','le'),('fr','la'),('fr','de'),('fr','et'),
         |  ('de','der'),('de','die'),('de','und'),('de','das'),
         |  ('zh','de'),('zh','shi'),('zh','le'),('zh','bu')),
         |votes AS (
         |  SELECT doc_id, cand_lang, count(*) AS votes
         |  FROM ($posToksSql) pt JOIN lex ON pt.tok = lex.marker
         |  GROUP BY 1, 2),
         |top AS (
         |  SELECT doc_id, cand_lang AS pred_lang, votes FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY doc_id ORDER BY votes DESC, cand_lang DESC) AS rn
         |    FROM votes) v WHERE rn = 1)
         |SELECT d.doc_id, coalesce(top.pred_lang, 'und') AS pred_lang,
         |       coalesce(top.votes, 0) AS votes
         |FROM documents d LEFT JOIN top ON d.doc_id = top.doc_id""".stripMargin,

    "ta_quality" ->
      """SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(toks) AS n_tokens,
        |  length(text) * 1.0 / len(toks) AS chars_per_token,
        |  len(list_filter(toks, t -> t IN ('the','a','of','and','to','in'))) * 1.0
        |    / len(toks) AS stopword_ratio,
        |  length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) * 1.0
        |    / length(text) AS punct_ratio,
        |  len(list_distinct(toks)) * 1.0 / len(toks) AS distinct_token_ratio
        |FROM (SELECT doc_id, text,
        |        list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks
        |      FROM documents) t""".stripMargin,

    // same terminal-punctuation segmentation + token counting; docs with
    // zero token-bearing sentences keep a row with count 0 / null mean
    "ta_sentences" ->
      """SELECT d.doc_id,
        |  coalesce(s.n_sentences, 0) AS n_sentences,
        |  s.avg_sentence_tokens,
        |  coalesce(s.max_sentence_tokens, 0) AS max_sentence_tokens
        |FROM documents d LEFT JOIN (
        |  SELECT doc_id, count(*) AS n_sentences,
        |    avg(n_toks) AS avg_sentence_tokens,
        |    CAST(max(n_toks) AS INT) AS max_sentence_tokens
        |  FROM (
        |    SELECT doc_id,
        |      len(list_filter(string_split_regex(sent, '\s+'), t -> t != '')) AS n_toks
        |    FROM (SELECT doc_id, unnest(string_split_regex(text, '[.!?]+')) AS sent
        |          FROM documents) x) y
        |  WHERE n_toks > 0 GROUP BY 1) s ON d.doc_id = s.doc_id""".stripMargin,

    // identical segmentation + prefix-sum binning; chunk text rebuilt
    // from normalized sentence tokens in sentence order
    "tp_chunk_sentences" ->
      """WITH s0 AS (
        |  SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS sent
        |  FROM (SELECT doc_id, string_split_regex(text, '[.!?]+') AS l
        |        FROM documents) x),
        |s AS (
        |  SELECT doc_id, pos, array_to_string(tk, ' ') AS sent_norm,
        |    len(tk) AS n_toks
        |  FROM (SELECT doc_id, pos,
        |          list_filter(string_split_regex(sent, '\s+'), t -> t != '') AS tk
        |        FROM s0) y
        |  WHERE len(tk) > 0),
        |c AS (
        |  SELECT doc_id, pos, sent_norm, n_toks,
        |    sum(n_toks) OVER (PARTITION BY doc_id ORDER BY pos) AS cum
        |  FROM s)
        |SELECT doc_id, CAST(floor((cum0 - n_toks0) / 60.0) AS INT) AS chunk_idx,
        |  count(*) AS n_sentences, CAST(sum(n_toks0) AS BIGINT) AS n_tokens,
        |  string_agg(sent_norm, ' ' ORDER BY pos) AS chunk_text
        |FROM (SELECT doc_id, pos, sent_norm, n_toks AS n_toks0, cum AS cum0 FROM c) z
        |GROUP BY 1, 2""".stripMargin,

    "ta_token_counts" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS n_tokens,
        |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_subwords
        |FROM documents""".stripMargin,

    "ta_unigram_logprob" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS tok
        |  FROM documents),
        |tf AS (SELECT tok, count(*) AS freq FROM tk GROUP BY 1),
        |tot AS (SELECT sum(freq) AS total FROM tf)
        |SELECT d.doc_id, coalesce(s.n_tokens, 0) AS n_tokens, s.avg_logprob
        |FROM documents d LEFT JOIN (
        |  SELECT doc_id, count(*) AS n_tokens,
        |         avg(ln(freq * 1.0 / total)) AS avg_logprob
        |  FROM tk JOIN tf USING (tok) CROSS JOIN tot
        |  GROUP BY 1) s ON d.doc_id = s.doc_id""".stripMargin,

    // Same bigram construction (positional pairs over the whitespace
    // token list), same Laplace arithmetic in double; avg-of-ln ordering
    // differences wash out at the harness's 6-sig-digit rounding.
    // same raw-token bigram construction as ta_bigram_logprob; the cut
    // orders on the ROUNDED pmi so both engines slice identically
    "ta_pmi_bigrams" ->
      """WITH lt AS (
        |  SELECT list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks
        |  FROM documents),
        |ix AS (SELECT toks, unnest(range(1, len(toks))) AS i FROM lt),
        |bg AS (SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM ix),
        |pc AS (SELECT w1, w2, count(*) AS pair_count FROM bg GROUP BY 1, 2),
        |uni AS (SELECT tok, count(*) AS tok_count
        |        FROM (SELECT unnest(toks) AS tok FROM lt) GROUP BY 1),
        |tot AS (SELECT CAST(sum(len(toks)) AS DOUBLE) AS n_tokens,
        |               CAST(sum(greatest(len(toks) - 1, 0)) AS DOUBLE) AS n_bigrams
        |        FROM lt)
        |SELECT p.w1, p.w2, p.pair_count,
        |  round(ln((p.pair_count / t.n_bigrams) /
        |    ((u1.tok_count / t.n_tokens) * (u2.tok_count / t.n_tokens))), 6) AS pmi
        |FROM pc p
        |  JOIN uni u1 ON p.w1 = u1.tok
        |  JOIN uni u2 ON p.w2 = u2.tok
        |  CROSS JOIN tot t
        |WHERE p.pair_count >= 5
        |ORDER BY pmi DESC, p.w1, p.w2 LIMIT 20""".stripMargin,

    "ta_bigram_logprob" ->
      """WITH lt AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks
        |  FROM documents),
        |ix AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM lt),
        |bg AS (SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur FROM ix),
        |cnt AS (SELECT prev, cur, count(*) AS c FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT prev, sum(c) AS cv FROM cnt GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok) AS vsz
        |      FROM (SELECT unnest(toks) AS tok FROM lt)),
        |s AS (
        |  SELECT doc_id AS sid, count(*) AS n_bigrams,
        |         avg(ln((c + 1.0) / (cv + vsz))) AS avg_logprob
        |  FROM bg JOIN cnt USING (prev, cur) JOIN ctx USING (prev) CROSS JOIN v
        |  GROUP BY 1)
        |SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams, s.avg_logprob
        |FROM documents d LEFT JOIN s ON d.doc_id = s.sid""".stripMargin,

    // identical counts (ta_token_counts words, ta_sentences segmentation,
    // one vowel-group regexp pass) and the identical left-assoc double
    // arithmetic, so the score matches bit-for-bit up to the harness's
    // 6-sig-digit rounding
    "ta_readability" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS n_words,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, count(*) AS n_sentences FROM (
        |    SELECT doc_id,
        |      len(list_filter(string_split_regex(sent, '\s+'), t -> t != '')) AS n_toks
        |    FROM (SELECT doc_id, unnest(string_split_regex(text, '[.!?]+')) AS sent
        |          FROM documents) x) y
        |  WHERE n_toks > 0 GROUP BY 1)
        |SELECT w.doc_id, n_words, n_syllables,
        |  CAST(coalesce(s.n_sentences, 0) AS BIGINT) AS n_sentences,
        |  CASE WHEN s.n_sentences > 0 AND n_words > 0 THEN
        |    CAST(206.835 AS DOUBLE)
        |      - CAST(1.015 AS DOUBLE) * n_words / s.n_sentences
        |      - CAST(84.6 AS DOUBLE) * n_syllables / n_words
        |  END AS flesch
        |FROM w LEFT JOIN s ON w.doc_id = s.doc_id""".stripMargin,

    // UTF-8 byte fold over the multilingual fixture — the purest
    // certification row for the cross-engine rolling-hash contract
    "ta_rolling_hash" ->
      s"""SELECT doc_id, ${OracleFold.rollingHashSql("text")} AS rhash
        |FROM (${OracleFold.mlDocsSql}) documents""".stripMargin,

    "ta_repetition" ->
      s"""WITH bg AS (
         |  SELECT doc_id,
         |    concat_ws(' ', tok, lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos)) AS bigram,
         |    lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
         |  FROM ($posToksSql) pt),
         |bc AS (
         |  SELECT doc_id, bigram, count(*) AS c FROM bg WHERE nxt IS NOT NULL GROUP BY 1, 2),
         |agg AS (
         |  SELECT doc_id, max(c) AS top_bigram_freq, CAST(sum(c) AS BIGINT) AS n_bigrams
         |  FROM bc GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(n_bigrams, 0) AS n_bigrams,
         |  coalesce(top_bigram_freq, 0) AS top_bigram_freq,
         |  top_bigram_freq * 1.0 / n_bigrams AS repetition_ratio
         |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin,

    "ta_fingerprint" ->
      s"""SELECT doc_id,
         |  CAST(sum((pos + 1) * charsum) % 2147483647 AS BIGINT) AS fingerprint,
         |  count(*) AS n_tokens
         |FROM (
         |  SELECT doc_id, pos,
         |    list_sum(list_transform(regexp_split_to_array(tok, ''), c -> ascii(c))) AS charsum
         |  FROM ($posToksSql) pt) t
         |GROUP BY doc_id""".stripMargin
  )
}
