package graft

import java.io.PrintWriter
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.execution.FormattedMode

/** Dumps `explain("formatted")` for declared queries — by default the
  * [[headline]] set — into a markdown file (PLANS.md), with the
  * scale-relevant plan properties called out (pushed filters, broadcast
  * vs shuffle exchanges, whole-stage codegen spans). Run after
  * plan-affecting changes:
  *
  * {{{ sbt 'runMain graft.Plans [sfDir] [out] [name,name,...]' }}}
  */
object Plans {

  /** Queries whose physical plan shape is the point, one per plan family. */
  val headline: Seq[(String, String)] = Seq(
    "a3_pricing_summary" -> "scan + partial/final hash aggregate, pushed filter",
    "j1_star_join" -> "star join: every dimension broadcast, fact never shuffled",
    "j_shuffle_join" -> "fact-fact sort-merge join (merge hint pins the 100 TB strategy)",
    "a2b_having_join" -> "group-HAVING via aggregate + broadcast join-back",
    "o3b_group_topk_agg" -> "bounded-heap top-k typed aggregate (k-bounded shuffle)",
    "j_asofb_broadcast" -> "custom BroadcastAsofJoinExec: map-only probe, zero exchanges",
    "t4_tfidf" -> "two windows over one shuffle pair (TF by doc, DF by token)",
    "sim_near_dup" -> "SRP-LSH (dumped lazily — the declared query checkpoints this body): bucket equi-join + exact in-bucket cosine verify (native vec_dot) — no cross join at any scale",
    "sim_ann_ivf" -> "recall check over the persisted cell-partitioned IVF index: broadcast probe equi-join (nprobe/nlist of the scan), joined against the memoized exact result — no per-call refit, no cross join",
    "dd_jaccard_pairs" -> "inverted-index shingle self-join with the hot-shingle maxDf cap (bounds the worst join key)",
    "dd_containment_pairs" -> "asymmetric containment pairs over the SAME capped shingle inverted index as dd_jaccard_pairs: one shared set-overlap tail, only the score expression differs (least of the set sizes)",
    "dd_cosine_pairs" -> "TF-IDF weighted cosine pairs through the SAME capped inverted index: 8-byte hashed term keys, dot products partial-aggregated per pair before the exchange, symmetric df cap — never all-pairs",
    "sim_knn_graph" -> "all-points KNN graph: SHUFFLE cell equi-join (the probe side is the corpus — never broadcast, unlike the query-set path) + bounded-heap top_k_by contraction (map-side partials cap each partition at k candidates per point)",
    "tp_hash_split" -> "pure map: deterministic split, no exchange at any scale",
    "ev_asof_tolerance" -> "point-in-time feature join: as-of pick + staleness bound as a post-pick projection — same one-shuffle union+window plan as j_asof, ts predicate pushable to the native-timestamp scan",
    "tp_split_leakage" -> "cross-split leakage audit: ONE content-hash window over the hash group (scales like exact dedup) — never a pair self-join",
    "ev_retention" -> "cohort retention in ONE user_id shuffle: min week + collect_set in the same partial-aggregated pass (set state bounded by calendar weeks), then a weeks-squared cell rollup — no join-back, no window over raw events",
    "ev_anomaly" -> "rolling z-score anomalies: events CONTRACT to hours x types in one partial-aggregated shuffle, then the trailing-24-row mean/stddev window runs on the tiny aggregate — the raw events are never windowed",
    "ev_sessions" -> "gap sessionization: lag -> flag -> running-sum as stacked Windows over ONE (user_id, ts) exchange, and the per-session groupBy REUSES that hash partitioning (grouping keys are a superset) — one shuffle total, one row of look-behind state",
    "ev_transitions" -> "event-type transition matrix: one lag Window over the (user_id, ts) exchange, then a |types|^2-bounded rollup whose partial aggregate contracts map-side before the final exchange moves anything",
    "ev_session_paths" -> "top user journeys: sessionization windows + per-session path build all on ONE (user_id, ts) exchange, path rollup contracting map-side, top-20 as TakeOrderedAndProject",
    "tp_weighted_sample" -> "deterministic Efraimidis-Spirakis weighted sampling: ln(u)/w keys from the engine-portable rolling hash, all map-side codegen, top-n as TakeOrderedAndProject — no RNG, no global sort materialization",
    "j6b_nearest_centroid_map" -> "nearest-centroid as least + CaseWhen codegen argmin over literal centroids: map-only, fully inside whole-stage codegen, vs the cross-join form's rows x k shuffle",
    "dd_editdist_pairs" -> "fuzzy linkage: Levenshtein verify on DISTINCT names only (maxBlock-capped; oversized blocks via char-shingle LSH), matched pairs broadcast back onto top_k_by-capped ids with both expansion-join sides repartition-pinned",
    "sk_bloom_join" -> "Bloom prefilter drops non-matching probe rows before the join shuffle — native might_contain expression inside whole-stage codegen, no scala UDF",
    "tp_decontaminate" -> "benchmark decontamination: eval-set shingles broadcast (adaptively — counted first, shuffle fallback past the cap) into a left-semi join over the corpus shingle pass — the corpus is never self-joined or shuffled on shingle",
    "tp_contamination_report" -> "contamination report: corpus gram pass joined to the adaptively-broadcast benchmark gram set, aggregated on the BENCH doc id — dual count-distinct, corpus never self-joined",
    "sim_dedup_apply" -> "semantic dedup applied: SRP bucket equi-join pairs -> adaptive connected components -> min-id-root keep filter — no cross join, closure on the pair graph only",
    "sim_radius" -> "cosine range search through the persisted IVF index: broadcast probe equi-join + threshold filter — NO per-query sort window at all (top-k needs one, a radius set doesn't)",
    "sim_ann_ivfpq" -> "IVFPQ + refine: IVF cell probe (broadcast equi-join) -> ADC as m lookups into a broadcast q*m*ksub table -> exact rerank of the shortlist — join keys at every stage, no cross join",
    "tp_zorder" -> "Z-order layout key: quantize + Morton bit-interleave, all codegen'd built-ins — one broadcast (min/max row), zero shuffles before the layout write",
    "dd_repeated_spans" -> "ExactSubstr spans: codegen lead-window k-grams, one partial-aggregated shuffle on the gram hash, one on doc id for the interval merge — no suffix array, nothing quadratic",
    "g_pagerank" -> "weighted PageRank, final iteration's plan: rank state (checkpointed RDD scan, |V| rows) joins the checkpointed pre-partitioned transition table, contribution aggregate partial/final pair, dangling mass + node count as 1-row broadcast cross joins — the |E| table never re-exchanges across iterations",
    "t8_bm25_search" -> "BM25 retrieval: posting rows filtered to the query terms at the matrix scan, df stats + corpus stats broadcast, per-doc score aggregate, top-20 as TakeOrderedAndProject — no full sort, no corpus rescan per query",
    "ev_users_hll_merge" -> "per-day HLL sketch aggregate (partial/final pair — map-side-mergeable fixed-KB state) + a 1-row lossless union branch; the exact countDistinct rides along only as the oracle anchor",
    "tp_decontaminate_bloom" -> "Bloom-prefiltered decontamination: native might_contain on the corpus gram stream INSIDE whole-stage codegen before any exchange, then the exact-confirm semi join — only the hit fraction + fpp of the corpus reaches the shuffle",
    "g_triangles" -> "triangle census: degree-ordered wedge self-join + id-canonical EQUI closing join (hash joins throughout — the orientation-aware OR-condition form planned a nested loop, 4.4x slower); the only nested loops are 1-row Cross scalar attaches",
    "ev_active_users" -> "DAU/WAU/MAU: ONE day-user distinct contraction (checkpointed, served three times), trailing windows as map-side offset explodes into partial-aggregated count-distincts keyed by window end — no days x activity range join anywhere in the plan",
    "t9_doc_keywords" -> "per-doc keyword tags: bounded-heap top_k_by over the memoized TF-IDF matrix — map-side partials cap each task at k rows per doc before the exchange (the rank-window form would sort every doc's full term list)",
    "a_histogram" -> "equi-width histogram: width_bucket is a pure-map projection feeding one partial/final aggregate pair keyed by (group, bucket) — result size bounded by the bucket count at any scale",
    "tp_unigram_tok" -> "unigram-LM tokenize: the per-word Viterbi DP is ONE codegen projection (unigram_viterbi expression, vocab as a plan reference object) over the distinct-word table; the corpus is exploded once and equi-joined against the vocab-sized segmentation — no per-word driver loop, no UDF, AQE owns the join side",
    "mm_audio_neardup" -> "audio perceptual near-dup: PCM decode + 9x8 energy-envelope fingerprint in the bounded mapPartitions codec layer, then the SimHash pigeonhole band equi-join + codegen Hamming verify VERBATIM — candidates by band key, never all-pairs",
    "sim_ann_sq8" -> "IVF-SQ8 + refine: cell probe (broadcast equi-join) -> asymmetric float*int8 scoring as ONE codegen loop over the packed BINARY codes (vec_dot_i8 — no unpack allocation, no ADC explode) -> WindowGroupLimit-contracted shortlist moving only (query, neighbor, score) -> exact rerank; no codebook anywhere in the plan",
    "sim_mmr_rerank" -> "MMR diversified re-rank: windowless IVF scoring (scoreIvf — no vacuous rank window) -> bounded-heap top_k_by pool per query (map-side partials) -> the sequential greedy inside the mmr_select expression on ONE row per query — never a candidate-list sort, never a cross join",
    "g_label_prop" -> "label propagation, final sweep's plan: the |V| label state joins the checkpointed pre-partitioned symmetrized edges, (node, label) rollup partial/final pair, bounded struct-min argmax — the 2|E| table never re-exchanges across sweeps",
    "sim_ann_opq" -> "IVFOPQ + refine: the sim_ann_ivfpq plan with the ADC arm's query slices first mapped through the constant-folded rotation (dim codegen vec_dots — zero extra exchanges); coarse probe and exact rerank identical, raw space",
    "sim_ann_join" -> "cross-corpus ANN join (A queries x B index): SHUFFLE cell equi-join (corpus-sized probe side — never broadcast) + bounded-heap top_k_by per A-row on the 6dp-rounded cosine — the knnGraph posture pointed at an external corpus",
    "tp_wordpiece_tok" -> "WordPiece tokenize: greedy longest-match is ONE codegen projection (wordpiece_split expression, vocab as a plan reference object) over the distinct-word table — tp_unigram_tok's posture for the third tokenizer family; the corpus is exploded once and equi-joined against the vocab-sized segmentation, AQE owns the join side",
    "tp_pipeline_e2e" -> "composed prep chain: clean/decontaminate/tokenize stages CONTRACT to doc_id-keyed keep-sets (each a semi/anti join onto the corpus — the corpus is scanned once per stage family, never self-joined), pack is one per-shard prefix-sum window on the doc-sized token rollup — the composition adds joins, never a new shuffle shape",
    "mm_video_neardup128" -> "128-bit perceptual near-dup: the mm_audio_neardup posture at 4x32-bit band keys — identical band equi-join plan, but the wider key shrinks the random-collision candidate term by 2^16 (the scale knob past ~1e5 signatures); codec + majority vote stay in the bounded mapPartitions layer, the join moves only (id, band, 32-char key)",
    "io_manifest" -> "dataset manifest fingerprint: three codegen replace passes per column (the injective escaping) + rolling_hash into ONE partial/final aggregate pair folding a single decimal per partition — a pure scan at any scale, no shuffle beyond the 1-row final",
    "dd_simhash128_pairs" -> "128-bit text SimHash near-dup pairs: the dd_simhash_pairs pigeonhole band equi-join at 4x32-bit band keys — fingerprint build stays two exchanges (bit positions are aggregate columns, never a row explosion), the wider key cuts the candidate join's random-collision term by 2^16 (the text-side scale knob past ~1e5 signatures)",
    "dd_cdc_apply" -> "CDC chunk-dedup apply, the excision layer (dumped lazily — the declared query checkpoints it before cutSpans): chunk build (posexplode + two same-sort windows + rollup) flowing into ONE (chunk_hash, n_tokens) exchange that serves BOTH the repeat-count window and the canonical row_number pick — the chunk table is never joined against itself; downstream (not in this dump) the checkpointed excision feeds cutSpans' adaptive broadcast/shuffle anti join and a doc-keyed stats join, both excision-sized",
    "tp_bpe_train_batched" -> "batched BPE trainer, the per-pass candidate plan (the declared query's result is a driver-side model table — this is the plan the loop runs twice per B merges): adjacent-pair explode is a pure map, pair counts partial-aggregate map-side into one (lhs, rhs) exchange, and the top-6B cut is TakeOrderedAndProject — only 6B rows ever reach the driver, no global sort, no window, no join at any corpus size",
    "tp_wordpiece_train_batched" -> "batched WordPiece trainer, the per-pass scored-candidate plan (prod checkpoints symCounts; dumped lazily its build shows twice): the tp_bpe_train_batched aggregate shape plus the two vocabulary-sized symbol-count attachments as BROADCAST hash joins and the micro-score projection — top-want stays TakeOrderedAndProject, the corpus-sized pair stream never sorts globally or shuffle-joins")

  /** Queries whose served form materializes its result or an
    * intermediate would explain as a LocalTableScan / checkpoint scan —
    * zero audit value. For those, the same body's LAZY plan is explained,
    * with a cleanup that releases any prologue pins it took.
    */
  private def lazyPlans(spark: SparkSession, sfDir: String)
      : Map[String, () => (DataFrame, () => Unit)] = Map(
    "g_triangles" -> { () =>
      val und = graft.queries.GraphOps.canonicalUndirected(
        graft.queries.GraphOps.pageEdges(spark, sfDir), "src", "dst")
      var oriented: DataFrame = null
      val plan = graft.queries.GraphOps.triangleStatsPlan(und, { o => oriented = o })
      (plan, () => {
        graft.util.Pins.release(und)
        if (oriented != null) graft.util.Pins.release(oriented)
      })
    },
    "ev_active_users" -> { () =>
      val du = graft.queries.Relational.dayUsers(
        graft.io.Tables.events(spark, sfDir))
      (graft.queries.Relational.activeUsersPlan(du),
        () => graft.util.Pins.release(du))
    },
    "ev_users_hll_merge" -> { () =>
      val ev = graft.io.Tables.events(spark, sfDir)
      val daily = graft.queries.Relational.dailyUserSketches(ev)
      (graft.queries.Relational.usersHllMergePlan(ev, daily),
        () => graft.util.Pins.release(daily))
    },
    "sim_near_dup" -> { () =>
      (graft.queries.PipelineOps.srpPairsPlan(spark, sfDir), () => ())
    },
    "dd_cdc_apply" -> { () =>
      val docs = graft.io.Tables.documents(spark, sfDir)
      (graft.dedup.Dedup.cdcExcision(
        graft.dedup.Dedup.cdcChunks(docs, "doc_id", "text"), "doc_id"),
        () => ())
    },
    "tp_bpe_train_batched" -> { () =>
      val docs = graft.io.Tables.documents(spark, sfDir)
      (graft.text.Bpe.batchCandidates(
        graft.text.Bpe.symsTable(docs, "text"), 18), () => ())
    },
    "tp_wordpiece_train_batched" -> { () =>
      val docs = graft.io.Tables.documents(spark, sfDir)
      val tbl = graft.text.Bpe.symsTable(docs, "text")
      val symCounts = tbl
        .select(F.explode(F.col("syms")).as("sym"), F.col("cnt"))
        .groupBy("sym")
        .agg(F.sum("cnt").as("c"))
      (graft.text.WordPiece.batchScoredCandidates(tbl, symCounts, 3),
        () => ())
    }) ++ graft.queries.PipelineOps.nearDupQueries(lazyPlan = true).map {
      case (name, q) => name -> (() => (q(spark, sfDir), () => ()))
    }

  /** `explain("formatted")` of the plan `name` serves on `sfDir`, with
    * giant binary literals (e.g. the serialized bloom filter in
    * might_contain) elided — the plan SHAPE is the point, not the bits.
    */
  private[graft] def explain(spark: SparkSession, sfDir: String, name: String): String = {
    val (df, cleanup) = lazyPlans(spark, sfDir).get(name)
      .map(_.apply())
      .getOrElse((SparkEntry.queries(name)(spark, sfDir), () => ()))
    try df.queryExecution.explainString(FormattedMode).trim
      .replaceAll("0x[0-9A-Fa-f]{256,}", "0x…<binary literal elided>")
    finally cleanup()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val why = headline.toMap
    val names =
      if (args.length > 2) args(2).split(",").toSeq else headline.map(_._1)
    val spark = GraftSession.build("local[4]", Some(32), "graft-plans")
    spark.sparkContext.setLogLevel("ERROR")

    val w = new PrintWriter(out, StandardCharsets.UTF_8)
    w.println("# PLANS — physical plans of the headline queries")
    w.println()
    w.println(s"Generated by `graft.Plans` on `$sfDir`. What to look for per plan:")
    w.println("`PushedFilters`/`ReadSchema` (scan-level pruning), `BroadcastHashJoin` vs")
    w.println("`SortMergeJoin` (dimension vs fact-fact strategy), `Exchange` count (shuffles),")
    w.println("`WholeStageCodegen` spans (codegen coverage), partial/final `HashAggregate`")
    w.println("pairs (map-side combine).")
    w.println()
    names.foreach { name =>
      w.println(s"## $name")
      w.println()
      why.get(name).foreach { y =>
        w.println(s"**Why this plan matters:** $y")
        w.println()
      }
      w.println("```")
      w.println(explain(spark, sfDir, name))
      w.println("```")
      w.println()
    }
    w.close()
    println(s"[plans] wrote ${names.size} plans to $out")
    spark.stop()
  }
}
