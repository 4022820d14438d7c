package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables

/** Scale soak: amplifies the sf tables N× with key-perturbed copies and
  * times the representative plan shapes, checking per-row cost holds as
  * data grows (fixed overhead amortizes; nothing may degrade
  * super-linearly). Prints one JSON line like Bench.
  *
  * {{{ SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_MULT=10 \
  *     sbt 'runMain graft.Soak' }}}
  */
object Soak {

  /** N copies with disjoint key ranges (key + i·10^7 — far above any sf's
    * real key space), so group/join cardinalities scale with the data.
    */
  private def amplify(df: DataFrame, keyCols: Seq[String], mult: Int): DataFrame =
    (0 until mult).map { i =>
      keyCols.foldLeft(df)((d, k) =>
        d.withColumn(k, col(k) + lit(i.toLong * 10000000L)))
    }.reduce(_ union _)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_MULT", "10").toInt
    // comma-separated extra shape sets: "text", "sim", "ml", "mm_image",
    // "mm_video", "pq", "zorder", "spans", "graph", "spill" (relational
    // always runs; "spill" also starves the session's memory region —
    // see below)
    val soakSets: Set[String] =
      sys.env.get("SPARK_GRAFT_SOAK").map(_.split(",").toSet).getOrElse(Set.empty)
    // The "spill" set is a ROBUSTNESS posture, not a throughput one: the
    // session starts with a starved unified-memory region
    // (spark.memory.fraction, default 0.6 → 0.1 here — a static conf,
    // so it goes in as a system property, which SparkConf loads, before
    // the session exists), forcing the heavy shapes' sorts/aggregations
    // through the spill path that a 100 TB run's worst executor
    // inevitably hits. Pass criterion: the shapes
    // COMPLETE (no OOM) and the task-metrics listener shows nonzero
    // spilled bytes — completing without spilling proves nothing and is
    // flagged. THE RIGHT STARVATION KNOB IS THE FRACTION, NOT THE HEAP:
    // memory.fraction starves exactly the spillable region
    // (execution + storage) while leaving the unmanaged slice that scan
    // buffers and task overhead live in — which spill can never relieve
    // — intact. Shrinking the heap instead (SPARK_DRIVER_MEM=2g at 32
    // task slots = 62 MB/slot) OOMs in raw scan buffers at 100×
    // regardless of spilling, a harness misconfiguration rather than an
    // engine finding (measured round 16; at the default 8g heap the
    // same 100× run completes by spilling).
    // parsed eagerly: fail on garbage here, not inside the session
    if (soakSets("spill"))
      System.setProperty("spark.memory.fraction",
        sys.env.getOrElse("SPARK_GRAFT_MEM_FRACTION", "0.1").toDouble.toString)
    val spark = GraftSession.fromEnv("graft-soak")

    // spill telemetry: summed off TaskMetrics at task end, snapshotted
    // per shape — the listener is cheap and always on, so any shape
    // that spills says so in its soak line
    val spilledMem = new java.util.concurrent.atomic.AtomicLong
    val spilledDisk = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          spilledMem.addAndGet(m.memoryBytesSpilled)
          spilledDisk.addAndGet(m.diskBytesSpilled)
        }
      }
    })

    // LAZY (round 19): a partial scale-factor directory (e.g. the sf10
    // embeddings-only step) must be usable with a SHAPES filter — an
    // eager load of every table would fail on the first absent parquet
    // even though no selected shape reads it. shape()'s body is by-name,
    // so a filtered-out shape never forces these.
    lazy val li = amplify(Tables.lineitem(spark, sfDir), Seq("l_orderkey", "l_partkey"), mult)
    lazy val ord = amplify(Tables.orders(spark, sfDir), Seq("o_orderkey", "o_custkey"), mult)
    lazy val ev = amplify(Tables.events(spark, sfDir), Seq("event_id", "user_id"), mult)
    lazy val docs = amplify(Tables.documents(spark, sfDir), Seq("doc_id"), mult)

    // shapes that pin an intermediate (the artifact-table pattern the
    // real pipelines use) register it here; shape() releases after the
    // timed write so pinned blocks never accumulate across shapes
    val pinned = scala.collection.mutable.Buffer[DataFrame]()
    def pin(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(eager = true)
      pinned += c
      c
    }
    // optional comma-separated shape filter for single-shape iteration
    // (same contract as Bench's SPARK_GRAFT_ONLY); skipped shapes are
    // dropped from the output line entirely
    val onlyShapes = sys.env.get("SPARK_GRAFT_SHAPES").map(_.split(",").toSet)
    def shape(name: String)(df: => DataFrame): (String, Double) = {
      if (!onlyShapes.forall(_.contains(name))) return name -> -1.0
      val (m0, d0) = (spilledMem.get(), spilledDisk.get())
      val t0 = System.nanoTime()
      try {
        df.write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        val (dm, dd) = (spilledMem.get() - m0, spilledDisk.get() - d0)
        val spillNote =
          if (dm > 0 || dd > 0)
            f"  (spilled ${dm / 1048576.0}%.0f MiB mem, ${dd / 1048576.0}%.0f MiB disk)"
          else ""
        System.err.println(f"[soak] $name%-24s $secs%7.2f s$spillNote")
        name -> secs
      } finally {
        // release even when the timed write throws — a failed shape must
        // not leak its pinned checkpoints into the next shape's memory
        pinned.foreach(graft.util.Pins.release)
        pinned.clear()
      }
    }

    // warm-up outside timing: the usual lineitem pass, or — on a partial
    // sf dir (see the lazy table note) — any table that IS present, so
    // the first timed shape never absorbs first-query Spark machinery
    // warm-up (codegen compiler, broadcast init) either way
    if (new java.io.File(s"$sfDir/lineitem.parquet").exists())
      li.groupBy("l_returnflag").count().write.format("noop").mode("overwrite").save()
    else Tables.names.find(t => new java.io.File(s"$sfDir/$t.parquet").exists())
      .foreach { t =>
        Tables.load(spark, sfDir, t).groupBy().count()
          .write.format("noop").mode("overwrite").save()
      }

    val results = Seq(
      shape("agg_groupby") {
        li.groupBy("l_partkey")
          .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      },
      shape("window_having") {
        val w = Window.partitionBy("l_partkey")
        li.withColumn("t", sum("l_quantity").over(w)).filter(col("t") >= 500.0)
      },
      shape("topk_per_group") {
        ord.groupBy("o_custkey")
          .agg(graft.functions.TopKBy.topKBy(col("o_totalprice"), col("o_orderkey"),
            struct(col("o_orderkey"), col("o_totalprice")), 3).as("top"))
      },
      shape("sortmerge_join") {
        ord.hint("merge").join(li, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      },
      // the manifest fingerprint pass: one codegen hash projection into a
      // partial-aggregated 1-row fold — must stay a pure linear scan
      shape("manifest_fingerprint") {
        // the REAL reprCol (injective escaping included), so the soak
        // prices the three replace passes per column too
        val proj = li.select("l_orderkey", "l_partkey", "l_quantity")
        proj.select(graft.io.Manifest.reprCol(proj).as("__r"))
          .agg(count(lit(1)).as("n_rows"),
            graft.io.Manifest.fingerprintCol(col("__r")).as("fingerprint"))
      },
      shape("asof_broadcast_probe") {
        // dimension-sized right (one copy), amplified fact probe: the
        // custom operator's map-only scaling path
        val clicks = Tables.events(spark, sfDir)
          .filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts")).agg(max("event_id").as("click_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .withColumn("user_id", pmod(col("user_id"), lit(10000000L)))
          .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
        graft.operators.BroadcastAsofJoin
          .asofJoinBroadcast(purchases, clicks, "user_id", "ts", "ts", Seq("click_id"))
      },
      shape("hash_split_map") {
        docs.select(col("doc_id"),
          pmod(graft.functions.TextExprs.rollingHash(col("text")), lit(10L)).as("bucket"))
      },
      // ordered funnel on the amplified events: three stacked conditional
      // window minimums on ONE user_id partitioning + a same-partitioning
      // per-user reduce — per-row cost must hold as the user base scales
      shape("funnel_windows") {
        val w = Window.partitionBy("user_id")
        def within(next: org.apache.spark.sql.Column,
                   anchor: org.apache.spark.sql.Column) =
          next > anchor &&
            unix_timestamp(next) - unix_timestamp(anchor) <= 86400L
        ev.select(col("user_id"), col("ts"), col("event_type"))
          .withColumn("v",
            min(when(col("event_type") === "view", col("ts"))).over(w))
          .withColumn("c",
            min(when(col("event_type") === "click" && within(col("ts"), col("v")),
              col("ts"))).over(w))
          .withColumn("p",
            min(when(col("event_type") === "purchase" && within(col("ts"), col("c")),
              col("ts"))).over(w))
          .groupBy("user_id")
          .agg(max(when(col("p").isNotNull, 3).when(col("c").isNotNull, 2)
            .when(col("v").isNotNull, 1).otherwise(0)).as("funnel_stage"))
          .groupBy("funnel_stage").agg(count(lit(1)).as("n_users"))
      },
      // session paths on the amplified events: amplification adds USERS
      // (disjoint key ranges), per-user history — and so per-session
      // collect_list state — stays bounded; both groupBys ride the one
      // user_id exchange / contract map-side
      shape("session_paths") {
        // the DECLARED operator body on the amplified frame — one
        // implementation, so the soak cannot drift from the query
        graft.queries.Relational.sessionPaths(ev)
      },
      // cohort retention on the amplified events: the one-shuffle
      // min + collect_set pass — set state bounded by calendar weeks
      // regardless of event volume
      shape("retention_cells") {
        ev.select(col("user_id"),
            floor(unix_timestamp(col("ts")) / 604800).cast("long").as("wk"))
          .groupBy("user_id")
          .agg(min("wk").as("cohort_week"), collect_set("wk").as("wks"))
          .select(col("cohort_week"), explode(col("wks")).as("wk"))
          .groupBy(col("cohort_week"),
            (col("wk") - col("cohort_week")).as("week_offset"))
          .agg(count(lit(1)).as("n_users"))
      },
      // split-leakage audit on the amplified corpus: every text is
      // duplicated mult times, so every content-hash window group is a
      // mult-sized dup clique — the audit's worst case; one shuffle on
      // the content hash, never a pair join
      shape("split_leakage") {
        val h = graft.functions.TextExprs.rollingHash(col("text"))
        val norm = concat_ws(" ", graft.text.TextOps.cleanTokens(col("text")))
        val keyed = docs.select(col("doc_id"),
          when(pmod(h, lit(10L)) < 8, "train").otherwise("test").as("split"),
          md5(norm).as("content_hash"))
        val w = Window.partitionBy("content_hash")
        keyed.select(col("doc_id"), col("split"),
          (min("split").over(w) =!= max("split").over(w)).cast("int").as("leaked"))
      },
      // DAU/WAU/MAU on the amplified events: the |days x users| distinct
      // contraction then map-side window-end explodes — must scale with
      // the day-user table (users grow with amplification), never as a
      // days x activity range join
      shape("active_users_windows") {
        // the DECLARED operator body on the amplified frame
        graft.queries.Relational.activeUsers(ev)
      },
      // daily HLL sketches + lossless union: the whole pass is map-side
      // mergeable fixed-KB state per day — cost must stay one linear scan
      shape("hll_daily_union") {
        ev.groupBy(date_trunc("day", col("ts")).as("day_ts"))
          .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(true))).as("est"))
      }
    ) ++ (if (soakSets("text")) Seq(
      // Tokenizer drift monitor SERVE cost vs batch count: the store is
      // batch-count-sized (three longs per microbatch, never corpus
      // rows), so serving the drift verdict over mult× more batches
      // must stay essentially flat — the every-streaming-store-has-a-
      // cost-row discipline. The store build (mult batches of the
      // UNAMPLIFIED corpus through the frozen greedy matcher) runs
      // BEFORE shape() is entered, so shape's timed window covers only
      // the drift() serve query — the per-batch build pass is
      // corpus-linear codegen map work already priced by
      // wordpiece_train_apply's apply half.
      locally {
        val name = "tokenizer_drift_serve"
        if (!onlyShapes.forall(_.contains(name))) name -> -1.0
        else {
          val dir = java.nio.file.Files.createTempDirectory("drift-soak").toString
          val store = s"$dir/store"
          val docs0 = Tables.documents(spark, sfDir)
          val model = graft.text.WordPiece.train(
            docs0.limit(500), "text", 64, batchSize = 16)
          (0 until mult).foreach(i =>
            graft.streaming.IncrementalTokenizerDrift.processBatch(
              docs0, i, "text", model.pieces, store))
          shape(name) {
            graft.streaming.IncrementalTokenizerDrift
              .drift(spark, store, baselineBatches = math.max(1, mult / 2))
          }
        }
      },
      // content-defined chunking over the amplified corpus: one
      // posexplode + two windows on one (doc, pos) sort + the chunk
      // rollup and the cross-doc shared-set join — must stay linear in
      // tokens (the dup-heavy amplified corpus maximizes the shared-set
      // side: every chunk is cross-document, the worst case for the
      // shared join, which still contracts BY CONTENT before joining)
      shape("cdc_chunking") {
        val chunks = graft.dedup.Dedup.cdcChunks(docs, "doc_id", "text",
          k = 4, divisor = 16L)
        val pinnedChunks = chunks.localCheckpoint(true)
        pinned += pinnedChunks
        val shared = pinnedChunks.groupBy("chunk_hash", "n_tokens")
          .agg(countDistinct("doc_id").as("__d")).filter(col("__d") >= 2)
          .select("chunk_hash", "n_tokens")
        pinnedChunks.join(shared, Seq("chunk_hash", "n_tokens"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared_chunks"))
      },
      // the apply on the dup-heavy amplified corpus is the WORST case by
      // construction: every chunk repeats mult-fold, so the excision set
      // is corpus-sized (≈ (mult-1)/mult of all chunks) and cutSpans'
      // adaptive guard must take the shuffle-join path — chunk-level
      // dedup at maximum dedup rate, still nothing quadratic
      shape("cdc_dedup_apply") {
        val chunks = pin(graft.dedup.Dedup.cdcChunks(
          docs, "doc_id", "text", k = 4, divisor = 16L))
        graft.dedup.Dedup.cdcDedupApplyFromChunks(
          docs, chunks, "doc_id", "text")
          .agg(sum("n_cut_tokens").as("cut"),
            sum(length(col("clean_text"))).as("kept_chars"))
      },
      // the streaming chunk-dedup's RECURRING per-batch cost vs history
      // size: `mult` fixed-size batches of mutually-distinct content are
      // pre-ingested UNTIMED (every token carries a batch tag, so the
      // chunk-key store genuinely grows ∝ mult), then ONE more batch —
      // a full re-crawl of batch 0, the maximum store-hit case — is
      // timed. The batch's only history-sized work is the skinny
      // (chunk_hash, n_tokens) index join, so per-batch cost must stay
      // near-flat while history grows 100× (the tokenizer_drift_serve
      // pattern for this store)
      locally {
        val name = "cdc_incremental_batch"
        if (!onlyShapes.forall(_.contains(name))) name -> -1.0
        else {
          val dir = java.nio.file.Files
            .createTempDirectory("cdcinc-soak").toString
          val (store, clean) = (s"$dir/store", s"$dir/clean")
          val docs0 = Tables.documents(spark, sfDir).select("doc_id", "text")
          def tagged(i: Int) = docs0.select(
            (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
            regexp_replace(col("text"), "(\\S+)", s"b${i}_$$1").as("text"))
          (0 until mult).foreach(i =>
            graft.streaming.IncrementalCdcDedup.processBatch(
              tagged(i), i, "doc_id", "text", store, clean,
              k = 4, divisor = 16L))
          val r = shape(name) {
            graft.streaming.IncrementalCdcDedup.processBatch(
              tagged(0).withColumn("doc_id",
                col("doc_id") + lit(500000000L)),
              mult, "doc_id", "text", store, clean, k = 4, divisor = 16L)
            spark.read.parquet(s"$clean/batch=$mult")
          }
          System.err.println(
            s"[soak]   cdc_incremental_batch store_batches=$mult " +
              s"store_keys=${spark.read.parquet(store).count()}")
          r
        }
      },
      // Amplified docs share text across copies — a dup-heavy corpus, the
      // worst case dedup is built for (each doc becomes a mult-sized
      // near-dup clique).
      shape("simhash") {
        graft.dedup.Dedup.simhash(docs, "doc_id", "text")
      },
      shape("minhash_lsh_pairs") {
        graft.dedup.Dedup.minhashLshCandidates(docs, "doc_id", "text", 3, 4, 2)
      },
      // the pipeline path: signature contraction collapses each dup clique
      // to one representative before the closure — cost scales with
      // content diversity, not copy count
      shape("components_cliques") {
        val sig = graft.dedup.Dedup.minhashSignatures(docs, "doc_id", "text", 3, 8)
        val r = graft.dedup.Dedup.lshComponentsFromSignatures(docs, "doc_id", sig, 4, 2)
        pinned += r // the closure returns a checkpointed result — release after the write
        r
      },
      // force the distributed min-label path regardless of pair count, so
      // the soak keeps exercising the shape a >driver-memory graph needs
      shape("components_distributed") {
        val pairs = graft.dedup.Dedup.minhashLshCandidates(docs, "doc_id", "text", 3, 4, 2)
        val r = graft.dedup.Dedup.connectedComponents(docs, "doc_id", pairs, "id_a", "id_b",
          localThreshold = 0L)
        pinned += r
        r
      },
      shape("repetition_signal") {
        graft.text.TextAnalysis.repetitionRatio(docs, "doc_id", "text")
      },
      // batched BPE at production merge counts: the synthetic corpus has
      // ~31 natural words, so hash-derived 64-letter words supply the
      // vocab diversity a 1k-merge table needs. Distinct-word growth
      // follows HEAPS' LAW (vocabulary ~ sqrt of corpus size — real
      // corpora never grow word diversity linearly): 5000·√mult distinct
      // synthetic words, so the trainer's working set scales the way a
      // real 100 TB vocabulary would. 64 merges per pass → 2 jobs per
      // 64 ranks; the pass count, not the rank count, is what the
      // driver loop pays for
      shape("bpe_train_batched") {
        val vocabWords = 5000L * math.max(1, math.round(math.sqrt(mult.toDouble)))
        // SPARK_GRAFT_BPE_RANKS overrides the default 1000 ranks — the
        // knob for the production-vocab demonstration (32000 ranks at
        // batch 256 ≈ 125 passes over the distinct-word table)
        val ranks = sys.env.get("SPARK_GRAFT_BPE_RANKS") match {
          case None => 1000
          case Some(v) => scala.util.Try(v.toInt).getOrElse(
            throw new IllegalArgumentException(
              s"SPARK_GRAFT_BPE_RANKS must be an integer, got '$v'"))
        }
        val batch = if (ranks > 2000) 256 else 64
        System.err.println(
          s"[soak]   bpe_train_batched heaps-law vocab=$vocabWords ranks=$ranks batch=$batch")
        val synth = docs.select(col("doc_id"),
          concat_ws(" ", col("text"),
            translate(sha2(pmod(col("doc_id"), lit(vocabWords)).cast("string"), 256),
              "0123456789", "ghijklmnop")).as("text"))
        val model = graft.text.Bpe.train(synth, "text",
          numMerges = ranks, batchSize = batch)
        System.err.println(s"[soak]   bpe_train_batched ranks=${model.merges.size}")
        pinned += model.vocabSyms
        model.vocabSyms
      },
      // unigram-LM training over the same Heaps-law vocabulary: per EM
      // pass one codegen Viterbi projection + one piece rollup + one
      // vocab-bounded collect — cost must track the distinct-word
      // table, never corpus x vocab
      shape("unigram_train") {
        val vocabWords = 5000L * math.max(1, math.round(math.sqrt(mult.toDouble)))
        // SPARK_GRAFT_UNIGRAM_VOCAB overrides the default 1000 pieces —
        // the production-vocab demonstration knob (BPE's
        // SPARK_GRAFT_BPE_RANKS twin). Past 2000 pieces the Kudo
        // seed-then-prune schedule engages (2x seed pool, 0.75 shrink
        // per round) — the configuration a real vocab build runs
        val pieces = sys.env.get("SPARK_GRAFT_UNIGRAM_VOCAB") match {
          case None => 1000
          case Some(v) => scala.util.Try(v.toInt).getOrElse(
            throw new IllegalArgumentException(
              s"SPARK_GRAFT_UNIGRAM_VOCAB must be an integer, got '$v'"))
        }
        val (seedSize, plen) = if (pieces > 2000) (pieces * 2, 8) else (0, 6)
        System.err.println(
          s"[soak]   unigram_train heaps-law vocab=$vocabWords pieces=$pieces seed=$seedSize")
        val synth = docs.select(col("doc_id"),
          concat_ws(" ", col("text"),
            translate(sha2(pmod(col("doc_id"), lit(vocabWords)).cast("string"), 256),
              "0123456789", "ghijklmnop")).as("text"))
        val model = graft.text.UnigramLm.train(synth, "text",
          vocabSize = pieces, maxPieceLen = plen, emIters = 2, seedSize = seedSize)
        System.err.println(s"[soak]   unigram_train vocab=${model.pieces.size}")
        pinned += model.segs
        model.segs
      },
      // WordPiece over the same Heaps-law vocabulary: the BPE merge loop
      // with the likelihood argmax (one extra symbol-count aggregate per
      // pass) + the greedy longest-match APPLY (one codegen projection
      // over distinct words + the corpus join) — train cost must track
      // the distinct-word table like bpe_train_batched, apply cost the
      // corpus scan
      shape("wordpiece_train_apply") {
        val vocabWords = 5000L * math.max(1, math.round(math.sqrt(mult.toDouble)))
        val ranks = sys.env.get("SPARK_GRAFT_WP_RANKS") match {
          case None => 1000
          case Some(v) => scala.util.Try(v.toInt).getOrElse(
            throw new IllegalArgumentException(
              s"SPARK_GRAFT_WP_RANKS must be an integer, got '$v'"))
        }
        val batch = if (ranks > 2000) 256 else 64
        System.err.println(
          s"[soak]   wordpiece_train_apply heaps-law vocab=$vocabWords ranks=$ranks batch=$batch")
        val synth = docs.select(col("doc_id"),
          concat_ws(" ", col("text"),
            translate(sha2(pmod(col("doc_id"), lit(vocabWords)).cast("string"), 256),
              "0123456789", "ghijklmnop")).as("text"))
        val model = graft.text.WordPiece.train(synth, "text",
          numMerges = ranks, batchSize = batch)
        System.err.println(
          s"[soak]   wordpiece_train_apply merges=${model.merges.size} " +
            s"pieces=${model.pieces.size}")
        graft.text.WordPiece.tokenize(synth, "doc_id", "text", model)
      },
      // sentence chunking: split + prefix-sum window + per-chunk rebuild —
      // must stay linear in tokens like the other doc-id-window shapes
      shape("sentence_chunking") {
        graft.text.TextAnalysis.chunkBySentences(docs, "doc_id", "text", 60)
      },
      // dup-heavy worst case for ExactSubstr: with every text copied mult
      // times, EVERY k-gram is cross-document, so the span-merge pass sees
      // the maximum possible hit density — cost must stay linear in tokens
      shape("repeated_spans") {
        graft.dedup.Dedup.repeatedSpans(docs, "doc_id", "text", k = 8)
      },
      // eval sets don't grow with the corpus: benchmark = the UNAMPLIFIED
      // subset, corpus = the amplified tables — the broadcast side stays
      // fixed while the probe side scales, the operator's design point
      shape("decontaminate") {
        graft.dedup.Dedup.decontaminate(docs,
          Tables.documents(spark, sfDir).filter(pmod(col("doc_id"), lit(97)) === 0),
          "doc_id", "text")
      },
      // same fixed-benchmark design point through the Bloom prefilter:
      // the filter build cost is fixed (eval side), the probe is codegen
      // map-side — amplified-corpus cost must track the plain form or
      // better
      shape("decontaminate_bloom") {
        graft.dedup.Dedup.decontaminateBloom(docs,
          Tables.documents(spark, sfDir).filter(pmod(col("doc_id"), lit(97)) === 0),
          "doc_id", "text")
      },
      // BM25 over the amplified corpus: doc-length agg and the
      // query-term posting filter both linear in rows; top-20 is a
      // TakeOrdered — no full sort
      shape("bm25_topk") {
        val counts = docs.select(col("doc_id"),
            explode(graft.text.TextOps.tokens(
              graft.text.TextOps.clean(col("text")))).as("token"))
          .groupBy("doc_id", "token").agg(count(lit(1)).as("freq"))
        val docLen = counts.groupBy("doc_id").agg(sum("freq").as("dl"))
        val stats = docLen.agg(count(lit(1)).cast("double").as("n_docs"),
          avg("dl").as("avgdl"))
        val hits = counts.filter(col("token")
          .isin(graft.queries.TextPipeline.Bm25Query: _*))
        val dfs = hits.groupBy("token").agg(count(lit(1)).cast("double").as("df"))
        // the SAME Okapi constants the declared query ships — tuning
        // Bm25K1/Bm25B must keep the soak measuring the shipped operator
        val k1 = graft.queries.TextPipeline.Bm25K1
        val b = graft.queries.TextPipeline.Bm25B
        hits.join(docLen, "doc_id").join(broadcast(dfs), "token")
          .crossJoin(broadcast(stats))
          .withColumn("idf", log(lit(1.0) +
            (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
          .withColumn("score_t", col("idf") * (col("freq") * (k1 + 1)) /
            (col("freq") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
          .groupBy("doc_id")
          .agg(sum("score_t").as("bm25"))
          .orderBy(desc("bm25"), asc("doc_id")).limit(20)
      },
      // Capped inverted-index Jaccard on the dup-heavy corpus: at high
      // mult every shingle's df exceeds the cap and is dropped before the
      // self-join — the guard doing exactly its job (bounded worst key).
      shape("jaccard_capped_pairs") {
        graft.dedup.Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5,
          maxDf = Some(50L))
      },
      // Same guard, weighted form: on the dup-heavy corpus every shared
      // term's df blows past the cap, so the inverted-index join sees
      // only the sub-cap tail — cost tracks content diversity, not mult²
      shape("cosine_capped_pairs") {
        graft.dedup.Dedup.cosinePairs(docs, "doc_id", "text",
          threshold = 0.3, maxDf = Some(50L))
      },
      // Bigram LM over the amplified corpus: counts contract by content
      // (dup copies multiply counts, not distinct pair keys), the scoring
      // join scales linearly in corpus bigrams
      shape("bigram_lm") {
        graft.text.TextAnalysis.bigramLogProb(docs, "doc_id", "text")
      },
      // PMI collocations on the amplified corpus: same map-side bigram
      // build as bigram_lm; pair/unigram counts contract BY CONTENT so
      // the scoring joins stay vocab-bounded while the corpus grows
      shape("pmi_collocations") {
        graft.text.TextAnalysis.pmiBigrams(docs, "text",
          minCount = 5L, topK = 20)
      }
    ) else Seq.empty) ++ (if (soakSets("sim")) {
      val emb = amplify(Tables.embeddings(spark, sfDir), Seq("vec_id"), mult)
      // Corpus scale for the nlist knob, decoupled from the amplify
      // mult (round 19): pointing SF_DIR at REAL sf1/sf10 parquet with
      // mult=1 must still grow nlist with the corpus — a fixed nlist=16
      // would quietly break the bounded-cell posture the shapes assert.
      // Default: the amplify mult (the in-memory path, unchanged).
      val scaleMult =
        sys.env.get("SPARK_GRAFT_NLIST_MULT").map(_.toInt).getOrElse(mult)
      // scale posture: numPlanes grows with log2(corpus) so expected SRP
      // bucket size stays bounded as the corpus grows — the knob a real
      // deployment turns (buckets ≈ n / 2^numPlanes). Keyed off
      // scaleMult, not the amplify mult (round-19 review): a real-parquet
      // run at mult=1 must still widen the buckets with the corpus.
      val planes = 4 + (math.log(scaleMult.toDouble) / math.log(2.0)).round.toInt
      Seq(
        shape(s"srp_near_dup_p$planes") {
          graft.similarity.Similarity.srpNearDupPairs(emb, "vec_id", "embedding",
            threshold = 0.4, numPlanes = planes, dim = 64)
        },
        shape("ivf_build_and_probe") {
          val idx = graft.similarity.Similarity.buildIvfIndex(
            emb, "vec_id", "embedding", nlist = 16)
          // FIXED query set (unamplified): amplify() offsets by i*10^7,
          // which is divisible by 1000, so filtering the amplified table
          // would silently grow the query side x mult and report a
          // superlinear artifact of the harness, not the operator
          graft.similarity.Similarity.queryIvf(idx,
            Tables.embeddings(spark, sfDir)
              .filter(pmod(col("vec_id"), lit(1000L)) === 0),
            "vec_id", "embedding", k = 5, nprobe = 4)
        },
        // All-points KNN graph: nlist GROWS with the corpus (bounded
        // cell size) while nprobe stays fixed, so pair scorings per
        // point — nprobe × avg cell — are constant and total cost is
        // linear in points. This is the knob an at-scale graph build
        // turns; a fixed nlist would quietly go quadratic.
        shape(s"knn_graph_nlist${16 * scaleMult}") {
          val idx = graft.similarity.Similarity.buildIvfIndex(
            emb, "vec_id", "embedding", nlist = 16 * scaleMult)
          graft.similarity.Similarity.knnGraph(idx, emb,
            "vec_id", "embedding", k = 5, nprobe = 4)
        },
        // cross-corpus ANN join with BOTH corpora amplified: odd-keyed
        // A-rows probe the index built over even-keyed B-rows. nlist
        // grows with the corpus (bounded cell size) while nprobe stays
        // fixed, so per-A-row pair scorings are constant and total cost
        // is linear in |A| — the knnGraph scaling contract pointed at
        // an external corpus (amplify preserves vec_id parity: the
        // 10^7 offset is even).
        shape(s"ann_join_cross_nlist${8 * scaleMult}") {
          val a = emb.filter(pmod(col("vec_id"), lit(2L)) === 1)
          val b = emb.filter(pmod(col("vec_id"), lit(2L)) === 0)
          val idx = graft.similarity.Similarity.buildIvfIndex(
            b, "vec_id", "embedding", nlist = 8 * scaleMult)
          graft.similarity.Similarity.annJoin(idx, a, "vec_id", "embedding",
            k = 3, nprobe = 4)
        },
        // MMR diversified re-rank at scale, via the SAME PipelineOps
        // helper the declared (plan-pinned) query runs. The timed
        // region is coarse fit + IVF probe + bounded-heap pooling —
        // like the knn_graph row, the build is IN the clock (see
        // knn_graph_probe_only for the measured fit/serve split; at
        // 100x the fit dominates, which the persisted-index serving
        // path amortizes away). nlist grows with the corpus, nprobe is
        // fixed, so per-point probe work is constant; the greedy select
        // is per-query constant and must stay invisible. FIXED query
        // set for the same reason as ivf_build_and_probe.
        shape(s"mmr_rerank_nlist${16 * scaleMult}") {
          val idx = graft.similarity.Similarity.buildIvfIndex(
            emb, "vec_id", "embedding", nlist = 16 * scaleMult)
          graft.queries.PipelineOps.mmrRerank(idx,
            Tables.embeddings(spark, sfDir)
              .filter(pmod(col("vec_id"), lit(1000L)) === 0),
            emb, nprobe = 4)
        },
        // the SERVING split of the same row: fit + cell materialization
        // run OUTSIDE the timed region (the persisted-index path), so
        // this measures the graph pass alone — the recurring cost per
        // graph rebuild once the index is built. The whole setup sits
        // behind the same SPARK_GRAFT_SHAPES gate shape() applies, so a
        // filtered soak run doesn't pay the untimed k-means fit either.
        {
          if (!onlyShapes.forall(_.contains("knn_graph_probe_only")))
            "knn_graph_probe_only" -> -1.0
          else {
            val idx = graft.similarity.Similarity.buildIvfIndex(
              emb, "vec_id", "embedding", nlist = 16 * scaleMult)
            val served = idx.copy(cells = idx.cells.localCheckpoint(true))
            val r = shape("knn_graph_probe_only") {
              graft.similarity.Similarity.knnGraph(served, emb,
                "vec_id", "embedding", k = 5, nprobe = 4)
            }
            graft.util.Pins.release(served.cells)
            r
          }
        })
    } else Seq.empty) ++ (if (soakSets("ml")) {
      val emb = amplify(Tables.embeddings(spark, sfDir), Seq("vec_id"), mult)
      val feats = graft.cluster.Clustering
        .embeddingFeatures(emb, "vec_id", "embedding")
        .localCheckpoint(true) // time the fits, not the input prep
      Seq(
        // the iterative MLlib fit: per-iteration cost must scale linearly
        // with rows (broadcast centers out, treeAggregate partials back)
        shape("kmeans_fit_assign") {
          graft.cluster.Clustering.fitKMeans(feats, k = 5, maxIter = 5, seed = 42L)
            .transform(feats).select(col("vec_id"), col("prediction"))
        },
        // the explicit Lloyd loop (same broadcast+partial-agg shape,
        // plus the per-iteration WCSS collect — k x dim driver state)
        shape("lloyd_loop") {
          graft.cluster.Clustering
            .lloydLoop(spark, feats, "vec_id", k = 4, maxIter = 3).assignments
        },
        // PCA fit + project: one Gramian treeAggregate pass (driver
        // state dim², corpus-independent) + a map-side codegen
        // projection — per-row cost must stay flat as rows grow
        shape("pca_fit_project") {
          val m = graft.cluster.Pca.fit(emb, "embedding", k = 5)
          graft.cluster.Pca.project(emb, "embedding", m)
            .select(col("vec_id"), col("projection"))
        },
        // hashed-feature LR fit + corpus scoring: featurization is a
        // pure map (no vocab shuffle), each L-BFGS iteration one
        // dim-bounded treeAggregate, scoring a broadcast-coefficients
        // map — end-to-end must stay linear in docs
        shape("quality_lr_fit_score") {
          val base = docs.select(col("doc_id"),
            graft.text.TextOps.tokens(graft.text.TextOps.clean(col("text")))
              .as("toks"),
            (col("text").contains("spark") || col("text").contains("vector"))
              .cast("double").as("label"))
          val f = new org.apache.spark.ml.feature.HashingTF()
            .setInputCol("toks").setOutputCol("features")
            .setNumFeatures(1 << 15).transform(base)
          val model = new org.apache.spark.ml.classification.LogisticRegression()
            .setMaxIter(10).setRegParam(1e-3)
            .setFeaturesCol("features").setLabelCol("label").fit(f)
          model.transform(f).select(col("doc_id"), col("prediction"))
        })
    } else Seq.empty) ++ (if (soakSets("graph")) {
      // page-transition PageRank on the amplified events, two regimes.
      val pages = ev.select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("page"))
      // ONE definition of the per-copy disjoint page space (copy index
      // from the user-id offset) — four growing-|V| shapes share it, so
      // the amplification scheme cannot silently diverge between them
      lazy val grownPages = pages.withColumn("page",
        col("page") + floor(col("user_id") / 10000000L) * lit(1000L))
      def edgesFrom(p: DataFrame) = {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        p.withColumn("prev_page", lag("page", 1).over(w))
          .filter(col("prev_page").isNotNull)
          .groupBy(col("prev_page").as("src"), col("page").as("dst"))
          .agg(count(lit(1)).as("w"))
      }
      Seq(
        // fixed |V| (the real page space), edge WEIGHTS densify with the
        // event volume: iteration cost is |V|-bounded, so total time must
        // be dominated by the one edge-build pass (linear in events)
        shape("pagerank_fixed_v") {
          graft.queries.GraphOps.pageRank(edgesFrom(pages),
            "src", "dst", "w", iters = 5, damping = 0.85)
        },
        // growing |V|: each amplified copy gets a disjoint page space
        // (copy index from the user-id offset), so nodes AND edges scale
        // with mult — per-iteration joins must stay linear in |E|
        shape("pagerank_growing_v") {
          graft.queries.GraphOps.pageRank(edgesFrom(grownPages),
            "src", "dst", "w", iters = 5, damping = 0.85)
        },
        // triangle census with |V| and |E| growing with mult: the
        // degree-ordered wedge join must track Σ outdeg² (O(E^1.5)
        // worst case), not hub-degree² — per-copy page spaces keep the
        // per-node degree profile fixed while the graph multiplies
        shape("triangles_growing_v") {
          graft.queries.GraphOps.triangleStats(edgesFrom(grownPages), "src", "dst")
        },
        // POWER-LAW stress: synthetic Zipf-ish graph (dst = ⌊V^u⌋ for
        // uniform u — node k drawn with p ∝ 1/k, so node 1 is a hub
        // holding Θ(E/ln V) of all edges) over a fixed V = 100k space,
        // |E| = the amplified event count. This is the profile the
        // per-copy shapes above deliberately avoid: the hub key hammers
        // the per-iteration contribution rollup (groupBy dst) — which
        // survives because partial aggregation contracts the hub's
        // contributions map-side before the exchange
        shape("pagerank_powerlaw") {
          val v = 100000L
          val edges = ev.select(
            pmod(xxhash64(col("event_id")), lit(v)).as("src"),
            least(lit(v - 1), floor(pow(lit(v.toDouble),
              pmod(xxhash64(col("event_id"), lit(1)), lit(1000000L)) /
                lit(1000000.0))).cast("long")).as("dst"),
            lit(1.0).as("w"))
          graft.queries.GraphOps.pageRank(edges, "src", "dst", "w",
            iters = 5, damping = 0.85)
        },
        // same hub profile through the wedge join: the degree-ordered
        // orientation must keep the hub's wedges at its NEIGHBORS
        // (low-degree corners), never hub-degree². Edge count is capped
        // at a tenth of the events (logged below) — the uncapped 100x
        // graph's Σ outdeg² is ~1e9 wedges, which measures patience,
        // not the join's scaling
        shape("triangles_powerlaw") {
          val v = 100000L
          System.err.println("[soak]   triangles_powerlaw edge source capped to events/10")
          val edges = ev.filter(pmod(col("event_id"), lit(10)) === 0).select(
            pmod(xxhash64(col("event_id")), lit(v)).as("src"),
            least(lit(v - 1), floor(pow(lit(v.toDouble),
              pmod(xxhash64(col("event_id"), lit(1)), lit(1000000L)) /
                lit(1000000.0))).cast("long")).as("dst"))
          graft.queries.GraphOps.triangleStats(edges, "src", "dst")
        },
        // k-core peel on the growing-|V| profile: per round one degree
        // rollup + two semi-joins over the shrinking checkpointed edge
        // set — per-round cost must stay linear in surviving |E|
        shape("kcore_growing_v") {
          graft.queries.GraphOps.kCore(edgesFrom(grownPages),
            "src", "dst", k = 3, rounds = 3)
        },
        // hash walks on the growing-|V| profile: each hop is one
        // frontier join + per-walk argmin (map-side contracted) — per
        // hop cost must stay linear in |E|
        shape("walks_growing_v") {
          graft.queries.GraphOps.hashWalks(edgesFrom(grownPages),
            "src", "dst", steps = 3, seed = 7L)
        },
        // LPA sweeps on the growing-|V| profile: like pagerank_growing_v,
        // per-sweep cost must be linear in |E| (one label join + one
        // (node, label) rollup — the rollup key space is bounded by |E|,
        // and map-side partials contract dense labels before exchange)
        shape("labelprop_growing_v") {
          graft.queries.GraphOps.labelPropagation(edgesFrom(grownPages),
            "src", "dst", "w", iters = 3)
        },
        // LPA under the hub: the hub node's (node, label) rollup sees
        // Θ(E/ln V) contributions for ONE node key — survives the same
        // way pagerank_powerlaw's rollup does (map-side partial
        // aggregation contracts per (node, label) before the exchange)
        shape("labelprop_powerlaw") {
          val v = 100000L
          val edges = ev.select(
            pmod(xxhash64(col("event_id")), lit(v)).as("src"),
            least(lit(v - 1), floor(pow(lit(v.toDouble),
              pmod(xxhash64(col("event_id"), lit(1)), lit(1000000L)) /
                lit(1000000.0))).cast("long")).as("dst"),
            lit(1.0).as("w"))
          graft.queries.GraphOps.labelPropagation(edges, "src", "dst", "w", iters = 3)
        })
    } else Seq.empty) ++ (if (soakSets("pq")) {
      val emb = amplify(Tables.embeddings(spark, sfDir), Seq("vec_id"), mult)
      Seq(
        // codebook training: per-iteration cost linear in rows (one
        // aggregation job trains all m subspaces); encoding: broadcast
        // join + argmin, linear map-side
        shape("pq_train_encode") {
          val cb = graft.similarity.Pq.buildCodebook(emb, "vec_id", "embedding",
            m = 8, ksub = 16, dim = 64, iters = 3)
          graft.similarity.Pq.encode(emb, "vec_id", "embedding", cb)
        },
        // full IVFPQ chain: coarse index + codebook + encode + ADC probe
        // + rerank. The query set stays FIXED — taken from the
        // UNAMPLIFIED table, since amplify()'s i*10^7 key offset is
        // divisible by 1000 and would otherwise grow the query side
        // x mult — while the corpus scales: probe cost tracks cell
        // occupancy, not corpus size, once the builds amortize.
        shape("ivfpq_probe") {
          // cells pinned: the two-branch shortlist consumes the cells
          // table twice, and a LIVE build plan would re-run the corpus
          // k-means assignment per consumer — the production path reads
          // cells from the PERSISTED parquet layout, which the pin
          // stands in for (same rationale as the encoded-table pin)
          val idx0 = graft.similarity.Similarity.buildIvfIndex(
            emb, "vec_id", "embedding", nlist = 16)
          val idx = idx0.copy(cells = pin(idx0.cells))
          val cb = graft.similarity.Pq.buildCodebook(emb, "vec_id", "embedding",
            m = 8, ksub = 16, dim = 64, iters = 3)
          // pinned: ivfPqTopK consumes the encoded table twice (the ADC
          // inner branch + the unencoded anti branch) — unmaterialized,
          // the second consumer re-runs the whole encode join, which is
          // the persisted-artifact production path's cost TWICE (the
          // declared query serves the same table from a memoized
          // checkpoint)
          val enc = pin(graft.similarity.Pq.encode(emb, "vec_id", "embedding", cb))
          graft.similarity.Pq.ivfPqTopK(idx, enc, cb,
            Tables.embeddings(spark, sfDir)
              .filter(pmod(col("vec_id"), lit(1000L)) === 0),
            "vec_id", "embedding", k = 5, nprobe = 4, shortlist = 50)
        },
        // the codebook-free quantizer through the same chain: coarse
        // index + SQ8 encode (pure map — no training jobs at all) +
        // int8 probe + rerank. Same FIXED query set; vs ivfpq_probe the
        // delta is the missing codebook fit, so this row isolates what
        // SQ8 buys an append-heavy corpus at scale.
        shape("ivfsq8_probe") {
          // cells + encode pinned for the same two-consumer reason as
          // ivfpq_probe (the persisted-artifact stand-in)
          val idx0 = graft.similarity.Similarity.buildIvfIndex(
            emb, "vec_id", "embedding", nlist = 16)
          val idx = idx0.copy(cells = pin(idx0.cells))
          val enc = pin(graft.similarity.Sq.encode(emb, "vec_id", "embedding"))
          graft.similarity.Sq.ivfSq8TopK(idx, enc,
            Tables.embeddings(spark, sfDir)
              .filter(pmod(col("vec_id"), lit(1000L)) === 0),
            "vec_id", "embedding", k = 5, nprobe = 4, shortlist = 50)
        },
        // OPQ through the same chain: rotation fit (one Gramian pass)
        // + rotated-space codebook + encode + rotated-ADC probe +
        // raw-space rerank. Same FIXED query set; vs ivfpq_probe the
        // delta is the rotation fit and the per-query rotation map —
        // both corpus-independent at probe time, so the row must track
        // ivfpq_probe's scaling.
        shape("ivfopq_probe") {
          val idx0 = graft.similarity.Similarity.buildIvfIndex(
            emb, "vec_id", "embedding", nlist = 16)
          val idx = idx0.copy(cells = pin(idx0.cells))
          val opq = graft.similarity.Opq.train(emb, "vec_id", "embedding",
            m = 8, ksub = 16, dim = 64, iters = 3)
          val enc = pin(graft.similarity.Opq.encode(emb, "vec_id", "embedding", opq))
          graft.similarity.Opq.ivfOpqTopK(idx, enc, opq,
            Tables.embeddings(spark, sfDir)
              .filter(pmod(col("vec_id"), lit(1000L)) === 0),
            "vec_id", "embedding", k = 5, nprobe = 4, shortlist = 50)
        },
        // BOUNDED FALLBACK COST: the same SQ8 probe with 10% of the
        // corpus left UNENCODED (the out-of-band append-delta state the
        // streaming maintainer's re-encode threshold tolerates) — those
        // cell members route through the exact-rerank anti-join branch.
        // The row's claim vs ivfsq8_probe: the fallback adds work
        // proportional to the DELTA (10% of candidates take the exact
        // path), never a regression to brute force — what makes
        // reencodeAt a cost knob rather than a correctness one.
        shape("ivfsq8_fallback_delta") {
          val idx0 = graft.similarity.Similarity.buildIvfIndex(
            emb, "vec_id", "embedding", nlist = 16)
          val idx = idx0.copy(cells = pin(idx0.cells))
          val enc = pin(graft.similarity.Sq.encode(
            emb.filter(pmod(col("vec_id"), lit(10L)) =!= 0), // 10% unencoded
            "vec_id", "embedding"))
          graft.similarity.Sq.ivfSq8TopK(idx, enc,
            Tables.embeddings(spark, sfDir)
              .filter(pmod(col("vec_id"), lit(1000L)) === 0),
            "vec_id", "embedding", k = 5, nprobe = 4, shortlist = 50)
        })
    } else Seq.empty) ++ (if (soakSets("spans")) Seq(
      // span-decontamination worst case: the FIXED unamplified benchmark
      // contaminates every amplified copy, so nearly every doc carries
      // spans and the cut's anti join + reassembly sees maximum load —
      // must stay linear in tokens
      shape("decontaminate_cut") {
        val bench = Tables.documents(spark, sfDir)
          .filter(pmod(col("doc_id"), lit(10)) === 0)
        // pin the span findings (timed — the eager checkpoint runs the
        // gram pass once, inside the shape) so the cut's adaptivity
        // count + join rescan a materialized table instead of running
        // the whole gram chain twice
        val spans = pin(graft.dedup.Dedup.contaminatedSpans(
          docs, bench, "doc_id", "text", k = 8))
        graft.dedup.Dedup.cutSpans(docs, spans, "doc_id", "text")
      },
      // the same chain with the adaptive broadcast guard FORCED past its
      // cap (maxBroadcastRows = 0): every stage takes the shuffle-join
      // fallback — the path a spans table too large to broadcast takes,
      // proving the chain survives without any driver-sized assumption
      shape("decontaminate_cut_shuffle") {
        val bench = Tables.documents(spark, sfDir)
          .filter(pmod(col("doc_id"), lit(10)) === 0)
        val spans = pin(graft.dedup.Dedup.contaminatedSpans(
          docs, bench, "doc_id", "text", k = 8, maxBroadcastRows = 0L))
        graft.dedup.Dedup.cutSpans(docs, spans, "doc_id", "text",
          maxBroadcastRows = 0L)
      },
      // the report over the same split: the amplified corpus leaks into
      // the FIXED benchmark everywhere — worst-case fan-in onto the
      // bench-doc aggregation keys
      shape("contamination_report") {
        val bench = Tables.documents(spark, sfDir)
          .filter(pmod(col("doc_id"), lit(10)) === 0)
        graft.dedup.Dedup.contaminationReport(
          docs, bench, "doc_id", "text", k = 8)
      }
    ) else Seq.empty) ++ (if (soakSets("editdist")) {
      // Fuzzy linkage with its caps BINDING on real amplified data
      // (round 19 — the LSH block route and the id cap had only ever
      // fired on DedupSpec's 10-row fixtures; sf1 peaks at 312 ids/name,
      // under the default 500). What binds what: the per-copy name
      // suffix multiplies DISTINCT NAMES per 2-char block by mult
      // (suffix at the END keeps the block prefix) — measured 80/block
      // at sf0.1 x 10, past maxBlock=50; ids-per-name stays at the BASE
      // table's recurrence (each suffixed variant appears once per
      // copy — measured 347 at sf0.1), which already exceeds the forced
      // maxIdsPerName=32. Both forced caps bind; neither relies on mult
      // growing ids-per-name. The
      // measured claims: the capped run's cost tracks its (smaller)
      // OUTPUT, not its (identical) input — it must not exceed the
      // default-cap run on the same frame — and the guarded shuffle
      // expansion stays in the same cost regime as the broadcast one.
      val partsTbl = Tables.part(spark, sfDir).select("p_partkey", "p_name")
      val amped = (0 until mult).map { i =>
        partsTbl
          .withColumn("p_partkey", col("p_partkey") + lit(i.toLong * 10000000L))
          .withColumn("p_name", concat(col("p_name"), lit(" v"), lit(i)))
      }.reduce(_ unionByName _)
      Seq(
        shape("editdist_default_caps") {
          graft.dedup.Dedup.editDistancePairs(amped, "p_partkey", "p_name")
        },
        shape("editdist_caps_binding") {
          graft.dedup.Dedup.editDistancePairs(amped, "p_partkey", "p_name",
            maxBlock = 50L, maxIdsPerName = 32)
        },
        shape("editdist_shuffle_expand") {
          graft.dedup.Dedup.editDistancePairs(amped, "p_partkey", "p_name",
            maxBlock = 50L, maxIdsPerName = 32, maxBroadcastPairs = 0L)
        })
    } else Seq.empty) ++ (if (soakSets("zorder")) Seq(
      // the layout write's cost: one range-partitioner sample pass + one
      // shuffle + per-partition sort — must scale like any clustered
      // write (n log n per partition, partition count grows with n)
      shape("zorder_layout") {
        graft.layout.ZOrder.zorderBy(
          li.select("l_orderkey", "l_partkey", "l_suppkey"),
          "l_partkey", "l_suppkey", numFiles = 32)
      },
      // the END-TO-END skipping payoff the layout write buys: both
      // layouts written UNTIMED (their cost is the zorder_layout row),
      // then a selective 2-D box predicate measured two ways — (a)
      // files whose min/max bounding box intersects the box (what any
      // stats-based catalog or the parquet footer check prunes by: the
      // Z-order files cover compact rectangles, the natural files all
      // span the whole domain) and (b) the rows the scan actually
      // EMITS under parquet row-group pruning (the engine-enforced win
      // — pushed min/max filters skip whole row groups on the
      // clustered layout, nothing on the natural one). The TIMED body
      // is only the selective read off the Z-ordered files; the
      // diagnostic scans run outside the clock and the temp layouts
      // are deleted afterwards.
      {
        if (!onlyShapes.forall(_.contains("zorder_skipping")))
          "zorder_skipping" -> -1.0
        else {
          val base = li.select("l_orderkey", "l_partkey", "l_suppkey")
          val tmp = java.nio.file.Files.createTempDirectory("graft-zskip").toString
          try {
            base.repartition(32).write.mode("overwrite").parquet(s"$tmp/natural")
            graft.layout.ZOrder.zorderBy(base, "l_partkey", "l_suppkey", numFiles = 32)
              .write.mode("overwrite").parquet(s"$tmp/zorder")
            val mx = base.agg(max("l_partkey"), max("l_suppkey")).head
            val (pCut, sCut) = (mx.getLong(0) / 8, mx.getLong(1) / 8)
            def boxPred(df: DataFrame) =
              df.filter(col("l_partkey") <= pCut && col("l_suppkey") <= sCut)
            // (a) stats-based file skipping: per-file bounding boxes
            // (keys start at the domain's low end, so a box intersects
            // the predicate box iff both its minima do)
            def fileCounts(dir: String): (Long, Long) = {
              val boxes = spark.read.parquet(dir)
                .groupBy(input_file_name().as("f"))
                .agg(min("l_partkey").as("minp"), min("l_suppkey").as("mins"))
                .localCheckpoint(true)
              try (boxes.count(),
                boxes.filter(col("minp") <= pCut && col("mins") <= sCut).count())
              finally graft.util.Pins.release(boxes)
            }
            // (b) engine-enforced row-group pruning: rows the parquet
            // scan emits under the pushed filters
            def scanEmitted(dir: String): Long = {
              val q = boxPred(spark.read.parquet(dir))
              // drive THIS queryExecution (a .write/.count would plan
              // its own) so the inspected scan node is the one that ran
              q.queryExecution.toRdd.foreach(_ => ())
              q.queryExecution.executedPlan.collect {
                case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
                  sc.metrics("numOutputRows").value
              }.sum
            }
            val (nFiles, nHit) = fileCounts(s"$tmp/natural")
            val (zFiles, zHit) = fileCounts(s"$tmp/zorder")
            val (nRows, zRows) =
              (scanEmitted(s"$tmp/natural"), scanEmitted(s"$tmp/zorder"))
            System.err.println(
              s"[soak]   zorder_skipping files-overlapping: natural=$nHit/$nFiles " +
                s"zorder=$zHit/$zFiles; scan-emitted rows: natural=$nRows zorder=$zRows")
            shape("zorder_skipping") {
              boxPred(spark.read.parquet(s"$tmp/zorder"))
            }
          } finally
            org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tmp)): Unit
        }
      }
    ) else Seq.empty) ++ (if (soakSets("mm_image")) {
      val ids = amplify(Tables.documents(spark, sfDir).select("doc_id"),
        Seq("doc_id"), mult)
      Seq(
        // real codec work in the bounded mapPartitions shape: encode +
        // header-only decode must stay linear in row count (the in-memory
        // ImageIO cache keeps per-payload cost flat)
        shape("image_encode_meta") {
          graft.multimodal.Multimodal.decodeImageMeta(spark,
            graft.multimodal.Multimodal.synthesizeImages(ids, "doc_id")).toDF()
        },
        // full pixel decode + bilinear resize + re-encode per row
        shape("image_resize") {
          graft.multimodal.Multimodal.resizeImage(spark,
            graft.multimodal.Multimodal.synthesizeImages(ids, "doc_id"),
            targetW = 8, targetH = 8).toDF()
        })
    } else Seq.empty) ++ (if (soakSets("spill")) {
      // ROBUSTNESS, not throughput: the session was built memory-starved
      // (spark.memory.fraction above), so these two heaviest shapes run
      // with an execution region far smaller than their working set —
      // the 100 TB worst-executor condition. Pass = COMPLETE by
      // spilling (the per-shape soak line reports spilled MiB from task
      // metrics; a run with zero spill proved nothing and warns below),
      // fail = OOM. Shapes mirror knn_graph_nlist*/wordpiece_train_apply
      // so their quiet-session times are directly comparable.
      val emb = amplify(Tables.embeddings(spark, sfDir), Seq("vec_id"), mult)
      Seq(
        shape(s"knn_graph_spill_nlist${16 * mult}") {
          val idx = graft.similarity.Similarity.buildIvfIndex(
            emb, "vec_id", "embedding", nlist = 16 * mult)
          graft.similarity.Similarity.knnGraph(idx, emb,
            "vec_id", "embedding", k = 5, nprobe = 4)
        },
        shape("wordpiece_train_spill") {
          val vocabWords = 5000L * math.max(1, math.round(math.sqrt(mult.toDouble)))
          val synth = docs.select(col("doc_id"),
            concat_ws(" ", col("text"),
              translate(sha2(pmod(col("doc_id"), lit(vocabWords)).cast("string"), 256),
                "0123456789", "ghijklmnop")).as("text"))
          val model = graft.text.WordPiece.train(synth, "text",
            numMerges = 1000, batchSize = 64)
          graft.text.WordPiece.tokenize(synth, "doc_id", "text", model)
        })
    } else Seq.empty) ++ (if (soakSets("mm_video")) {
      val ids = amplify(Tables.documents(spark, sfDir).select("doc_id"),
        Seq("doc_id"), mult)
      Seq(
        // the full video near-dup chain: per-row 3-frame PNG encode +
        // RIFF assembly (the synthesize), RIFF walk + per-frame decode +
        // dHash + majority vote (the fingerprint), then the SimHash band
        // join. Codec work is the dominant cost and is a pure map —
        // must stay linear in rows; the band join moves only 64-bit
        // signatures. amplify() offsets ids by i·10⁷ (even), so
        // amplified copies keep the 2g/2g+1 pairing and pair volume
        // scales with rows, never quadratically (distinct g's hashes
        // stay unrelated, same as the image fixture).
        shape("video_fingerprint_pairs") {
          val vids = graft.multimodal.Multimodal.synthesizeNearDupVideo(ids, "doc_id")
          val sig = graft.multimodal.Multimodal.videoFingerprint(spark, vids).toDF()
            .filter(col("vfp").isNotNull)
            .select(col("media_id"), col("vfp").as("simhash"))
          graft.dedup.Dedup.simhashPairsFromSignatures(sig, "media_id",
            bands = 4, maxDist = 3)
        },
        // the same chain at 128-bit fingerprints (9×16 grid, 4×32-bit
        // band keys) — the production knob for the 64-bit row's
        // O(n²/2¹⁶) birthday term: random band collisions drop by 2¹⁶,
        // so the 100x point must lose the quadratic candidate-join
        // component while the (linear) codec map stays
        shape("video_fingerprint_pairs128") {
          val vids = graft.multimodal.Multimodal.synthesizeNearDupVideo(ids, "doc_id")
          val sig = graft.multimodal.Multimodal.videoFingerprint(spark, vids,
            cols = 9, rows = 16).toDF()
            .filter(col("vfp").isNotNull)
            .select(col("media_id"), col("vfp").as("simhash"))
          graft.dedup.Dedup.simhashPairsFromSignatures(sig, "media_id",
            bands = 4, maxDist = 3, bits = 128)
        })
    } else Seq.empty)

    val ran = results.filter(_._2 >= 0)
    val qs = ran.map { case (k, v) => "\"" + k + f"""":$v%.3f""" }.mkString("{", ",", "}")
    val total = ran.map(_._2).sum
    if (soakSets("spill") && spilledMem.get() == 0L && spilledDisk.get() == 0L)
      System.err.println("[soak] WARNING: spill posture ran but nothing " +
        "spilled — raise SPARK_GRAFT_MULT or lower SPARK_GRAFT_MEM_FRACTION; " +
        "this run does not demonstrate spill robustness")
    val spillJson =
      if (soakSets("spill")) {
        // the fraction the session runs with, read back as a number
        val memFraction =
          spark.sparkContext.getConf.get("spark.memory.fraction").toDouble
        f""","mem_fraction":$memFraction%.4f,"spilled_mem_mb":${spilledMem.get() / 1048576.0}%.0f,"spilled_disk_mb":${spilledDisk.get() / 1048576.0}%.0f"""
      } else ""
    println(f"""{"metric":"soak_total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","mult":$mult$spillJson%s}""")
    spark.stop()
  }
}
