package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.Tables

/** Physical-plan shape assertions — the scale posture, regression-guarded:
  * broadcasts where intended, shuffle joins where intended, map-side
  * partial aggregation, top-k via TakeOrderedAndProject, and parquet
  * column pruning / predicate pushdown reaching the scan.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // pre-AQE physical plan: deterministic w.r.t. runtime re-optimization
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, SparkTestSession.sfDir)
      .queryExecution.sparkPlan.toString

  test("star join broadcasts every dimension (no sort-merge, no shuffle of the fact side per dim)") {
    val p = plan("j1_star_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("anti and semi joins stay broadcast") {
    assert(plan("j2_anti_join").contains("BroadcastHashJoin"))
    assert(plan("j_semi_join").contains("BroadcastHashJoin"))
  }

  test("the deliberate shuffle join actually shuffles") {
    val p = plan("j_shuffle_join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))
  }

  test("global top-k plans as TakeOrderedAndProject (partial top-k per partition, no full sort)") {
    assert(plan("a4_global_topk").contains("TakeOrderedAndProject"))
    assert(plan("t3_top10_terms").contains("TakeOrderedAndProject"))
  }

  test("group-by aggregations do map-side partial aggregation") {
    val p = plan("a1_groupby_count")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial + final HashAggregate")
  }

  test("per-group heavy hitters: bounded-heap aggregate with map-side partials, no rank window") {
    val p = plan("t7b_group_heavy_hitters")
    assert(p.contains("partial_top_k_by"),
      s"expected a partial (map-side) top_k_by aggregate:\n$p")
    assert(p.contains("top_k_by"), s"expected the final top_k_by aggregate:\n$p")
    assert(!p.contains("Window"),
      s"per-group top-k must not shuffle whole groups into a rank window:\n$p")
  }

  test("IVF-SQ8: codegen int8 scoring, WindowGroupLimit shortlist, no cross join") {
    val p = plan("sim_ann_sq8")
    assert(p.contains("vec_dot_i8"),
      s"expected the asymmetric int8 scoring kernel:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cross join in the SQ8 path:\n$p")
    val windows = SparkEntry.queries("sim_ann_sq8")(spark, SparkTestSession.sfDir)
      .queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
    val sqWindow = windows.find(_.output.exists(_.name == "sq_rank"))
    assert(sqWindow.isDefined, s"no shortlist rank window found:\n$p")
    // the contraction must sit UNDER the shortlist window itself — a
    // plan-wide substring check passes vacuously via the rerank/probe
    // windows (that exact false pass shipped once: the former
    // `rank <= shortlist || isNull` filter defeated
    // InferWindowGroupLimit and the window fully sorted every query's
    // candidate list)
    val contracted = sqWindow.get.child.collect {
      case g: org.apache.spark.sql.execution.window.WindowGroupLimitExec => g
    }
    assert(contracted.nonEmpty,
      s"the shortlist window must contract via WindowGroupLimit partials:\n$p")
    // and it exchanges only (query, neighbor, sq_sim): the float
    // vectors must not ride through the rank shuffle
    val wide = sqWindow.get.child.output.map(_.name)
      .filter(n => n.contains("vec") && n != "neighbor_id")
    assert(wide.isEmpty,
      s"vectors riding the shortlist rank exchange: $wide\n$p")
  }

  test("cross-corpus ANN join: bounded-heap top-k, no candidate rank window, no cross join") {
    val p = plan("sim_ann_join")
    assert(p.contains("partial_top_k_by"),
      s"expected map-side heap contraction per A-row:\n$p")
    // corpus-probe paths use probeCellsSkinny since round 16 (bounded-
    // heap cell selection, NO window at all in this plan); a rank
    // window over the scored candidate pairs is what must never appear
    assert(!p.contains("xc_sim DESC") && !p.contains("cosine_sim DESC"),
      s"the ANN join must not sort full candidate lists in a rank window:\n$p")
    assert(!p.linesIterator.exists(_.contains("Window ")),
      s"corpus-probe path regressed off the skinny heap cell selection:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cross join in the ANN join path:\n$p")
  }

  test("IVFOPQ: rotated-ADC arm stays codegen (vec_dot), no cross join, WindowGroupLimit shortlist") {
    val p = plan("sim_ann_opq")
    assert(p.contains("vec_dot"), s"expected codegen rotation/ADC dots:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cross join in the OPQ path:\n$p")
    val windows = SparkEntry.queries("sim_ann_opq")(spark, SparkTestSession.sfDir)
      .queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
    val adcWindow = windows.find(_.output.exists(_.name == "adc_rank"))
    assert(adcWindow.isDefined, s"no ADC shortlist rank window found:\n$p")
    val contracted = adcWindow.get.child.collect {
      case g: org.apache.spark.sql.execution.window.WindowGroupLimitExec => g
    }
    assert(contracted.nonEmpty,
      s"the OPQ shortlist window must contract via WindowGroupLimit partials:\n$p")
  }

  test("MMR re-rank: bounded-heap pooling, no rank window, no cross join") {
    val p = plan("sim_mmr_rerank")
    assert(p.contains("partial_top_k_by"),
      s"expected map-side pool contraction:\n$p")
    assert(p.contains("mmr_select"), s"expected the greedy select:\n$p")
    // the probe's per-query CELL window (crank, nlist rows per query,
    // broadcast path) is fine; what must NOT appear is a rank window
    // over the scored candidate pairs, which orders by cosine_sim DESC
    assert(!p.contains("cosine_sim DESC") && !p.contains("cosine_sim#"),
      s"the MMR path must not sort full candidate lists in a rank window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cross join in the MMR scoring path:\n$p")
  }

  // the declared sim_near_dup serves a memoized CHECKPOINT (one SRP pass
  // feeds it and sim_dedup_apply), so the plan worth auditing is the
  // lazy body it checkpoints, inspected directly
  private def srpPlan: String =
    graft.queries.PipelineOps.srpPairsPlan(spark, SparkTestSession.sfDir)
      .queryExecution.sparkPlan.toString

  test("similarity pair scoring has no per-pair array allocation (native vec_dot)") {
    val p = srpPlan
    assert(p.contains("vec_dot"))
    assert(!p.contains("zip_with"))
  }

  test("bucketed co-located join: sort-merge with zero exchanges on the join inputs") {
    // exchanges are inserted by EnsureRequirements — inspect the executed
    // plan, not the bare sparkPlan
    val p = SparkEntry.queries("sk_bucketed_join")(spark, SparkTestSession.sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p)
    assert(p.contains("SelectedBucketsCount"), "join inputs must scan the bucketed layout")
    // the only shuffle in the whole plan is the final small aggregation —
    // the join reads both bucketed layouts exchange-free
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly the final-agg exchange, got $exchanges:\n$p")
  }

  test("SRP near-dup candidates come from a bucket equi-join, never a cross join") {
    val p = srpPlan
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"declared near-dup must not plan an all-pairs join:\n$p")
    assert(p.contains("bucket"), "candidates must join on the SRP bucket key")
  }

  test("parquet scan prunes to referenced columns only") {
    // ta_token_counts reads (doc_id, text) straight off the parquet scan
    // (t1's count matrix is a build-once memoized table now, so its plan
    // is a checkpoint scan, not the parquet read)
    val p = plan("ta_token_counts")
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"scan reads unused columns: $readSchema")
  }

  test("partitioned layout gives partition pruning (PartitionFilters at the scan)") {
    val dir = java.nio.file.Files.createTempDirectory("docs_part").toString
    Tables.documents(spark, SparkTestSession.sfDir)
      .write.mode("overwrite").partitionBy("lang").parquet(dir)
    val langs = Tables.documents(spark, SparkTestSession.sfDir)
      .select("lang").distinct().count()
    assert(langs > 1, "fixture must have multiple langs for pruning to mean anything")
    val df = spark.read.parquet(dir).filter(col("lang") === "en").select("doc_id")
    val p = df.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(p).getOrElse("")
    assert(pf.contains("lang"), s"no partition filter at the scan: $pf")
  }

  test("literal predicates push down to the parquet scan") {
    val df = Tables.lineitem(spark, SparkTestSession.sfDir)
      .filter(col("l_quantity") > 40.0)
      .select("l_orderkey", "l_quantity")
    val p = df.queryExecution.executedPlan.toString
    val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findFirstIn(p).getOrElse("")
    assert(pushed.contains("GreaterThan"), s"filter not pushed: $pushed")
  }

  test("events ts-range predicates push down to the parquet scan (native timestamp read)") {
    // events.ts must surface as TimestampType AT THE SCAN (not via a
    // post-scan NTZ cast, which would sit between the relation and the
    // predicate and defeat row-group pruning — the access pattern an
    // append-heavy events table at scale lives on)
    val ev = Tables.events(spark, SparkTestSession.sfDir)
    val df = ev
      .filter(col("ts") >= lit("2024-01-15 00:00:00").cast("timestamp"))
      .select("event_id", "ts")
    val p = df.queryExecution.executedPlan.toString
    val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findFirstIn(p).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(ts"), s"ts filter not pushed: $pushed")
  }

  test("grouping sets and rollup plan one Expand pass, not a union of re-scans") {
    Seq("a_grouping_sets", "a_rollup").foreach { q =>
      val p = plan(q)
      assert(p.contains("Expand"), s"$q: no Expand:\n$p")
      assert(!p.contains("Union"), s"$q: planned as a union of re-aggregations:\n$p")
      assert("FileScan".r.findAllIn(p).size == 1, s"$q: more than one scan:\n$p")
    }
  }

  test("pivot plans a single aggregate over one scan (declared value domain)") {
    val p = plan("a_pivot")
    assert("FileScan".r.findAllIn(p).size == 1, s"extra distinct-pass scan:\n$p")
  }

  test("pure-map pipeline ops have zero exchanges") {
    Seq("tp_hash_split", "sim_quantize", "a_unpivot", "f_null_case",
      "j6b_nearest_centroid_map").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q should be map-only:\n$p")
    }
  }

  test("pagerank final iteration: checkpointed loop-invariant inputs, partial-aggregated contributions, broadcast scalars") {
    val p = plan("g_pagerank")
    // the |E| transition table and |V| node table are checkpointed once
    // (ExistingRDD scans) — no rebuild inside the iteration
    assert(p.contains("Scan ExistingRDD"), s"expected checkpointed inputs:\n$p")
    // contribution rollup partial-aggregates before its exchange
    assert(p.contains("HashAggregate"), s"expected contribution aggregate:\n$p")
    // node count + dangling mass ride as 1-row broadcast cross joins
    assert(p.contains("BroadcastNestedLoopJoin"), s"expected 1-row broadcast scalars:\n$p")
  }

  test("bm25 plans top-20 as TakeOrderedAndProject with broadcast term stats") {
    val p = plan("t8_bm25_search")
    assert(p.contains("TakeOrderedAndProject"), s"expected partial top-k:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast df/doc-length joins:\n$p")
  }

  test("bloom decontaminate probes might_contain before the confirm join") {
    val p = plan("tp_decontaminate_bloom")
    assert(p.contains("might_contain"), s"expected the native bloom probe:\n$p")
  }

  test("triangle census joins stay equi (no nested-loop closing join)") {
    // triangleStats materializes its 1-row result eagerly (pin-release
    // discipline), so pin the shape of the lazy internal plan instead —
    // built from the SAME canonicalUndirected prologue production runs
    val edges = graft.queries.GraphOps.pageEdges(spark, SparkTestSession.sfDir)
    val und = graft.queries.GraphOps.canonicalUndirected(edges, "src", "dst")
    var oriented: org.apache.spark.sql.DataFrame = null
    val p =
      try graft.queries.GraphOps.triangleStatsPlan(und, { o => oriented = o })
        .queryExecution.sparkPlan.toString
      finally {
        graft.util.Pins.release(und)
        if (oriented != null) graft.util.Pins.release(oriented)
      }
    // the orientation-aware OR-condition closing join planned as an
    // INNER BroadcastNestedLoopJoin and measured 4.4x slower — the only
    // legitimate nested loops here are the 1-row Cross scalar attaches
    assert(!p.contains("NestedLoopJoin BuildLeft, Inner") &&
      !p.contains("NestedLoopJoin BuildRight, Inner"),
      s"closing join must be an equi-join:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected hash/merge joins:\n$p")
  }

  test("quality-LR featurization is a pure map (no vocabulary build, no exchange)") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val base = docs.select(col("doc_id"),
      graft.text.TextOps.tokens(graft.text.TextOps.clean(col("text"))).as("toks"),
      col("text").contains("spark").cast("double").as("label"))
    val f = new org.apache.spark.ml.feature.HashingTF()
      .setInputCol("toks").setOutputCol("features").setNumFeatures(1 << 15)
      .transform(base)
    val p = f.queryExecution.sparkPlan.toString
    assert(!p.contains("Exchange"), s"featurization must not shuffle:\n$p")
  }

  test("scalar subquery broadcasts the 1-row aggregate; winsorize broadcasts the bounds") {
    assert(plan("q_scalar_subquery").contains("BroadcastNestedLoopJoin"))
    assert(plan("tp_winsorize").contains("BroadcastHashJoin"))
  }

  test("keep-best dedup partially aggregates map-side (max_by partials)") {
    val p = plan("tp_keep_best")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial/final agg pair:\n$p")
  }

  test("z-order key is map-side over one broadcast min/max row, no fact shuffle") {
    val p = plan("tp_zorder")
    // the only cross join is the 1-row min/max broadcast; the fact side
    // itself is never exchanged before the layout key is computed
    assert(p.contains("BroadcastNestedLoopJoin"), s"min/max should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert("(?<!Broadcast)Exchange".r.findAllIn(p).size <= 1, // at most the min/max agg's reduce
      s"only the 1-row aggregate may shuffle:\n$p")
  }

  test("no interpreted higher-order-function lambda survives in the hot declared plans") {
    // HOFs (transform/aggregate/zip_with) evaluate INTERPRETED — every one
    // of these queries once carried one in its hot path and was measurably
    // slower for it; the executed plan must stay lambda-free
    Seq("tp_cut_spans", "ml_kmeans_assign", "j6b_nearest_centroid_map",
      "ta_repetition", "ta_fingerprint", "f_array_agg").foreach { q =>
      val p = SparkEntry.queries(q)(spark, SparkTestSession.sfDir)
        .queryExecution.executedPlan.toString
      assert(!p.toLowerCase.contains("lambdafunction"),
        s"$q: interpreted lambda in executed plan:\n$p")
    }
  }

  test("no NEW interpreted lambda sneaks into any declared plan (pinned exception list)") {
    // the fleet-wide regression net behind the test above: every declared
    // query's executed plan is lambda-free EXCEPT these, each with a
    // reviewed reason — tiny/bounded inputs or no codegen alternative
    val allowed = Set(
      "sim_quantize", // int8 render needs per-element round-then-cast (array cast truncates)
      "mm_byte_hist") // 16-element feature render per media row
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => allowed(n) }
      .flatMap { case (name, fn) =>
        val p = scala.util.Try(
          fn(spark, SparkTestSession.sfDir).queryExecution.executedPlan.toString)
          .getOrElse("")
        if (p.toLowerCase.contains("lambdafunction")) Some(name) else None
      }
    assert(offenders.isEmpty,
      s"interpreted lambdas in declared plans (add a codegen form or justify " +
        s"an exception): ${offenders.mkString(", ")}")
  }

  test("radius search plans no per-query sort (threshold filter, not a rank window)") {
    // exactly ONE window in the whole plan: the tiny per-query CELL
    // ranking of the probe (nlist rows per query — radius is a
    // BROADCAST-probe path, so the window form of probeCells is the
    // right one; the corpus-probe paths use the skinny heap form, see
    // the ANN-join test). The corpus-sized candidate stream is filtered
    // by threshold, never ranked — that's the point of a radius probe
    // vs top-k.
    val p = plan("sim_radius")
    val windowLines = p.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("crank")),
      s"a non-probe window ranks candidates:\n$p")
    assert(p.contains(">= 0.2"), s"threshold filter missing:\n$p")
  }

  test("kmeans-assign distances ride the codegen center_distance kernel") {
    val p = plan("ml_kmeans_assign")
    // the Lloyd loop's direct Σ(x−y)² kernel, not the cancellation-prone
    // algebraic expansion over vec_dot (a·a − 2a·c + ‖c‖²)
    assert(p.contains("center_distance"), s"expected the center_distance kernel:\n$p")
    assert(!p.contains("zip_with"), s"HOF sqdist survived:\n$p")
  }

  test("doc-clusters' nearest-center flag is UDF-free (the kernels, no broadcast UDF)") {
    // MLlib's KMeansModel.transform computes `prediction` with its own
    // one-argument UDF over the features; the flag itself must add none
    val udfs = SparkEntry.queries("ml_doc_clusters")(spark, SparkTestSession.sfDir)
      .queryExecution.sparkPlan.collect { case p => p.expressions }.flatten
      .flatMap(_.collect { case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u })
    assert(udfs.forall(_.children.size == 1),
      s"a multi-argument UDF computes the flag: ${udfs.mkString("; ")}")
  }

  test("IVFPQ probe joins on keys at every stage — no cartesian, no corpus broadcast") {
    val p = plan("sim_ann_ivfpq")
    assert(!p.contains("CartesianProduct"), s"cross join in IVFPQ:\n$p")
    // ADC table + probe + query side broadcast (all query-sized);
    // the corpus-sized encoded table must arrive via hash joins
    assert(p.contains("BroadcastHashJoin"))
    // the ADC shortlist window must contract via WindowGroupLimit UNDER
    // the window itself (same structural pin as the SQ8 twin — a plain
    // rank cut, not the OR-isNull form that defeats the rule)
    val adcWindow = SparkEntry.queries("sim_ann_ivfpq")(spark, SparkTestSession.sfDir)
      .queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.output.exists(_.name == "adc_rank") => w
      }
    assert(adcWindow.nonEmpty, s"no ADC shortlist window found:\n$p")
    assert(adcWindow.head.child.collect {
      case g: org.apache.spark.sql.execution.window.WindowGroupLimitExec => g
    }.nonEmpty,
      s"the ADC shortlist window must contract via WindowGroupLimit partials:\n$p")
  }

  test("Lloyd loop's per-iteration plan is UDF-free (codegen nearest_center / center_distance)") {
    // capture the iteration-0 assignment plan via the hook; the stats
    // pass reuses the same frame plus center_distance
    var asgPlan: String = null
    val emb = graft.cluster.Clustering.embeddingFeatures(
      Tables.embeddings(spark, SparkTestSession.sfDir), "vec_id", "embedding")
    graft.cluster.Clustering.lloydLoop(spark, emb, "vec_id", k = 3, maxIter = 1,
      onIteration = Some((_, asg) => {
        if (asgPlan == null) asgPlan = asg.queryExecution.sparkPlan.toString
      }))
    assert(asgPlan != null)
    assert(asgPlan.contains("nearest_center"),
      s"expected the codegen argmin kernel:\n$asgPlan")
    // the input-side array_to_vector conversion runs once at cache fill
    // (it sits under the InMemoryRelation boundary); the ITERATION's own
    // operators — everything above the cached scan — must be UDF-free
    val iterPart = asgPlan.split("InMemoryTableScan").head
    assert(!iterPart.contains("UDF("),
      s"serialization-boxed UDF survived in the Lloyd iteration:\n$asgPlan")
  }

  test("near-dup scorers dump their served pipelines: merge-hinted self-joins, no bare checkpoint scan") {
    def dumped(q: String) = Plans.explain(spark, SparkTestSession.sfDir, q)
    // the operator tree heading the formatted plan, one operator a line
    def tree(p: String) = p.linesIterator.drop(1).takeWhile(_.trim.nonEmpty).toSeq
    Seq("dd_jaccard_pairs", "dd_containment_pairs", "dd_cosine_pairs",
      "dd_repeated_spans", "sim_near_dup").foreach { q =>
      val p = dumped(q)
      assert(tree(p).exists(op => !op.contains("Scan ExistingRDD") &&
        !op.contains("AdaptiveSparkPlan")),
        s"$q dumps a bare checkpoint scan, which audits nothing:\n$p")
      if (q != "dd_repeated_spans" && q != "sim_near_dup")
        assert(p.contains("SortMergeJoin"),
          s"$q: the corpus-sized self-join must stay a merge join:\n$p")
      else
        assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
          s"$q: nothing quadratic belongs in this pipeline:\n$p")
    }
  }

  test("CDC dedup excision: one chunk-table exchange, two windows, ZERO joins (no self-join)") {
    // feed the excision a leaf chunk table so the assertion scopes to
    // the excision layer itself, not cdcChunks' own build
    import spark.implicits._
    val chunks = Seq((1L, 0L, 4L, 11L, 4L), (2L, 0L, 4L, 11L, 4L))
      .toDF("doc_id", "chunk_start", "chunk_end", "chunk_hash", "n_tokens")
    // executedPlan, not sparkPlan: exchanges are only inserted by
    // EnsureRequirements
    val s = graft.dedup.Dedup.cdcExcision(chunks, "doc_id")
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(chunk_hash".r.findAllIn(s).size == 1,
      s"excision must shuffle the chunk table exactly once, on the chunk identity:\n$s")
    assert("Exchange".r.findAllIn(s).size == 1,
      s"no second exchange belongs in the excision:\n$s")
    assert("Window ".r.findAllIn(s).size == 2, // repeat count + canonical pick
      s"expected the count window and the canonical-pick window:\n$s")
    assert(!s.contains("Join"),
      s"the chunk table must never join against itself:\n$s")
  }

  test("CDC dedup apply (declared): key joins only — no cartesian, no nested loop") {
    val p = plan("dd_cdc_apply")
    assert(!p.contains("CartesianProduct"), s"cross join in dd_cdc_apply:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in dd_cdc_apply:\n$p")
  }

  test("batched BPE candidate pass: partial/final aggregate + TakeOrderedAndProject, no window, no join") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir).limit(50)
    val p = graft.text.Bpe
      .batchCandidates(graft.text.Bpe.symsTable(docs, "text"), 18)
      .queryExecution.sparkPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"top-candidates must be a partial top-k, not a global sort:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"pair counts must partial-aggregate map-side:\n$p")
    assert(!p.contains("Window "), s"no window belongs in the batched pass:\n$p")
    assert(!p.contains("Join"), s"no join belongs in the candidate pass:\n$p")
  }

  test("batched WordPiece candidate pass: broadcast symbol-count attach + TakeOrderedAndProject, no shuffle join") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir).limit(50)
    val tbl = graft.text.Bpe.symsTable(docs, "text")
    val symCounts = tbl
      .select(explode(col("syms")).as("sym"), col("cnt"))
      .groupBy("sym").agg(sum("cnt").as("c"))
    val p = graft.text.WordPiece.batchScoredCandidates(tbl, symCounts, 3)
      .queryExecution.sparkPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"top-candidates must be a partial top-k, not a global sort:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2,
      s"both symbol-count attachments must broadcast (vocab-sized side):\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"a corpus-shuffling join sneaked into the scored pass:\n$p")
    assert(!p.contains("Window "), s"no window belongs in the batched pass:\n$p")
  }

  test("batched merge application is a pure map (no exchange)") {
    import spark.implicits._
    val tbl = Seq(("ab", 1L, Seq("a", "b"))).toDF("word", "cnt", "syms")
    val p = tbl.withColumn("syms",
        graft.functions.MergeBatchApply(col("syms"), Seq(("a", "b"))))
      .queryExecution.sparkPlan.toString
    assert(!p.contains("Exchange"),
      s"applying a merge batch must not move a single row:\n$p")
  }
}
