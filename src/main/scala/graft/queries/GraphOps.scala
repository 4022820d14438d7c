package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables

/** Graph analytics over relational edge tables — the iterative-join family
  * the reference's K-Means driver loop belongs to (SURVEY §3.3), applied to
  * the link-analysis shape a web-scale training-data pipeline needs
  * (PageRank-weighted source selection, as in Common-Crawl-derived corpora).
  *
  * Scale design: the transition table (|E| rows) is built ONCE, pre-divided
  * by out-weight, hash-partitioned by `src`, and locally checkpointed —
  * `Dataset.localCheckpoint` preserves the plan's output partitioning, so
  * every iteration's rank⋈edges join reshuffles only the |V|-sized rank
  * table while the edge layout is reused. Per iteration the moving state is
  * exactly: one |V| shuffle into the join, one |V| partial-agg shuffle of
  * contributions, and two 1-row broadcast scalars (node count, dangling
  * mass) — the 100 TB edge set never re-exchanges after the build. The
  * driver holds no per-node state (contrast GraphX's Pregel, which would
  * also work but pins both vertex and edge RDDs; the DataFrame form rides
  * AQE + Tungsten aggregation and keeps the engine's one-API surface).
  */
object GraphOps {

  type Q = (SparkSession, String) => DataFrame

  /** Weighted PageRank with teleport + uniform dangling-mass redistribution,
    * a fixed number of synchronous iterations (the textbook power-iteration
    * semantics — Page et al. 1999; fixed iters keeps it oracle-expressible
    * as chained SQL CTEs).
    *
    * Invariant: Σ ranks == 1 after every iteration (teleport (1−d)/N plus
    * d·(in-flow + dangling/N) redistributes all mass).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               wCol: String, iters: Int, damping: Double): DataFrame =
    powerIterate(edges, srcCol, dstCol, wCol, iters, damping, None)

  /** Personalized PageRank (Jeh & Widom 2003): identical power iteration
    * but BOTH the teleport and the dangling mass land only on the seed
    * set (uniformly), so rank concentrates around the seeds — the
    * "expand from what we trust" form of PageRank-weighted source
    * selection. Seeds not in the graph are ignored; with an empty seed
    * intersection every rank is 0 (no teleport mass anywhere).
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           wCol: String, seeds: DataFrame, seedCol: String,
                           iters: Int, damping: Double): DataFrame =
    powerIterate(edges, srcCol, dstCol, wCol, iters, damping,
      Some(seeds.select(col(seedCol).as("node")).distinct()))

  /** Shared power-iteration core. `seedNodes` = None → uniform teleport
    * 1/N (classic PageRank); Some(s) → teleport 1/|s∩V| on the seed
    * nodes, 0 elsewhere.
    */
  private def powerIterate(edges: DataFrame, srcCol: String, dstCol: String,
                           wCol: String, iters: Int, damping: Double,
                           seedNodes: Option[DataFrame]): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(wCol).cast("double").as("w"))

    // |V|-sized node table, checkpointed so the derived artifacts below
    // build from one materialization. Its LIFETIME ends there: trans and
    // the rank state are themselves eagerly checkpointed, so nodes'
    // blocks are released before the loop (Pins.release below) — do NOT
    // reference it after that point (a released localCheckpoint cannot
    // recompute).
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(true)

    // Loop-invariant edge state: P(src→dst) = w / Σw(src), partitioned by
    // src so the per-iteration join reuses this layout.
    val outW = e.groupBy("src").agg(sum("w").as("w_out"))
    val trans = e.join(outW, "src")
      .select(col("src"), col("dst"), (col("w") / col("w_out")).as("p"))
      .repartition(col("src"))
      .localCheckpoint(true)

    // ONE loop state table: (node, tp, dang, pr) — the teleport vector
    // and the dangling flag ride as COLUMNS of the rank state, so an
    // iteration joins no standalone |V| table back in. Uniform teleport:
    // tp = 1/N. Personalized: tp = 1/|seeds∩V| on seeds, 0 elsewhere.
    // dang = node has no outgoing edge (trans' src set).
    val outSrc = trans.select(col("src").as("node")).distinct()
      .withColumn("has_out", lit(1))
    val withDang = nodes.join(outSrc, Seq("node"), "left")
      .select(col("node"), col("has_out").isNull.as("dang"))
    val ranks0 = (seedNodes match {
      case None =>
        val nDf = nodes.agg(count(lit(1)).cast("double").as("n_nodes"))
        withDang.crossJoin(broadcast(nDf))
          .select(col("node"), (lit(1.0) / col("n_nodes")).as("tp"),
            col("dang"))
      case Some(s) =>
        val inGraph = nodes.join(s, Seq("node"), "left_semi")
        val sDf = inGraph.agg(count(lit(1)).cast("double").as("n_seeds"))
        withDang.join(inGraph.withColumn("is_seed", lit(1)), Seq("node"), "left")
          .crossJoin(broadcast(sDf))
          .select(col("node"),
            when(col("is_seed").isNotNull, lit(1.0) / col("n_seeds"))
              .otherwise(lit(0.0)).as("tp"),
            col("dang"))
    }).withColumn("pr", col("tp"))
      .localCheckpoint(true)
    // nodes fed the (now-materialized) state checkpoint and nothing else
    graft.util.Pins.release(nodes)

    // by-NAME column references in the step: once lineage spans two
    // iterations, dataset-attribute references like trans("dst") become
    // ambiguous, while names resolve against the disjoint output schemas
    // (ranks (node, tp, dang, pr), trans (src, dst, p)). A halved
    // checkpoint cadence was measured and bought nothing.
    graft.util.Pins.iterate(ranks0, iters) { ranks =>
      val contrib = ranks.join(trans, col("node") === col("src"))
        .groupBy(col("dst"))
        .agg(sum(col("pr") * col("p")).as("contrib"))
      val dangMass = ranks.filter(col("dang"))
        .agg(coalesce(sum("pr"), lit(0.0)).as("dmass"))
      ranks.join(contrib, col("node") === col("dst"), "left")
        .crossJoin(broadcast(dangMass))
        .select(col("node"), col("tp"), col("dang"),
          (lit(1.0 - damping) * col("tp") +
            lit(damping) * (coalesce(col("contrib"), lit(0.0)) +
              col("dmass") * col("tp"))).as("pr"))
    }.select(col("node"), col("pr"))
  }

  /** Synchronous label propagation (community detection — Raghavan et
    * al. 2007) over the undirected weighted graph: every node starts
    * labeled with itself; each iteration relabels every node with the
    * neighbor label of maximum total edge weight, ties to the SMALLEST
    * label. The deterministic argmax and the FIXED iteration count are
    * deliberate departures from plain LPA's random tie-breaks and
    * update order — they make the sweep reproducible and
    * oracle-expressible as unrolled SQL CTEs (the same trade
    * [[pageRank]] makes with fixed power iterations).
    *
    * Scale shape mirrors [[powerIterate]]: the symmetrized edge table
    * (2|E| rows) is built ONCE, hash-partitioned by `src` and locally
    * checkpointed; each iteration then moves only the |V|-sized label
    * table — one join shuffle into the edges, one (node, label)
    * partial-aggregated rollup, one bounded argmax per node (weight
    * sums of integer counts are double-exact, so the tie-break is
    * engine-portable). The label state advances through
    * [[graft.util.Pins.iterate]]; `sym` and the last label checkpoint
    * stay pinned for the caller.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       wCol: String, iters: Int): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(wCol).cast("double").as("w"))
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .repartition(col("src"))
      .localCheckpoint(true)
    val lab0 = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    graft.util.Pins.iterate(lab0, iters) { lab =>
      val contrib = sym.join(lab.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"), col("label"))
        .agg(sum("w").as("wsum"))
      // no relabel join-back (lab ⟕ winner): every lab node is a sym src,
      // hence — symmetrized edges — a dst, so the winner covers lab's
      // node set and the join-back would be the identity
      contrib.groupBy("node")
        .agg(min(struct((-col("wsum")).as("nw"), col("label").as("l"))).as("best"))
        .select(col("node"), col("best.l").as("label"))
    }
  }

  /** Triangle count + global clustering coefficient over an undirected
    * graph, via the degree-ordered orientation (Schank & Wagner 2005 /
    * Cohen's MapReduce form): orient every undirected edge from its
    * lower-(degree, id) endpoint to the higher one, enumerate wedges as
    * the oriented self-join on the source, and close each wedge against
    * the oriented edge set. Each triangle is counted exactly once (at
    * its lowest-order corner), and every vertex's oriented out-degree is
    * O(√E), so the wedge join is Σ outdeg² = O(E^1.5) instead of the
    * naive Σ deg² that a hub vertex makes quadratic — the standard trick
    * that keeps triangle counting joinable at social-graph scale. Output
    * is one row: (n_edges, n_wedges, n_triangles, clustering) with
    * clustering = 3·triangles / wedges (the global transitivity ratio).
    */
  /** Canonical undirected edge set — (a < b), self-loops dropped,
    * checkpointed (the census reads it three times). Shared with
    * PlanSpec's wedge-join shape pin so the test sees the production
    * prologue, not a copy.
    */
  private[graft] def canonicalUndirected(edges: DataFrame, srcCol: String,
                                         dstCol: String): DataFrame =
    edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)

  /** Deterministic hash-walk table — DeepWalk-style random-walk
    * sequences (Perozzi et al. 2014) with the RNG replaced by the
    * engine-portable rolling hash: from every node, one walk of
    * `steps` hops where hop t moves to the out-neighbor minimizing
    * `rolling_hash("<walk>:<t>:<dst>:<seed>")` — uniform-ish over
    * neighbors, reproducible across runs/engines/partitionings (the
    * same determinism trade `deterministicShuffle` makes), and
    * oracle-expressible as unrolled CTEs. Walks stop at sinks (no
    * out-edges — no row emitted past the sink).
    *
    * Scale shape: the distinct edge table is built once, partitioned by
    * `src` and checkpointed; each hop moves only the |V|-sized frontier
    * (one join into the edges + one per-walk argmin whose partial
    * aggregate contracts map-side). Output: (walk_id, step, node) —
    * step 0 is the start node.
    */
  def hashWalks(edges: DataFrame, srcCol: String, dstCol: String,
                steps: Int, seed: Long): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .repartition(col("src"))
      .localCheckpoint(true)
    var frontier = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .select(col("node").as("walk_id"), col("node"))
      .localCheckpoint(true)
    // Each hop materializes ONCE as its own |V|-sized checkpoint and the
    // result is the lazy union of all hop checkpoints — O(steps·|V|)
    // checkpoint bytes, not a re-checkpointed accumulated union. Every
    // hop stays pinned for the caller: the returned union reads them all.
    val hops = scala.collection.mutable.ArrayBuffer[DataFrame](frontier)
    for (t <- 1 to steps) {
      val key = pmod(graft.functions.TextExprs.rollingHash(
        concat_ws(":", col("walk_id").cast("string"), lit(t),
          col("dst").cast("string"), lit(seed))), lit(1000000007L))
      val next = frontier
        .join(e, col("node") === col("src"))
        .groupBy("walk_id")
        .agg(min(struct(key.as("k"), col("dst").as("d"))).as("__best"))
        .select(col("walk_id"), col("__best.d").as("node"))
        .localCheckpoint(true)
      hops += next
      frontier = next
    }
    graft.util.Pins.release(e)
    hops.zipWithIndex.map { case (f, t) =>
      f.select(col("walk_id"), lit(t).as("step"), col("node"))
    }.reduceLeft(_ unionAll _)
  }

  /** Bounded k-core peel (Seidman 1983's degeneracy filter, the standard
    * graph cleaner — low-degree fringe nodes are dropped, and dropping
    * them exposes the next fringe): `rounds` synchronous passes, each
    * removing every node whose CURRENT degree in the canonical
    * undirected graph is below `k`, then restricting the edge set to
    * survivors on BOTH endpoints. A FIXED round count (not a fixpoint
    * loop) keeps it oracle-expressible as unrolled CTEs — peeling is
    * monotone (survivor sets only shrink), so `rounds` is a documented
    * lower bound on the true core: by round r every node peeled needed
    * at most r fringe layers removed to expose it, and the true k-core
    * is the limit. Per round: one degree rollup (|E| partial-aggregated)
    * + two semi-joins; the edge set advances through
    * [[graft.util.Pins.iterate]], so each round's joins read a
    * materialized shrinking table.
    *
    * Output: the surviving nodes with their degree inside the surviving
    * subgraph — (node, degree).
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, rounds: Int): DataFrame = {
    val und = graft.util.Pins.iterate(
        canonicalUndirected(edges, srcCol, dstCol), rounds) { und =>
      val deg = und.select(col("a").as("node"))
        .union(und.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
      val kept = deg.filter(col("degree") >= k).select("node")
      und
        .join(kept.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(kept.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .select("a", "b")
    }
    // final degrees inside the surviving subgraph, re-filtered at k
    // (the last peel can re-expose sub-k nodes; they are NOT survivors)
    und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
      .filter(col("degree") >= k)
  }

  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = canonicalUndirected(edges, srcCol, dstCol)
    var oriented: DataFrame = null
    try {
      val lazyStats = triangleStatsPlan(und, { o => oriented = o })
      // the result is ONE row — materialize it inside the pin's lifetime
      // so the checkpoints can be released here instead of leaking to the
      // caller (the try/finally discipline of Pq.buildCodebook)
      val r = lazyStats.head
      import edges.sparkSession.implicits._
      // empty graph: n_wedges (a SUM) and clustering are NULL while the
      // counts are 0 — carry the nulls through, as the lazy plan did
      def optLong(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
      def optDouble(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      Seq((optLong(0), optLong(1), optLong(2), optDouble(3)))
        .toDF("n_edges", "n_wedges", "n_triangles", "clustering")
    } finally {
      graft.util.Pins.release(und)
      if (oriented != null) graft.util.Pins.release(oriented)
    }
  }

  /** The lazy 1-row triangle-census plan over a canonical undirected edge
    * checkpoint — split out so PlanSpec can pin the wedge join's shape
    * (equi-join, never nested-loop) before [[triangleStats]] collapses
    * the row to a local result. `onOriented` hands back the oriented-edge
    * checkpoint for release.
    */
  private[graft] def triangleStatsPlan(und: DataFrame,
                                       onOriented: DataFrame => Unit): DataFrame = {
    val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // orient low-(deg, id) -> high-(deg, id); checkpointed because the
    // wedge self-join reads it twice
    val oriented = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .localCheckpoint(true)
    onOriented(oriented)
    // wedges at the lowest-order corner, emitted id-canonical (v1 < v2);
    // the closing check is a plain EQUI-join against the id-canonical
    // undirected edge set (an orientation-aware OR-condition here would
    // plan as a nested loop — the orientation's job ends at bounding the
    // wedge fan-out)
    val w1 = oriented.select(col("u"), col("v").as("v1"))
    val w2 = oriented.select(col("u"), col("v").as("v2"))
    val wedgesAtCorner = w1.join(w2, "u").filter(col("v1") < col("v2"))
    val triangles = wedgesAtCorner.join(und,
        col("v1") === col("a") && col("v2") === col("b"))
      .agg(count(lit(1)).as("n_triangles"))
    val totals = und.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(
        sum(col("deg") * (col("deg") - 1) / 2).cast("long").as("n_wedges")))
    totals.crossJoin(broadcast(triangles))
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
          .as("clustering"))
  }

  /** Page-transition edge table from the events stream: consecutive
    * `props.k` page visits per user (same (user_id, ts, event_id) ordering
    * as ev_transitions), weighted by transition count. One window shuffle
    * on user_id + one |pages|²-bounded aggregation.
    */
  def pageEdges(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("page"))
      .withColumn("prev_page", lag("page", 1).over(w))
      .filter(col("prev_page").isNotNull)
      .groupBy(col("prev_page").as("src"), col("page").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  private val Damping = 0.85
  private val Iters = 5
  private val LpIters = 3
  private val KcoreK = 3
  private val KcoreRounds = 3
  private val WalkSteps = 3
  private val WalkSeed = 7L

  val queries: Map[String, Q] = Map(
    // Link analysis over the page-transition graph: 5 power iterations,
    // d = 0.85, dangling mass redistributed uniformly. Ranks sum to 1.
    // pageEdges is pinned ONCE here (the g_components discipline):
    // powerIterate references its edge frame ~5 times (node union x2,
    // out-weight agg, transition join), and each reference would replay
    // the events window plan. Safe to release in finally: trans and the
    // rank state are eagerly checkpointed inside powerIterate, so the
    // returned plan never reads the edge frame.
    "g_pagerank" -> ((s, d) => {
      val edges = pageEdges(s, d).localCheckpoint(true)
      try pageRank(edges, "src", "dst", "w", Iters, Damping)
        .select(col("node").as("page"), round(col("pr"), 6).as("pr"))
      finally graft.util.Pins.release(edges)
    }),

    // Triangle census of the undirected page graph: count + global
    // clustering coefficient via the degree-ordered wedge join.
    "g_triangles" -> ((s, d) =>
      triangleStats(pageEdges(s, d), "src", "dst")),

    // Community detection on the page graph: 3 synchronous LPA sweeps,
    // weighted argmax, deterministic min-label ties.
    "g_label_prop" -> ((s, d) =>
      labelPropagation(pageEdges(s, d), "src", "dst", "w", LpIters)
        .select(col("node").as("page"), col("label").as("community"))),

    // Graph-embedding corpus generation: one deterministic 3-hop
    // hash-walk per page (DeepWalk sequences with the RNG replaced by
    // the portable rolling hash — reproducible and oracle-replayable).
    "g_hash_walks" -> ((s, d) =>
      hashWalks(pageEdges(s, d), "src", "dst", steps = WalkSteps, seed = WalkSeed)
        .select(col("walk_id").as("walk"), col("step"), col("node").as("page"))),

    // Graph cleaning: 3 bounded k-core peels at k = 3 — the degeneracy
    // filter that drops the low-degree fringe (and the fringe exposed by
    // dropping it) before link analysis trusts the structure.
    "g_kcore" -> ((s, d) =>
      kCore(pageEdges(s, d), "src", "dst", k = KcoreK, rounds = KcoreRounds)
        .select(col("node").as("page"), col("degree"))),

    // Connected components of the STRONG page graph (transition weight
    // >= 3x the mean edge weight — the "significant co-navigation"
    // subgraph; the RELATIVE cut keeps the threshold meaningful at any
    // event volume): every page keeps a row, weak-or-isolated pages
    // become singletons. Reuses the dedup closure machinery (adaptive
    // driver union-find / distributed min-label propagation) on
    // graph-shaped input — one engine, one closure implementation. The
    // mean rides as a broadcast 1-row cross join, not a collect.
    "g_components" -> ((s, d) => {
      val edges = pageEdges(s, d).localCheckpoint(true)
      try {
        val nodes = edges.select(col("src").as("page"))
          .union(edges.select(col("dst").as("page")))
          .distinct()
        val meanW = edges.agg(avg(col("w")).as("mean_w"))
        val strong = edges.crossJoin(broadcast(meanW))
          .filter(col("w") >= lit(3.0) * col("mean_w"))
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .filter(col("a") =!= col("b"))
          .distinct()
        // materialize BEFORE releasing `edges`: connectedComponents' local
        // (driver union-find) path returns a plan whose singleton anti-join
        // still reads `nodes` → `edges` lazily. The caller owns the
        // returned |V|-sized pin.
        graft.dedup.Dedup.connectedComponents(nodes, "page", strong, "a", "b")
          .select(col("node").as("page"), col("component"))
          .localCheckpoint(true)
      } finally graft.util.Pins.release(edges)
    }),

    // Personalized PageRank from a fixed trust set (pages ≡ 0 mod 10):
    // teleport AND dangling mass land only on the seeds, so rank measures
    // proximity to the trusted set — the seed-expansion form of
    // PageRank-weighted source selection. Ranks still sum to 1.
    // pinned like g_pagerank — doubly worthwhile here because the SEED
    // derivation adds two more references to the edge frame on top of
    // powerIterate's ~5 (this query ran ~1.6x g_pagerank's time purely
    // on replayed events-window scans before the pin)
    "g_ppr_seeded" -> ((s, d) => {
      val edges = pageEdges(s, d).localCheckpoint(true)
      try {
        val seeds = edges.select(col("src").as("page"))
          .union(edges.select(col("dst").as("page")))
          .distinct()
          .filter(pmod(col("page"), lit(10)) === 0)
        personalizedPageRank(edges, "src", "dst", "w", seeds, "page",
          Iters, Damping)
          .select(col("node").as("page"), round(col("pr"), 6).as("pr"))
      } finally graft.util.Pins.release(edges)
    })
  )

  /** The same 5 iterations as chained CTEs (fixed iteration count makes
    * power iteration ANSI-SQL-expressible without recursion). Both
    * oracles share the teleport-vector formulation the Scala loop uses:
    * pr' = (1−d)·tp + d·(inflow + dangling·tp).
    */
  private def pagerankSqlFor(seeded: Boolean): String = {
    val tpCte =
      if (!seeded)
        """nn AS (SELECT CAST(count(*) AS DOUBLE) AS n_nodes FROM nodes),
          |tp AS (SELECT node, 1.0 / (SELECT n_nodes FROM nn) AS tp FROM nodes)""".stripMargin
      else
        """seeds AS (SELECT node FROM nodes WHERE node % 10 = 0),
          |ns AS (SELECT CAST(count(*) AS DOUBLE) AS n_seeds FROM seeds),
          |tp AS (
          |  SELECT n.node,
          |    CASE WHEN s.node IS NULL THEN 0.0
          |         ELSE 1.0 / (SELECT n_seeds FROM ns) END AS tp
          |  FROM nodes n LEFT JOIN seeds s ON n.node = s.node)""".stripMargin
    val base =
      s"""WITH ev AS (
         |  SELECT user_id, ts, event_id,
         |    CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) AS page
         |  FROM events),
         |lagged AS (
         |  SELECT page AS dst,
         |    lag(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
         |  FROM ev),
         |edges AS (
         |  SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
         |  FROM lagged WHERE src IS NOT NULL GROUP BY 1, 2),
         |nodes AS (
         |  SELECT DISTINCT node FROM
         |    (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges) u),
         |outw AS (SELECT src, sum(w) AS w_out FROM edges GROUP BY 1),
         |trans AS (
         |  SELECT e.src, e.dst, e.w / o.w_out AS p
         |  FROM edges e JOIN outw o ON e.src = o.src),
         |$tpCte,
         |dang AS (
         |  SELECT n.node FROM nodes n LEFT JOIN outw o ON n.node = o.src
         |  WHERE o.src IS NULL),
         |r0 AS (SELECT node, tp AS pr FROM tp)""".stripMargin
    val steps = (1 to Iters).map { k =>
      s"""r$k AS (
         |  SELECT t.node,
         |    (1 - $Damping) * t.tp
         |    + $Damping * (coalesce(c.contrib, 0)
         |      + (SELECT coalesce(sum(r.pr), 0) FROM r${k - 1} r
         |         JOIN dang dg ON r.node = dg.node) * t.tp)
         |      AS pr
         |  FROM tp t LEFT JOIN (
         |    SELECT e.dst, sum(r.pr * e.p) AS contrib
         |    FROM r${k - 1} r JOIN trans e ON r.node = e.src GROUP BY 1) c
         |  ON t.node = c.dst)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"\nSELECT node AS page, round(pr, 6) AS pr FROM r$Iters"
  }

  /** The LPA sweeps unrolled as one (count, argmax, relabel) CTE triple
    * per iteration — weight sums are integer-valued doubles, so the
    * (wsum DESC, label ASC) argmax replays the Scala struct-min exactly.
    */
  private def labelPropSql: String = {
    val base =
      s"""WITH ev AS (
         |  SELECT user_id, ts, event_id,
         |    CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) AS page
         |  FROM events),
         |lagged AS (
         |  SELECT page AS dst,
         |    lag(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
         |  FROM ev),
         |edges AS (
         |  SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
         |  FROM lagged WHERE src IS NOT NULL GROUP BY 1, 2),
         |sym AS (
         |  SELECT src, dst, w FROM edges
         |  UNION ALL SELECT dst, src, w FROM edges),
         |lab0 AS (SELECT DISTINCT src AS node, src AS label FROM sym)""".stripMargin
    val steps = (1 to LpIters).map { k =>
      s"""cnt$k AS (
         |  SELECT s.dst AS node, l.label, sum(s.w) AS wsum
         |  FROM sym s JOIN lab${k - 1} l ON l.node = s.src
         |  GROUP BY 1, 2),
         |win$k AS (
         |  SELECT node, label FROM (
         |    SELECT node, label, row_number() OVER (
         |      PARTITION BY node ORDER BY wsum DESC, label) AS rn
         |    FROM cnt$k) x WHERE rn = 1),
         |lab$k AS (
         |  SELECT l.node, coalesce(w.label, l.label) AS label
         |  FROM lab${k - 1} l LEFT JOIN win$k w ON w.node = l.node)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"\nSELECT node AS page, label AS community FROM lab$LpIters"
  }

  /** The bounded peel unrolled: one (degree, keep, restrict) CTE triple
    * per round, then the surviving-subgraph degrees re-filtered at k.
    */
  private def kCoreSql: String = {
    val base =
      s"""WITH ev AS (
         |  SELECT user_id, ts, event_id,
         |    CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) AS page
         |  FROM events),
         |lagged AS (
         |  SELECT page AS dst,
         |    lag(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
         |  FROM ev),
         |edges AS (
         |  SELECT src, dst FROM lagged WHERE src IS NOT NULL GROUP BY 1, 2),
         |und0 AS (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM edges WHERE src != dst)""".stripMargin
    val steps = (1 to KcoreRounds).map { r =>
      s"""deg$r AS (
         |  SELECT node, count(*) AS degree FROM (
         |    SELECT a AS node FROM und${r - 1}
         |    UNION ALL SELECT b FROM und${r - 1}) u
         |  GROUP BY 1),
         |kept$r AS (SELECT node FROM deg$r WHERE degree >= $KcoreK),
         |und$r AS (
         |  SELECT u.a, u.b FROM und${r - 1} u
         |    JOIN kept$r x ON x.node = u.a
         |    JOIN kept$r y ON y.node = u.b)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"""
         |SELECT node AS page, CAST(count(*) AS BIGINT) AS degree FROM (
         |  SELECT a AS node FROM und$KcoreRounds
         |  UNION ALL SELECT b FROM und$KcoreRounds) u
         |GROUP BY 1 HAVING count(*) >= $KcoreK""".stripMargin
  }

  /** The hash-walks unrolled: per hop, a candidate join + the
    * (key, dst)-minimum pick replayed with the identical rolling-hash
    * key arithmetic.
    */
  private def hashWalksSql: String = {
    val base =
      s"""WITH ev AS (
         |  SELECT user_id, ts, event_id,
         |    CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) AS page
         |  FROM events),
         |lagged AS (
         |  SELECT page AS dst,
         |    lag(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
         |  FROM ev),
         |edges AS (
         |  SELECT DISTINCT src, dst FROM lagged WHERE src IS NOT NULL),
         |w0 AS (
         |  SELECT node AS walk_id, node FROM (
         |    SELECT DISTINCT src AS node FROM edges
         |    UNION SELECT DISTINCT dst FROM edges) u)""".stripMargin
    val steps = (1 to WalkSteps).map { t =>
      s"""cand$t AS (
         |  SELECT w.walk_id, e.dst,
         |    (${OracleFold.rollingHashSql(
                s"CAST(w.walk_id AS VARCHAR) || ':$t:' || " +
                  s"CAST(e.dst AS VARCHAR) || ':$WalkSeed'")}) % 1000000007 AS k
         |  FROM w${t - 1} w JOIN edges e ON e.src = w.node),
         |w$t AS (
         |  SELECT walk_id, dst AS node FROM (
         |    SELECT walk_id, dst, row_number() OVER (
         |      PARTITION BY walk_id ORDER BY k, dst) AS rn
         |    FROM cand$t) x WHERE rn = 1)""".stripMargin
    }
    val union = (0 to WalkSteps)
      .map(t => s"SELECT walk_id AS walk, $t AS step, node AS page FROM w$t")
      .mkString("\nUNION ALL ")
    (base +: steps).mkString(",\n") + "\n" + union
  }

  val oracle: Map[String, String] = Map(
    "g_hash_walks" -> hashWalksSql,
    "g_kcore" -> kCoreSql,
    "g_label_prop" -> labelPropSql,
    "g_pagerank" -> pagerankSqlFor(seeded = false),
    "g_ppr_seeded" -> pagerankSqlFor(seeded = true),

    // min-label closure as a recursive CTE over the thresholded graph
    "g_components" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS page
        |  FROM events),
        |lagged AS (
        |  SELECT page AS dst,
        |    lag(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
        |  FROM ev),
        |edges AS (
        |  SELECT src, dst, count(*) AS w
        |  FROM lagged WHERE src IS NOT NULL GROUP BY 1, 2),
        |nodes AS (
        |  SELECT DISTINCT node FROM
        |    (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges) u),
        |mw AS (SELECT avg(w) AS mean_w FROM edges),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM edges CROSS JOIN mw
        |  WHERE w >= 3.0 * mean_w AND src <> dst),
        |e2 AS (SELECT a AS src, b AS dst FROM und UNION SELECT b, a FROM und),
        |reach(node, root) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT e.dst, r.root FROM reach r JOIN e2 e ON e.src = r.node)
        |SELECT node AS page, min(root) AS component
        |FROM reach GROUP BY 1""".stripMargin,

    // brute-force canonical a<b<c triple join — each triangle once; the
    // engine's degree-ordered orientation must agree exactly
    "g_triangles" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS page
        |  FROM events),
        |lagged AS (
        |  SELECT page AS dst,
        |    lag(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
        |  FROM ev),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM lagged WHERE src IS NOT NULL AND src <> dst),
        |deg AS (
        |  SELECT v, count(*) AS deg FROM
        |    (SELECT a AS v FROM und UNION ALL SELECT b FROM und) x GROUP BY 1),
        |tri AS (
        |  SELECT count(*) AS n_triangles
        |  FROM und e1 JOIN und e2 ON e2.a = e1.b
        |    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT
        |  (SELECT count(*) FROM und) AS n_edges,
        |  (SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
        |  (SELECT n_triangles FROM tri) AS n_triangles,
        |  round(3.0 * (SELECT n_triangles FROM tri) /
        |    (SELECT sum(deg * (deg - 1) / 2) FROM deg), 6) AS clustering""".stripMargin
  )
}
