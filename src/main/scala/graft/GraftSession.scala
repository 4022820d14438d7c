package graft

import org.apache.spark.sql.SparkSession

/** The library's front door: a SparkSession configured with the engine's
  * scale posture and extensions in one call.
  *
  *  - AQE on (runtime partition coalescing, broadcast demotion, skew-join
  *    splitting) — the configuration half of the 100 TB design (SURVEY §4).
  *  - `spark.sql.shuffle.partitions` sized to the session's parallelism
  *    instead of the 200 default (AQE coalesces down, but the cap should
  *    reflect the cluster).
  *  - Session timezone pinned to UTC so timestamp semantics match across
  *    engines and hosts.
  *  - Graft extensions injected: native SQL functions (`vec_dot`,
  *    `rolling_hash`, `hamming`), the HOF dot-product rewrite rule, and
  *    the broadcast as-of join strategy.
  *  - `SPARK_GRAFT_JARS` (comma-separated), when set, becomes
  *    `spark.jars`: executor JVMs of a `local-cluster` or real master
  *    need the graft classes.
  *
  * On a real cluster, prefer
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions` plus
  * site-specific sizing; this builder is the single-JVM equivalent.
  * Every harness main builds its session through [[fromEnv]].
  */
object GraftSession {

  /** The harness environment contract as (master, shuffle partitions):
    * `SPARK_GRAFT_CPUS` (default the machine's processor count) sizes
    * both `local[cpus]` and the partitions; `SPARK_GRAFT_MASTER`
    * (e.g. `local-cluster[2,8,4096]` for real executor JVMs) overrides
    * the master only.
    */
  private[graft] def resolveEnv(env: Map[String, String]): (String, Int) = {
    val cpus = env.get("SPARK_GRAFT_CPUS").fold(
      Runtime.getRuntime.availableProcessors()) { v =>
      v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }
    (env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"), cpus)
  }

  /** [[build]] on the harness environment ([[resolveEnv]] over
    * `sys.env`), logging at WARN — the one session every main runs.
    */
  def fromEnv(appName: String): SparkSession = {
    val (master, parts) = resolveEnv(sys.env)
    val spark = build(master, Some(parts), appName)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def build(master: String = "local[*]",
            shufflePartitions: Option[Int] = None,
            appName: String = "graft"): SparkSession = {
    val parts = shufflePartitions.getOrElse(
      Runtime.getRuntime.availableProcessors())
    val builder = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // The bounded-heap typed aggregates (TopKBy, MmrSelect) keep at
      // most k tiny entries per group, so a large in-memory hash map is
      // exactly the safe case — but ObjectHashAggregate's default
      // fallback threshold (128 distinct keys per task!) silently
      // degrades them to SORT-BASED aggregation, turning the map-side
      // k-contraction into an external sort + spill-merge of the whole
      // candidate stream (caught by the round-17 sf1 gate: sim_ann_join
      // pinned 2 cores for >10 min in UnsafeSorterSpillMerger).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "100000")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    sys.env.get("SPARK_GRAFT_JARS").foreach(builder.config("spark.jars", _))
    val spark = builder.getOrCreate()
    // extensions don't apply to a pre-existing session from getOrCreate —
    // make registration idempotent either way
    graft.functions.GraftFunctions.register(spark)
    graft.operators.BroadcastAsofJoin.ensureRegistered(spark)
    spark
  }
}
