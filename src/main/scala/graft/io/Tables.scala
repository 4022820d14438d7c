package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the synthetic test tables (TESTDATA.md): TPC-H-ish star
  * schema + `events` + `documents` + `embeddings`, one parquet file per
  * table under a scale-factor directory.
  *
  * All readers go through `spark.read.parquet` so Catalyst gets a real
  * `FileSourceScanExec` with predicate pushdown / column pruning — callers
  * should `.select`/`.filter` as early as possible and let the optimizer
  * push into the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Memoized per (session, path) in [[graft.util.SessionArtifacts]]:
    * `spark.read.parquet` re-lists files and re-reads footers on every
    * call, which at fleet scale is what a catalog/metastore caches. The
    * tables are read-only test fixtures, so reusing the resolved relation
    * is safe, and repeated queries skip the listing + schema-inference
    * cost.
    */
  private val Relation = new graft.util.SessionArtifacts.Kind[DataFrame]("relation")

  // ---- schema contract ------------------------------------------------
  // Checked once per loaded relation (round-8 lesson: a regenerated
  // testdata encoding broke `events.ts` as a mid-query analysis error,
  // silently dropping 10 queries). The contract is per COLUMN FAMILY,
  // not exact type — an int32→int64 re-export is benign, a
  // string→struct one is not — so a regeneration fails here with a
  // named table + column + found type, or passes quietly.
  private val families: Map[String, DataType => Boolean] = Map(
    "integral" -> { case _: ByteType | _: ShortType | _: IntegerType | _: LongType => true
                    case _ => false },
    "floating" -> { case _: FloatType | _: DoubleType | _: DecimalType => true
                    case _ => false },
    "string" -> { case _: StringType => true; case _ => false },
    "timestamp" -> { case _: TimestampType | _: TimestampNTZType | _: DateType => true
                     case _ => false },
    // events.ts historically shipped as int64 nanos; `events` below
    // dispatches on which of the two encodings arrived
    "timestamp-or-nanos" -> {
      case _: TimestampType | _: TimestampNTZType | _: LongType => true
      case _ => false },
    "array<floating>" -> {
      case ArrayType(_: FloatType | _: DoubleType, _) => true
      case _ => false }
  )

  private val expectedCols: Map[String, Seq[(String, String)]] = Map(
    "region" -> Seq("r_regionkey" -> "integral", "r_name" -> "string"),
    "nation" -> Seq("n_nationkey" -> "integral", "n_name" -> "string",
      "n_regionkey" -> "integral"),
    "customer" -> Seq("c_custkey" -> "integral", "c_name" -> "string",
      "c_nationkey" -> "integral", "c_acctbal" -> "floating",
      "c_mktsegment" -> "string"),
    "supplier" -> Seq("s_suppkey" -> "integral", "s_name" -> "string",
      "s_nationkey" -> "integral", "s_acctbal" -> "floating"),
    "part" -> Seq("p_partkey" -> "integral", "p_name" -> "string",
      "p_brand" -> "string", "p_type" -> "string", "p_size" -> "integral",
      "p_retailprice" -> "floating"),
    "orders" -> Seq("o_orderkey" -> "integral", "o_custkey" -> "integral",
      "o_orderstatus" -> "string", "o_totalprice" -> "floating",
      "o_orderdate" -> "timestamp", "o_orderpriority" -> "string"),
    "lineitem" -> Seq("l_orderkey" -> "integral", "l_partkey" -> "integral",
      "l_suppkey" -> "integral", "l_linenumber" -> "integral",
      "l_quantity" -> "floating", "l_extendedprice" -> "floating",
      "l_discount" -> "floating", "l_tax" -> "floating",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "timestamp"),
    "events" -> Seq("event_id" -> "integral", "ts" -> "timestamp-or-nanos",
      "user_id" -> "integral", "event_type" -> "string",
      "value" -> "floating", "props" -> "string"),
    "documents" -> Seq("doc_id" -> "integral", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integral"),
    "embeddings" -> Seq("vec_id" -> "integral",
      "embedding" -> "array<floating>", "label" -> "integral")
  )

  private def requireSchema(name: String, path: String, df: DataFrame): DataFrame = {
    expectedCols.get(name).foreach(_.foreach { case (c, fam) =>
      val field = df.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalStateException(
          s"$path: table '$name' is missing required column '$c' " +
            s"(found: ${df.schema.fieldNames.mkString(", ")})"))
      if (!families(fam)(field.dataType))
        throw new IllegalStateException(
          s"$path: table '$name' column '$c' has type " +
            s"${field.dataType.simpleString}, expected $fam")
    })
    df
  }

  /** Serializes every Tables load: [[events]] scopes a session-global
    * parquet conf flip around its first load, and a CONCURRENT load in
    * the same session (parallel test suites share one) landing inside
    * that window would silently read under the flipped conf. All loads
    * taking this lock closes that window for every reader that comes
    * through Tables; a direct `spark.read.parquet` elsewhere in the same
    * session remains the caller's concern (the memoized relation cache
    * makes the exposure one-time per path either way).
    */
  private[this] val loadLock = new Object

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    loadLock.synchronized {
      graft.util.SessionArtifacts.get(spark, Relation, s"$sfDir/$name.parquet")(
        requireSchema(name, s"$sfDir/$name.parquet",
          spark.read.parquet(s"$sfDir/$name.parquet")))
    }

  def region(spark: SparkSession, d: String): DataFrame = load(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame = load(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = load(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame = load(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame = load(spark, d, "lineitem")
  /** `events.ts` has shipped in several encodings: a native parquet
    * TIMESTAMP (micros, isAdjustedToUTC=false — current testdata, which
    * Spark surfaces as TIMESTAMP_NTZ) and a legacy TIMESTAMP(NANOS)
    * that Spark's vectorized reader rejects. Dispatch on the loaded type
    * rather than assuming one encoding, and canonicalize to
    * `TimestampType` — the engine-wide contract every downstream
    * consumer (asof-join exec, streaming watermarks, window frames)
    * type-checks against:
    *   - TimestampType → pass through;
    *   - TimestampNTZType → cast to TimestampType. The session TZ is
    *     pinned to UTC (Bench/Verify/tests), so the cast is numerically
    *     the identity and `unix_timestamp(ts)` matches DuckDB's
    *     `epoch(naive ts)` — the oracle contract;
    *   - LongType (nanos surfaced via `nanosAsLong`) → integer-divide to
    *     micros (a double division would lose precision above 2^53 ns),
    *     matching DuckDB's nanos→micros truncation;
    *   - anything else → fail loudly naming the path and type, so a
    *     regenerated-testdata schema change surfaces here, not as a
    *     mid-query analysis error.
    */
  def events(spark: SparkSession, d: String): DataFrame = {
    // Surface isAdjustedToUTC=false micros as TimestampType AT THE SCAN
    // (BOTH confs scoped to this load, restored after — the nanos flag
    // previously leaked session-global and was set outside the lock,
    // which both violated this comment's promise and let a concurrent
    // load observe it): a post-scan NTZ→LTZ cast would sit between the
    // relation and every `ts` predicate, defeating parquet filter
    // pushdown / row-group pruning — the one thing an append-heavy
    // events table at scale lives on. Under the pinned UTC session the
    // two readings are numerically identical. The flips are
    // session-global while they last, so they take the same loadLock as
    // every other Tables load (see [[loadLock]] — the lock is
    // reentrant, the nested load() below deadlock-free).
    val df = loadLock.synchronized {
      val ntzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"
      val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
      val prevNtz = spark.conf.getOption(ntzKey)
      val prevNanos = spark.conf.getOption(nanosKey)
      spark.conf.set(ntzKey, "false")
      spark.conf.set(nanosKey, "true")
      try load(spark, d, "events")
      finally {
        def restore(key: String, prev: Option[String]): Unit = prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
        restore(ntzKey, prevNtz)
        restore(nanosKey, prevNanos)
      }
    }
    df.schema("ts").dataType match {
      case _: TimestampType => df
      case _: TimestampNTZType => // e.g. a relation cached before the conf flip
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _: LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case other =>
        throw new IllegalStateException(
          s"$d/events.parquet: column 'ts' has unsupported type $other " +
            "(expected TIMESTAMP, TIMESTAMP_NTZ, or int64 nanos)")
    }
  }
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")
}
