package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine capability: a Spark query over a testdata sf directory plus an
  * optional ANSI-SQL oracle (DuckDB-runnable) computing the same result.
  *
  * Contract (driver compare): column names must match between `run` output
  * and oracle SQL; aggregates are made partition-order-deterministic (money
  * sums via DECIMAL, ratios rounded) so hashes match across engines.
  *
  * `run` is ORACLE MODE: it ends in the total ORDER BY the deterministic
  * compare requires. `prod`, when set, is the production plan — identical
  * semantics minus result-order guarantees (no final global sort, which at
  * 100 TB would otherwise serialize the whole result through one range
  * exchange). Callers that feed downstream operators should prefer `prod`.
  */
final case class GraftQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    prod: Option[(SparkSession, String) => DataFrame] = None,
) {
  /** Production entry point: unsorted plan when one is defined. */
  def runProd(s: SparkSession, d: String): DataFrame =
    prod.getOrElse(run)(s, d)
}

/** Typed loaders for the benchmark tables. Parquet carries its own schema;
  * loaders centralize paths so every operator reads through one place
  * (at cluster scale this is where bucketing / DataSourceV2 options live).
  */
object Tables {
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = t(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}

/** Session factory with the engine's scale-oriented defaults. Local tests use
  * local[*]; on a cluster the same confs apply (AQE re-plans shuffle counts,
  * skew joins, and converts sort-merge to broadcast at runtime).
  *
  * Two confs make a repeated composed pipeline compile its whole-stage
  * code once per JVM instead of once per call; each does nothing without
  * the other:
  *  - `spark.sql.codegen.cache.maxEntries` ([[CodegenCacheEntries]]).
  *    Spark's default cache holds 100 generated classes, and one
  *    `TrainPipeline.manifest` needs ~272 distinct ones (a hybrid serve
  *    ~97), so each call evicted what the next one needed. The conf is
  *    STATIC: `CodeGenerator` reads it once, when it first builds its
  *    cache, so it takes effect only if it is set before the first
  *    session of the JVM generates code. Every engine entry point (specs,
  *    `Bench`, `Verify`, `Dev`, perfbench) builds its session here.
  *  - `spark.sql.codegen.useIdInClassName=false`. By default the class
  *    name carries the stage id (`GeneratedIteratorForCodegenStage<N>`),
  *    and AQE numbers stages in a different order on each run, so a
  *    stage whose code is otherwise identical misses the cache. Plans do
  *    not change: `explain` still shows the `*(n)` stage markers.
  */
object GraftSession {
  /** Codegen cache size: the largest composed pipeline's distinct classes
    * (a manifest, ~272) with room for a serve and the ad-hoc queries
    * around it in the same JVM.
    */
  val CodegenCacheEntries = 1000

  /** Engine session for any master. On a cluster pass the real master and
    * size shufflePartitions ~ cores*2.5; locally both mains derive them from
    * SPARK_GRAFT_CPUS so bench/verify measure the SAME tuned engine users
    * get (AQE, skew joins, 64 MB broadcast) — never a detuned default build.
    */
  /** RocksDB state store provider class (ships with Spark; rocksdbjni on the
    * classpath). Off-heap, spill-to-disk state — at cluster scale the
    * streaming ops' keyed state (sessions, dedup sets) stops being bounded
    * by executor heap.
    */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def build(master: String, shufflePartitions: Int,
            rocksDbStateStore: Boolean = false): SparkSession = {
    val b0 = SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", math.max(shufflePartitions, 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
    val b = if (rocksDbStateStore)
      b0.config("spark.sql.streaming.stateStore.providerClass", RocksDbProvider)
    else b0
    b.getOrCreate()
  }

  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
            rocksDbStateStore: Boolean = false): SparkSession =
    build(s"local[$cores]", cores, rocksDbStateStore)
}
