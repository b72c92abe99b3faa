package graft

import org.apache.spark.sql.SparkSession

/** Runtime session preparation applied before every catalog query.
  *
  * All settings here but one are SQLConf-dynamic (safe to set on an
  * already-running session), so the engine behaves identically whether the
  * caller built the session itself (harness `Verify`/`Bench`) or handed us
  * an arbitrary one. The exception is the static
  * `spark.sql.codegen.cache.maxEntries` ([[CodegenCacheEntries]]): Spark
  * reads it once per JVM, when the first generated class is compiled, so
  * it takes effect only if `prepare` runs before the JVM's first query
  * (as [[localSession]] and every harness ensure). Set later, it changes
  * the session's conf but not the cache.
  *
  * The reference (Milan-Telecom-ETL) delegates all physical decisions to
  * PostgreSQL (reference `src/database.py:114-120` b-tree/GIST indexes); the
  * Spark equivalents are partitioning + broadcast strategy, configured here
  * and at the operator call-sites.
  */
object Graft {

  /** Room in Spark's JVM-wide cache of compiled generated classes (whole-
    * stage stages, projections, orderings). Spark's default of 100 is
    * smaller than one pass over five catalog queries (about 120 classes):
    * under LRU each class would be evicted before its next use, and every
    * run of a query would compile its code with Janino again. One full
    * catalog pass at sf0.01 compiles 2,761 distinct classes (no single
    * query more than 64), so 4096 keeps a whole pass; the cost is
    * metaspace (about 30 MB more after a full sf0.01 Verify run). */
  val CodegenCacheEntries = 4096

  def prepare(spark: SparkSession): SparkSession = {
    // Static conf: `spark.conf.set` refuses it, and Spark reads it only when
    // the JVM compiles its first generated class, so this comes first. A
    // value the caller set on the session wins.
    val sql = spark.sessionState.conf
    if (!sql.contains("spark.sql.codegen.cache.maxEntries"))
      sql.setConfString("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    val c = spark.conf
    // Harness events.parquet stores TIMESTAMP(NANOS), which Spark's parquet
    // reader rejects outright; read the physical int64 as LongType and
    // rebuild microseconds in Tables.events.
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Reference cleaning semantics are pandas' `errors='coerce'` → NULL on
    // failed casts (reference src/etl.py:134,151), i.e. non-ANSI.
    c.set("spark.sql.ansi.enabled", "false")
    c.set("spark.sql.session.timeZone", "UTC")
    // Adaptive execution: coalesce shuffle partitions + runtime skew-join
    // handling; this is what makes one static shuffle-partition setting
    // survive a 100x scale-up.
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // Don't fan the default 200 shuffle partitions over a local[N] box; AQE
    // coalesces down but the initial number still bounds task-launch cost.
    if (c.get("spark.sql.shuffle.partitions") == "200")
      c.set("spark.sql.shuffle.partitions", "32")
    // The engine's optimizer rule and SQL functions, from one place.
    plans.GraftFunctions.register(spark)
    spark
  }

  /** The one session builder: `local[cores]` with the shuffle width
    * matched to it, UI off, Spark logging at WARN, then [[prepare]]. */
  def localSession(appName: String = "graft", cores: Int = Harness.cpus): SparkSession = {
    val spark = prepare(
      SparkSession
        .builder()
        .master(s"local[$cores]")
        .appName(appName)
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
