package graft

import org.apache.spark.sql.SparkSession

/** Runtime session preparation applied before every catalog query.
  *
  * All settings here are SQLConf-dynamic (safe to set on an already-running
  * session), so the engine behaves identically whether the caller built the
  * session itself (harness `Verify`/`Bench`) or handed us an arbitrary one.
  *
  * The reference (Milan-Telecom-ETL) delegates all physical decisions to
  * PostgreSQL (reference `src/database.py:114-120` b-tree/GIST indexes); the
  * Spark equivalents are partitioning + broadcast strategy, configured here
  * and at the operator call-sites.
  */
object Graft {

  def prepare(spark: SparkSession): SparkSession = {
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
