package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet reads that infer a path's schema once. `spark.read.parquet`
  * without a schema runs one Spark job to read a footer on EVERY call
  * (about 0.1 s at `local[2]`, against 16 ms with the schema given), and
  * the catalog and the Milan reads open the same few paths over and over.
  *
  * The schema is kept per session (sessions may differ in confs such as
  * `spark.sql.legacy.parquet.nanosAsLong`, which change what inference
  * returns) and per path, together with the path's leaf-file listing
  * (name, length, mtime): a rewritten or appended table lists differently
  * and is inferred again.
  */
object Parquet {

  private type Listing = Seq[(String, Long, Long)]

  private val inferred = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, (Listing, StructType)]]())

  def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a missing path keeps Spark's own error
    if (!fs.exists(p)) return spark.read.parquet(path)
    val listing = leafFiles(fs, p)
    val perPath = inferred.computeIfAbsent(spark, _ => new ConcurrentHashMap())
    val schema = Option(perPath.get(path)) match {
      case Some((seen, s)) if seen == listing => s
      case _ =>
        val s = spark.read.parquet(path).schema
        perPath.put(path, (listing, s))
        s
    }
    spark.read.schema(schema).parquet(path)
  }

  private def leafFiles(fs: FileSystem, p: Path): Listing = {
    val it = fs.listFiles(p, true)
    val out = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      out += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    out.result().sorted
  }
}
