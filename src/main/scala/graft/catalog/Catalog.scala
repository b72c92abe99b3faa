package graft
package catalog

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: its Spark plan and the DuckDB SQL that must return
  * the same rows. `family` is the name of the [[Family]] that declares it. */
final case class Entry(
    name: String,
    family: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)

/** An operator family of the catalog: one object per family, one entry per
  * query. The family name is the object's name without its `Queries`
  * suffix, lower-cased (`DedupQueries` declares family `dedup`), so no
  * entry carries a tag of its own. */
abstract class Family {
  val name: String =
    getClass.getSimpleName.stripSuffix("$").stripSuffix("Queries").toLowerCase(Locale.ROOT)

  private val declared = scala.collection.mutable.ArrayBuffer[Entry]()

  /** Declares catalog query `queryName`: `build` makes its plan over a
    * table directory, `oracle` is its DuckDB twin over the same tables. */
  protected def query(queryName: String)(build: (SparkSession, String) => DataFrame)(
      oracle: String): Entry = {
    val e = Entry(queryName, name, build, oracle)
    declared += e
    e
  }

  def entries: Seq[Entry] = declared.toSeq
}

/** The query catalog: every family's entries, checked once when it loads.
  *
  * Cross-engine determinism: every floating-point aggregate goes through
  * exact DECIMAL accumulation ([[graft.functions.AggFunctions]],
  * [[graft.functions.VectorFunctions]]), so Spark and DuckDB produce
  * bit-identical doubles regardless of row order or partitioning; every
  * LIMIT carries a total tie-breaking ORDER BY. */
object Catalog {

  val families: Seq[Family] = Seq(
    RelationalQueries, AnalyticsQueries, AuditQueries, TablesQueries,
    TextQueries, DedupQueries, GraphQueries, VectorsQueries, SketchesQueries,
    SamplingQueries, StreamingQueries, GeoQueries, MultimodalQueries)

  private val NullWord = "(?<![A-Za-z0-9_])null(?![A-Za-z0-9_])".r

  val entries: Seq[Entry] = validated(families.flatMap(_.entries))

  /** `entries` if every name is unique and every oracle is a non-empty SQL
    * text without a `null` word. A duplicate name would shadow a query in
    * the name-keyed views; a `null` in the SQL is what an oracle
    * interpolating a not-yet-initialised helper val turns into. */
  def validated(entries: Seq[Entry]): Seq[Entry] = {
    val dups = entries.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(dups.isEmpty, s"catalog declares these names more than once: ${dups.toSeq.sorted.mkString(", ")}")
    val bad = entries.filter(e =>
      e.oracle == null || e.oracle.trim.isEmpty || NullWord.findFirstIn(e.oracle).isDefined)
    require(bad.isEmpty, s"catalog entries with an empty or null oracle: ${bad.map(_.name).mkString(", ")}")
    entries
  }
}
