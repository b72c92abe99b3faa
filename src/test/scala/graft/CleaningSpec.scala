package graft

import org.apache.spark.sql.functions._
import graft.operators.Cleaning

/** Unit specs for the cleaning chain — each rule from SURVEY.md §2.4-2.5,
  * exercised with the dirty-row cases FIXTURES.md prescribes. */
class CleaningSpec extends SparkSpec {
  import spark.implicits._

  private def trafficFixture = Seq(
    // clean row
    ("2013-11-01 00:00:00", 1L, 39L, Some(1.5), Some(2.0), Some(0.5), Some(0.25), Some(10.0)),
    // missing metrics → fill 0
    ("2013-11-01 00:10:00", 2L, 0L, None, None, None, None, None),
    // negative metric → clamp to 0
    ("2013-11-01 00:20:00", 3L, 39L, Some(-4.0), Some(1.0), None, None, None),
    // bad datetime → dropped
    ("not-a-date", 4L, 39L, Some(1.0), None, None, None, None),
    // out-of-range cell → dropped
    ("2013-11-01 00:30:00", 10001L, 39L, Some(1.0), None, None, None, None)
  ).toDF("datetime", "CellID", "countrycode", "smsin", "smsout", "callin", "callout", "internet")

  test("cleanTraffic drops bad dates and out-of-range cells, fills and clamps metrics") {
    val out = Cleaning.cleanTraffic(trafficFixture).orderBy("cell_id").collect()
    assert(out.length == 3)
    assert(out.map(_.getAs[Long]("cell_id")).toSeq == Seq(1L, 2L, 3L))
    val r2 = out(1) // all-missing metrics row
    Cleaning.TrafficMetricCols.foreach(m => assert(r2.getAs[Double](m) == 0.0))
    val r3 = out(2) // negative smsin clamped
    assert(r3.getAs[Double]("smsin") == 0.0)
    assert(r3.getAs[Double]("smsout") == 1.0)
  }

  test("coerceTimestamp nulls unparseable values (pandas errors='coerce')") {
    val df = Seq("2013-11-01 12:34:56", "garbage").toDF("s")
      .select(Cleaning.coerceTimestamp($"s").as("ts"))
    val rows = df.collect()
    assert(rows(0).getTimestamp(0) != null)
    assert(rows(1).isNullAt(0))
  }

  test("normalizeProvince title-cases and applies the 7-entry reference map") {
    val inOut = Seq(
      "MILANO" -> "Milano",
      "MONZA E DELLA BRIANZA" -> "Monza e della Brianza",
      "REGGIO NELL'EMILIA" -> "Reggio nell'Emilia",
      "VALLE D'AOSTA" -> "Aosta",
      "BOLZANO/BOZEN" -> "Bolzano",
      "MASSA-CARRARA" -> "Massa Carrara",
      "  torino  " -> "Torino"
    )
    val got = inOut.map(_._1).toDF("p")
      .select(Cleaning.normalizeProvince($"p").as("n")).as[String].collect().toSeq
    assert(got == inOut.map(_._2))
  }

  test("cleanMobility keeps only provinces present in the dimension") {
    val dim = Seq("Milano", "Pavia").toDF("provincia")
    val raw = Seq(
      ("2013-11-01 00:00:00", 1L, "MILANO", Some(0.5), Some(0.1)),
      ("2013-11-01 00:00:00", 1L, "PAVIA", None, Some(0.2)),
      ("2013-11-01 00:00:00", 1L, "ATLANTIS", Some(0.3), None),
      ("2013-11-01 00:00:00", 20000L, "MILANO", Some(0.3), None)
    ).toDF("datetime", "CellID", "provinceName", "cell2Province", "Province2cell")
    val out = Cleaning.cleanMobility(raw, dim).orderBy("provincia").collect()
    assert(out.length == 2)
    assert(out.map(_.getAs[String]("provincia")).toSeq == Seq("Milano", "Pavia"))
    assert(out(1).getAs[Double]("cell2province") == 0.0) // NaN→0
  }
}
