package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.pipeline.IngestHarness

/** A seeded drop of Milan day-files (traffic `sms-call-internet-mi-*.csv`
  * and mobility `mi-to-provinces-*.csv`, one file per table per day) plus
  * the answers the cleaned facts must give, computed while the rows are
  * written.
  *
  * The rows carry every kind of dirt the cleaning chain handles:
  *   - about 1 row in 97 has an unparseable datetime (dropped);
  *   - about 55% of metric fields are empty (filled with 0);
  *   - about 1.3% of metric values are negative (clamped to 0 for traffic,
  *     kept for mobility);
  *   - CellID is drawn from every 42nd id of 0..10374 (248 ids), so about
  *     7.9 traffic rows fall in each (hour, cell), as in the reference's
  *     day-files over 10,000 cells, and a 500-id range holds 11 or 12
  *     cells, 1/20 of them, as in the reference; the 9 ids of 10000 and up
  *     are dropped;
  *   - provinceName cycles through the 12-name raw vocabulary of
  *     `IngestHarness.MobilityRawNames`, one of which is not in the
  *     provinces dimension (dropped).
  *
  * Every metric is a whole number of tenths, so the expected sums are exact
  * longs and the engine's exact-decimal rollups must match them bit for bit.
  */
final class MilanDrop private (val dir: Path, val days: Int) {
  import MilanDrop._

  val hours: Int = days * 24
  /** total_activity in tenths per (hour index, cell), hour index = (day-1)*24 + hour. */
  val hourTenths = new Array[Long](hours * Cells)
  /** kept traffic rows per (hour index, cell); 0 = no hourly row. */
  val hourRows = new Array[Int](hours * Cells)
  /** Mobility rows kept, sum(cell2province) and sum(province2cell) in tenths, per raw-name index. */
  val provRows = new Array[Long](RawNames.size)
  val provC2p = new Array[Long](RawNames.size)
  val provP2c = new Array[Long](RawNames.size)
  var trafficRows, mobilityRows, trafficKept, mobilityKept, csvBytes = 0L

  def trafficFiles: Seq[String] = (1 to days).map(d => dir.resolve(trafficName(d)).toString)
  def mobilityFiles: Seq[String] = (1 to days).map(d => dir.resolve(mobilityName(d)).toString)
  def sourceRows: Long = trafficRows + mobilityRows
  def cleanName(i: Int): String = CleanNames(i)
  def dimIndex(i: Int): Boolean = RawNames(i) != Unknown

  /** Cells ranked as `Rollup.topCells` ranks them over hours >= `sinceHour`:
    * mean hourly total_activity descending, cell id ascending. */
  def topCells(sinceHour: Int, limit: Int): Seq[(Long, Double)] = {
    val sums = new Array[Long](Cells)
    val n = new Array[Int](Cells)
    var h = sinceHour
    while (h < hours) {
      var c = 0
      while (c < Cells) {
        val k = h * Cells + c
        if (hourRows(k) > 0) { sums(c) += hourTenths(k); n(c) += 1 }
        c += 1
      }
      h += 1
    }
    (0 until Cells).filter(n(_) > 0)
      .map(c => (c.toLong, (sums(c).toDouble / 10.0) / n(c)))
      .sortBy { case (c, avg) => (-avg, c) }
      .take(limit)
  }
}

object MilanDrop {
  val Cells = 10000
  private val CellStride = 42
  private val CellDraw = 248
  private val RawNames = IngestHarness.MobilityRawNames
  private val CleanNames = IngestHarness.MobilityCleanNames
  private val Unknown = "atlantis"
  private val CountryCodes = Array(0L, 1L, 33L, 39L, 44L, 49L, 86L)

  def trafficName(day: Int): String = f"sms-call-internet-mi-2013-11-$day%02d.csv"
  def mobilityName(day: Int): String = f"mi-to-provinces-2013-11-$day%02d.csv"

  /** Writes `days` day-files per table into `dir` (created; existing files
    * of the same names are replaced). */
  def write(dir: Path, seed: Long, days: Int, trafficPerDay: Int, mobilityPerDay: Int): MilanDrop = {
    Files.createDirectories(dir)
    val drop = new MilanDrop(dir, days)
    val rng = new SplittableRandom(seed)
    for (day <- 1 to days) {
      writeTraffic(drop, rng, day, trafficPerDay)
      writeMobility(drop, rng, day, mobilityPerDay)
    }
    drop
  }

  private def withWriter(path: Path)(body: BufferedWriter => Unit): Long = {
    val w = new BufferedWriter(new FileWriter(path.toFile), 1 << 16)
    try body(w) finally w.close()
    Files.size(path)
  }

  /** The datetime of row `i` of `n` in a day-file (10-minute slots in
    * file order), or None for an unparseable one. */
  private def datetime(rng: SplittableRandom, day: Int, i: Int, n: Int): Option[(String, Int)] =
    if (rng.nextInt(97) == 0) None
    else {
      val slot = (i.toLong * 144 / n).toInt
      val hh = slot / 6
      Some((f"2013-11-$day%02d $hh%02d:${(slot % 6) * 10}%02d:00", (day - 1) * 24 + hh))
    }

  /** A metric in tenths, or Int.MinValue for an empty field. */
  private def metric(rng: SplittableRandom): Int =
    if (rng.nextInt(100) < 55) Int.MinValue else rng.nextInt(-40, 3000)

  private def tenths(w: BufferedWriter, v: Int): Unit =
    if (v != Int.MinValue) {
      if (v < 0) w.write('-')
      val a = math.abs(v)
      w.write(Integer.toString(a / 10)); w.write('.'); w.write(('0' + a % 10).toChar)
    }

  private def writeTraffic(d: MilanDrop, rng: SplittableRandom, day: Int, n: Int): Unit = {
    d.csvBytes += withWriter(d.dir.resolve(trafficName(day))) { w =>
      w.write("datetime,CellID,countrycode,smsin,smsout,callin,callout,internet\n")
      var i = 0
      while (i < n) {
        val dt = datetime(rng, day, i, n)
        val cell = rng.nextInt(CellDraw) * CellStride
        w.write(dt.fold("not-a-timestamp")(_._1)); w.write(',')
        w.write(Integer.toString(cell)); w.write(',')
        w.write(java.lang.Long.toString(CountryCodes(rng.nextInt(CountryCodes.length))))
        var total = 0L
        var m = 0
        while (m < 5) {
          val v = metric(rng)
          w.write(','); tenths(w, v)
          if (v > 0) total += v
          m += 1
        }
        w.write('\n')
        if (dt.isDefined && cell < Cells) {
          val k = dt.get._2 * Cells + cell
          d.hourTenths(k) += total
          d.hourRows(k) += 1
          d.trafficKept += 1
        }
        i += 1
      }
    }
    d.trafficRows += n
  }

  private def writeMobility(d: MilanDrop, rng: SplittableRandom, day: Int, n: Int): Unit = {
    d.csvBytes += withWriter(d.dir.resolve(mobilityName(day))) { w =>
      w.write("datetime,CellID,provinceName,cell2Province,Province2cell\n")
      var i = 0
      while (i < n) {
        val dt = datetime(rng, day, i, n)
        val cell = rng.nextInt(CellDraw) * CellStride
        val p = rng.nextInt(RawNames.size)
        val c2p = metric(rng)
        val p2c = metric(rng)
        w.write(dt.fold("not-a-timestamp")(_._1)); w.write(',')
        w.write(Integer.toString(cell)); w.write(',')
        w.write(RawNames(p)); w.write(',')
        tenths(w, c2p); w.write(','); tenths(w, p2c); w.write('\n')
        if (dt.isDefined && cell < Cells && RawNames(p) != Unknown) {
          d.provRows(p) += 1
          if (c2p != Int.MinValue) d.provC2p(p) += c2p
          if (p2c != Int.MinValue) d.provP2c(p) += p2c
          d.mobilityKept += 1
        }
        i += 1
      }
    }
    d.mobilityRows += n
  }
}
