package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Seeded synthetic Chicago-trips generator in the reference's raw
  * shape: 23 string fields, `$`-currency, 12-hour timestamps.
  *
  * It plants the edge cases of the engine's taxi fixture at fixed
  * rates and counts each one as it writes it, so the output checks
  * compare against true counts rather than against another run:
  *  - `$1,200.00`-style fares with a thousands separator;
  *  - exact duplicate lines (the batch `distinct()` collapses them);
  *  - pickup or dropoff area 99, unknown to the areas master (kept by
  *    the batch LEFT join, dropped by the stream INNER join);
  *  - empty community areas;
  *  - malformed lines (an unparseable timestamp or integer field in
  *    CSV, a truncated object in JSON lines).
  *
  * Rows come out in event-time order with up to [[JitterSec]] of
  * disorder, well inside the rollup's one-hour watermark, so no row
  * is late by construction. */
object TripGen {
  val Areas = 77
  val UnknownArea = 99
  val JitterSec = 600
  private val Companies = (0 until 40).map(i => f"Company $i%02d")
  private val Payments = Seq("Credit Card", "Cash", "Mobile", "Prcard")
  private val Fmt = DateTimeFormatter.ofPattern("MM/dd/yyyy hh:mm:ss a", Locale.US)

  val CsvHeader: String =
    "trip_id,taxi_id,trip_start_timestamp,trip_end_timestamp,trip_seconds," +
      "trip_miles,pickup_census_tract,dropoff_census_tract," +
      "pickup_community_area,dropoff_community_area,fare,tips,tolls,extras," +
      "trip_total,payment_type,company,pickup_centroid_latitude," +
      "pickup_centroid_longitude,pickup_centroid_location," +
      "dropoff_centroid_latitude,dropoff_centroid_longitude," +
      "dropoff_centroid_location"
  private val Fields = CsvHeader.split(",").toIndexedSeq

  /** True counts of what one generation wrote. `lines` counts every
    * data line, duplicates and malformed lines included;
    * `pickupUnknown` and `dropoffUnknown` count distinct rows picked up,
    * or dropped off, in area 99;
    * `enrichable` counts well-formed lines, duplicates included, whose
    * two areas are both in the master. */
  final case class Counts(
      lines: Long,
      malformed: Long,
      duplicates: Long,
      pickupUnknown: Long,
      dropoffUnknown: Long,
      enrichable: Long) {
    def +(o: Counts): Counts = Counts(lines + o.lines, malformed + o.malformed,
      duplicates + o.duplicates, pickupUnknown + o.pickupUnknown,
      dropoffUnknown + o.dropoffUnknown, enrichable + o.enrichable)
    def wellFormed: Long = lines - malformed
    def distinct: Long = wellFormed - duplicates
  }

  private def centroid(area: Int): (String, String) =
    (f"${41.65 + area * 0.0045}%.4f", f"${-87.85 + area * 0.0031}%.4f")

  /** The 77-row areas master (area 99 deliberately absent). */
  def writeAreas(path: File): Unit = {
    path.getParentFile.mkdirs()
    val w = new BufferedWriter(new FileWriter(path))
    try {
      w.write("area_number,community,area_centroid_latitude,area_centroid_longitude,the_geom\n")
      (1 to Areas).foreach { a =>
        val (lat, lon) = centroid(a)
        w.write(s"$a,AREA $a,$lat,$lon,MULTIPOLYGON (((${a} ${a})))\n")
      }
    } finally w.close()
  }

  private def money(cents: Long): String = {
    val s = f"${cents / 100}%d.${cents % 100}%02d"
    if (cents >= 100000) "$" + f"${cents / 100}%,d" + s.dropWhile(_ != '.')
    else "$" + s
  }

  /** One well-formed trip as its 23 raw field values. */
  private def trip(r: SplittableRandom, id: Long, startSec: Long): IndexedSeq[String] = {
    val secs = 120 + r.nextInt(3600)
    val start = LocalDateTime.ofEpochSecond(startSec, 0, ZoneOffset.UTC)
    val end = start.plusSeconds(secs)
    def area(): String = {
      val u = r.nextInt(1000)
      if (u < 15) String.valueOf(UnknownArea) else if (u < 25) "" else
        String.valueOf(1 + r.nextInt(Areas))
    }
    val pu = area()
    val dof = area()
    val fareCents =
      if (r.nextInt(1000) < 3) 100000L + r.nextInt(100000) else 325L + r.nextInt(6000)
    val tips = r.nextInt(1500).toLong
    val tolls = if (r.nextInt(10) == 0) 150L else 0L
    val extras = r.nextInt(4) * 100L
    val tract = if (r.nextInt(3) == 0) f"170310${r.nextInt(100000)}%05d" else ""
    def loc(a: String): (String, String, String) =
      if (a.isEmpty || a == String.valueOf(UnknownArea)) ("", "", "")
      else {
        val (lat, lon) = centroid(a.toInt)
        (lat, lon, s"POINT ($lon $lat)")
      }
    val (pla, plo, plc) = loc(pu)
    val (dla, dlo, dlc) = loc(dof)
    IndexedSeq(
      f"$id%016x", f"taxi${r.nextInt(2500)}%04d", start.format(Fmt), end.format(Fmt),
      String.valueOf(secs), f"${r.nextInt(250) / 10.0}%.1f", tract, tract, pu, dof,
      money(fareCents), money(tips), money(tolls), money(extras),
      money(fareCents + tips + tolls + extras), Payments(r.nextInt(Payments.size)),
      if (r.nextInt(50) == 0) "" else Companies(r.nextInt(Companies.size)),
      pla, plo, plc, dla, dlo, dlc)
  }

  private def csvLine(v: IndexedSeq[String]): String =
    v.map(s => if (s.contains(',')) "\"" + s + "\"" else s).mkString(",")

  private def jsonLine(v: IndexedSeq[String]): String =
    Fields.indices.map { i =>
      val s = v(i)
      "\"" + Fields(i) + "\":" + (if (s.isEmpty) "null" else "\"" + s + "\"")
    }.mkString("{", ",", "}")

  /** Writes `rows` trips starting at `startEpochSec`, spread evenly
    * over `spanSec`, as CSV (one file with a header) or JSON lines
    * (split into `files` files, one micro-batch each). Files are
    * written in parallel, each from its own split of the seeded
    * generator, so the output depends only on the arguments. */
  def write(out: File, seed: Long, rows: Int, startEpochSec: Long, spanSec: Long,
      json: Boolean, files: Int = 1): Counts = {
    out.mkdirs()
    val root = new SplittableRandom(seed)
    val rngs = (0 until files).map(_ => root.split())
    val perFile = (rows + files - 1) / files
    // files carry increasing mtimes so the file source reads them in
    // event-time order whatever the filesystem's timestamp resolution
    val mtime0 = System.currentTimeMillis() - files * 1000L
    val parts = (0 until files).map { f =>
      Future {
        val file = new File(out, f"part-$f%05d.${if (json) "json" else "csv"}")
        val c = writeFile(file, rngs(f), seed, f * perFile, math.min(rows, (f + 1) * perFile),
          rows, startEpochSec, spanSec, json)
        file.setLastModified(mtime0 + f * 1000L)
        c
      }(ExecutionContext.global)
    }
    parts.map(Await.result(_, Duration.Inf)).reduce(_ + _)
  }

  /** Writes trips `from` until `until` of `rows` to one file. */
  private def writeFile(file: File, r: SplittableRandom, seed: Long, from: Int, until: Int,
      rows: Int, startEpochSec: Long, spanSec: Long, json: Boolean): Counts = {
    var malformed, dups, pickupUnknown, dropoffUnknown, enrichable, lines = 0L
    val w = new BufferedWriter(new FileWriter(file), 1 << 16)
    try {
      if (!json) w.write(CsvHeader + "\n")
      var i = from
      while (i < until) {
        val t = startEpochSec + i * spanSec / rows + r.nextInt(JitterSec)
        val v = trip(r, seed * 100000000L + i, t)
        val u = r.nextInt(1000)
        val line =
          if (u < 5) {
            malformed += 1
            if (json) jsonLine(v).take(40)
            else if (u < 2) csvLine(v.updated(2, "??/??/2023 ??:??:?? ??"))
            else csvLine(v.updated(4, "12x"))
          } else {
            if (v(8) == String.valueOf(UnknownArea)) pickupUnknown += 1
            if (v(9) == String.valueOf(UnknownArea)) dropoffUnknown += 1
            if (Seq(v(8), v(9)).forall(a => a.nonEmpty && a.toInt <= Areas)) enrichable += 1
            if (json) jsonLine(v) else csvLine(v)
          }
        w.write(line); w.write('\n'); lines += 1
        // exact duplicate of a well-formed line, written next to it
        if (u >= 5 && u < 15) {
          w.write(line); w.write('\n'); lines += 1; dups += 1
          if (Seq(v(8), v(9)).forall(a => a.nonEmpty && a.toInt <= Areas)) enrichable += 1
        }
        i += 1
      }
    } finally w.close()
    Counts(lines, malformed, dups, pickupUnknown, dropoffUnknown, enrichable)
  }
}
