package perfbench

import java.io.{File, PrintWriter}
import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.etd.Model

/** Seeded generator of ETD-shaped inputs: one `household_<id>_table.parquet`
  * per house (5-minute rows, 13 cumulative meters plus their Diff columns,
  * no key columns), an `index.parquet` with one `Meenemen = false` house, a
  * KNMI hourly CSV with a '#' preamble and a project -> station CSV.
  *
  * Every house-meter series carries a gap profile that reaches each branch
  * of the impute cascade:
  *   - dark-meter gaps whose cumulative value returns advanced (ScaledFill),
  *     short ones at `shortGapFrac` of the rows plus `longGaps` long ones;
  *   - a gap the whole project shares, so the project average is missing
  *     over it (LinearFill);
  *   - a meter replaced during a gap, returning lower (NegativeGapJump);
  *   - a gap over which the meter did not advance (NearZeroGapJump);
  *   - a head gap returning at 0 (ZeroEndValue) or above 0
  *     (PositiveEndValue);
  *   - an open tail (NoEndValue);
  *   - a single-interval jump above the column threshold (ThresholdAdjusted);
  *   - a gap with a cumulative reading in its middle, which splits it into
  *     two gap groups.
  * The same seed gives the same files. Project 1 (the canary project, with
  * the Meenemen-excluded house) is drawn from [[canarySeed]] whatever the
  * seed, so its outputs can be checked against recorded values: the
  * pipeline computes every project from that project's rows only.
  */
object Gen {

  /** Shape of one generated input. `longGapRows` bounds the long gaps. */
  final case class Shape(projects: Int, housesPerProject: Int, days: Int,
                         shortGapFrac: Double, longGaps: Int,
                         longGapRows: (Int, Int)) {
    val rowsPerHouse: Int = days * 288
    val includedHouses: Int = projects * housesPerProject
    /** The house flagged `Meenemen = false`: generated, never combined. */
    val excludedHouse: Long = includedHouses + 1L
    def projectOf(house: Long): Long =
      if (house == excludedHouse) 1L else (house - 1) / housesPerProject + 1
  }

  /** The seed of the canary project, project 1. */
  val canarySeed = 20230102L
  val canaryProject = 1L

  /** The seed the rows of `house` are drawn from. */
  def seedOf(seed: Long, shape: Shape, house: Long): Long =
    if (shape.projectOf(house) == canaryProject) canarySeed else seed

  /** 2023-01-02T00:00Z, a Monday. */
  val startEpochSec: Long = 1672617600L
  val stepSec = 300L

  /** Per-meter mean consumption per 5 minutes. */
  private val meanRate: Map[String, Double] = Map(
    "ElektriciteitNetgebruikHoog" -> 0.030,
    "ElektriciteitNetgebruikLaag" -> 0.025,
    "ElektriciteitTerugleveringHoog" -> 0.020,
    "ElektriciteitTerugleveringLaag" -> 0.015,
    "Gasgebruik" -> 0.012,
    "ElektriciteitsgebruikWTW" -> 0.004,
    "ElektriciteitsgebruikWarmtepomp" -> 0.060,
    "ElektriciteitsgebruikBooster" -> 0.010,
    "ElektriciteitsgebruikBoilervat" -> 0.020,
    "ElektriciteitsgebruikRadiator" -> 0.015,
    "WarmteproductieWarmtepomp" -> 0.150,
    "WatergebruikWarmTapwater" -> 2.000,
    "Zon-opwekTotaal" -> 0.040)

  private val meters = Model.cumulativeColumns
  /** Meters with fixed roles in the gap profile. */
  val sharedGapMeter = "WatergebruikWarmTapwater"
  val zeroStartMeter = "Zon-opwekTotaal"
  val positiveStartMeter = "Gasgebruik"
  val openTailMeter = "ElektriciteitsgebruikBooster"
  /** House 2's open tail covers this share of its series, so the
    * over-40%-imputed gate flags (house 2, Booster). */
  val longTailFrac = 0.45

  val schema: StructType = StructType(
    StructField(Model.ReadingDate, TimestampType, nullable = false) +:
      meters.flatMap(m => Seq(
        StructField(m, DoubleType, nullable = true),
        StructField(Model.diffCol(m), DoubleType, nullable = true))))

  private def rng(seed: Long, a: Long, b: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (a * 1000003L + b) * 0xBF58476D1CE4E5B9L)

  private def round(x: Double, scale: Double): Double =
    math.rint(x * scale) / scale

  /** The window every included house of `project` is dark on the
    * [[sharedGapMeter]]: (start row, length). */
  def sharedGap(seed: Long, shape: Shape, project: Long): (Int, Int) = {
    val r = rng(if (project == canaryProject) canarySeed else seed, -project, 7)
    val len = 6 + r.nextInt(18)
    (shape.rowsPerHouse / 4 + r.nextInt(shape.rowsPerHouse / 2), len)
  }

  /** One house-meter series: the cumulative reading and its Diff per row,
    * null where the meter reported nothing or the Diff is undefined. */
  def series(seed: Long, shape: Shape, house: Long, meterIx: Int)
      : (Array[java.lang.Double], Array[java.lang.Double]) = {
    val m = meters(meterIx)
    val n = shape.rowsPerHouse
    val r = rng(seedOf(seed, shape, house), house, meterIx)
    val hi = Model.thresholds(Model.diffCol(m))._2
    val rate = meanRate(m) * (0.6 + 0.8 * r.nextDouble())

    // event kinds per row: 0 none, 1 dark (accruing), 2 dark (frozen),
    // 3 reading of a replaced meter, 4 spike, 5 reading of a frozen meter
    val kind = new Array[Byte](n)
    val busy = new Array[Boolean](n)
    def free(s: Int, len: Int): Boolean =
      s >= 2 && s + len + 2 < n && (s - 2 until s + len + 2).forall(!busy(_))
    def claim(s: Int, len: Int, k: Byte): Unit = {
      (s - 2 until s + len + 2).foreach(busy(_) = true)
      (s until s + len).foreach(kind(_) = k)
    }
    def place(len: Int, k: Byte): Option[Int] =
      Iterator.continually(2 + r.nextInt(math.max(1, n - len - 6)))
        .take(200).find(free(_, len)).map { s => claim(s, len, k); s }

    // head gap (rows 0 until head) and open tail (rows n - tail until n)
    val head = if (m == zeroStartMeter || m == positiveStartMeter)
      math.max(3, math.min(n / 50, 36)) else 0
    (0 until head + 2).foreach(busy(_) = true)
    (0 until head).foreach(kind(_) = 1)
    val tail =
      if (m != openTailMeter) 0
      else if (house == 2) (n * longTailFrac).toInt
      else math.max(3, n / 50)
    (n - tail - 2 until n).foreach(busy(_) = true)
    (n - tail until n).foreach(kind(_) = 1)

    if (m == sharedGapMeter && house != shape.excludedHouse) {
      val (s, len) = sharedGap(seed, shape, shape.projectOf(house))
      claim(s, len, 1)
    }
    // one meter replacement, one frozen meter, one split gap, one spike
    place(3 + r.nextInt(4), 1).foreach(s => kind(s + 2) = 3)
    val frozenLen = 3 + r.nextInt(4)
    place(frozenLen, 2).foreach(s => kind(s + frozenLen) = 5)
    place(9, 1).foreach(s => kind(s + 4) = 0) // reading mid-gap
    place(1, 4)
    (0 until shape.longGaps).foreach { _ =>
      val (lo, hiLen) = shape.longGapRows
      place(lo + r.nextInt(hiLen - lo + 1), 1)
    }
    val shortGaps = (shape.shortGapFrac * n / 7.5).toInt
    (0 until shortGaps).foreach(_ => place(1 + r.nextInt(12), 1))

    val cum = new Array[java.lang.Double](n)
    var level = if (m == zeroStartMeter) 0.0 else round(100 + 5000 * r.nextDouble(), 1e3)
    var i = 0
    while (i < n) {
      val hourOfDay = (i % 288) / 12
      val profile =
        if (m == zeroStartMeter)
          math.max(0.0, math.sin((hourOfDay - 6) / 12.0 * math.Pi)) * 2.0
        else 0.5 + r.nextDouble()
      val inc = round(rate * profile, 1e3)
      kind(i) match {
        case 2 | 5 => ()                          // frozen meter
        case 3 => level = round(level * 0.5, 1e3) // replaced meter
        case 4 => level = round(level + inc + hi * 1.5, 1e3)
        case _ => if (!(m == zeroStartMeter && i <= head)) level = round(level + inc, 1e3)
      }
      // a dark row reports nothing; the row after a gap reads the meter
      cum(i) = if (kind(i) == 1 || kind(i) == 2) null else level
      i += 1
    }
    val diff = new Array[java.lang.Double](n)
    i = 1
    while (i < n) {
      if (cum(i) != null && cum(i - 1) != null)
        diff(i) = round(cum(i) - cum(i - 1), 1e6)
      i += 1
    }
    (cum, diff)
  }

  def houseRows(seed: Long, shape: Shape, house: Long): Iterator[Row] = {
    val cols = meters.indices.map(series(seed, shape, house, _))
    Iterator.range(0, shape.rowsPerHouse).map { i =>
      val vals = new Array[Any](1 + 2 * meters.size)
      vals(0) = new Timestamp((startEpochSec + i * stepSec) * 1000L)
      var k = 0
      while (k < meters.size) {
        vals(1 + 2 * k) = cols(k)._1(i)
        vals(2 + 2 * k) = cols(k)._2(i)
        k += 1
      }
      Row.fromSeq(vals.toSeq)
    }
  }

  val stations: Seq[(Int, String)] =
    Seq(260 -> "De Bilt", 344 -> "Rotterdam", 370 -> "Eindhoven")
  def stationOf(project: Long): (Int, String) =
    stations(((project - 1) % stations.size).toInt)

  /** Paths of one generated input. */
  final case class Inputs(mapped: String, index: String, knmi: String,
                          stationMap: String)

  /** Write every input file of `shape` under `dir`. */
  def write(spark: SparkSession, seed: Long, shape: Shape, dir: String): Inputs = {
    val mapped = s"$dir/mapped"
    val houses = (1L to shape.excludedHouse).toVector
    val staging = s"$dir/staging"
    val rows = spark.sparkContext
      .parallelize(houses, math.min(houses.size, spark.sparkContext.defaultParallelism * 2))
      .flatMap { h =>
        houseRows(seed, shape, h).map(r => Row.fromSeq(r.toSeq :+ h))
      }
    spark.createDataFrame(rows, schema.add(Model.HouseId, LongType))
      .write.partitionBy(Model.HouseId).parquet(staging)
    new File(mapped).mkdirs()
    houses.foreach { h =>
      val from = new File(s"$staging/${Model.HouseId}=$h")
      require(from.renameTo(new File(s"$mapped/household_${h}_table.parquet")),
        s"cannot move $from")
    }
    Files.deleteTree(new File(staging))

    val index = s"$dir/index.parquet"
    val ixRows = houses.map { h =>
      val p = shape.projectOf(h)
      Row(h, p, h != shape.excludedHouse, 80.0 + (h % 7) * 10,
        s"leverancier_${h % 3}", stationOf(p)._2.toUpperCase)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(ixRows, 1), Model.indexSchema)
      .write.parquet(index)

    val knmi = s"$dir/knmi_uurgeg.txt"
    val pw = new PrintWriter(knmi, "UTF-8")
    try {
      pw.println("# BRON: KONINKLIJK NEDERLANDS METEOROLOGISCH INSTITUUT (KNMI)")
      pw.println("# T        = Temperatuur (in 0.1 graden Celsius)")
      pw.println("# FH       = Uurgemiddelde windsnelheid (in 0.1 m/s)")
      pw.println("# U        = Relatieve vochtigheid (in procenten)")
      pw.println("#")
      pw.println("# STN,YYYYMMDD,   HH,    T,   FH,    U")
      val r = rng(seed, 0, -1)
      val day0 = java.time.LocalDate.ofEpochDay(startEpochSec / 86400 - 14)
      for ((stn, _) <- stations; d <- 0 until shape.days + 15; hh <- 1 to 24) {
        val date = day0.plusDays(d.toLong)
        val ymd = date.getYear * 10000 + date.getMonthValue * 100 + date.getDayOfMonth
        val season = -math.cos(2 * math.Pi * (date.getDayOfYear - 15) / 365.0)
        val t = (90 + 80 * season + 40 * math.sin((hh - 9) / 24.0 * 2 * math.Pi) +
          30 * (r.nextDouble() - 0.5)).round
        pw.println(f"$stn%5d,$ymd%8d,$hh%5d,$t%5d,${20 + r.nextInt(60)}%5d,${60 + r.nextInt(36)}%5d")
      }
    } finally pw.close()

    val stationMap = s"$dir/project_weather_station.csv"
    val sw = new PrintWriter(stationMap, "UTF-8")
    try {
      sw.println(s"${Model.ProjectId},Weerstation,Nummer")
      (1L to shape.projects).foreach { p =>
        val (stn, name) = stationOf(p)
        sw.println(s"$p,$name,$stn")
      }
    } finally sw.close()
    Inputs(mapped, index, knmi, stationMap)
  }
}

object Files {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Bytes of the data files under `f` (hidden and `_`-prefixed files,
    * such as checksums and commit markers, excluded). */
  def dataBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dataBytes).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()
}
