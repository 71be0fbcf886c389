package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etd._
import graft.etd.Model._

/** Wraps each public layer call. Untraced it is the identity, so a query
  * composes lazily and runs as one plan. Traced, the call gets a span and
  * its result is materialised (a local checkpoint, then counted) in a child
  * span, so the next call starts from a materialised input and each span
  * covers one layer. The result's own planning phases are recorded too:
  * executing it through a checkpoint reports them to no listener. */
final class Steps(val tracer: Option[Tracer]) {
  private val counted = new java.util.IdentityHashMap[DataFrame, java.lang.Long]()

  /** Rows of a frame this wrapper materialised (0 untraced). */
  def rows(df: DataFrame): Long = Option(counted.get(df)).map(_.longValue).getOrElse(0L)

  def apply(layer: String, name: String)(df: => DataFrame): DataFrame =
    tracer.fold(df) { t =>
      t.span(name, layer) {
        val d = df
        t.span(s"$name.materialize", layer) {
          val cp = d.localCheckpoint(eager = true)
          t.addPhases(d.queryExecution)
          val n = cp.count()
          counted.put(cp, n)
          t.addRows(layer, n)
          cp
        }
      }
    }

  /** A call that runs eagerly (a write); `rows` is what it commits. */
  def run(layer: String, name: String, rows: => Long)(body: => Unit): Unit =
    tracer.fold(body) { t =>
      t.span(name, layer) { body; t.addRows(layer, rows) }
    }

  /** Drop the checkpoints taken so far. */
  def release(spark: SparkSession): Unit = {
    counted.clear()
    if (tracer.nonEmpty)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

/** The analysis workload: seeded reads of the staged parquet layout, the
  * way a user of the tables asks them. */
object Queries {

  final case class Query(kind: String, project: Long, house: Long,
                         interval: String, day: Int, days: Int) {
    def key: String = s"$kind/$project/$house/$interval/$day/$days"
  }

  final case class Ctx(spark: SparkSession, stages: String, inputs: Gen.Inputs,
                       shape: Gen.Shape) {
    lazy val index: DataFrame = Sources.readIndex(spark, inputs.index)
  }

  val kinds: Seq[(String, Int)] = Seq(
    "household_slice" -> 30, "project_slice" -> 20, "weather_join" -> 15,
    "rolling_extreme" -> 15, "simultaneity" -> 10, "over40" -> 10)

  /** The endless query stream drawn from `seed`; its first queries are
    * one of each kind. */
  def stream(seed: Long, shape: Gen.Shape): Iterator[Query] = {
    val r = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    val total = kinds.map(_._2).sum
    def draw(kind: String): Query = {
      val p = 1L + r.nextInt(shape.projects)
      val hs = Checks.housesOf(shape, p)
      val days = 1 + r.nextInt(math.min(7, shape.days))
      Query(kind, p, hs(r.nextInt(hs.size)),
        Checks.intervals(r.nextInt(Checks.intervals.size)),
        r.nextInt(shape.days - days + 1), days)
    }
    kinds.iterator.map(k => draw(k._1)) ++ Iterator.continually {
      var x = r.nextInt(total)
      draw(kinds.find { case (_, w) => x -= w; x < 0 }.get._1)
    }
  }

  private def ts(day: Int): Timestamp =
    new Timestamp((Gen.startEpochSec + day * 86400L) * 1000L)

  /** Run one query; returns its answer as a canonical string and the
    * problems its checks found. */
  def run(c: Ctx, q: Query, st: Steps): (String, Seq[String]) = {
    val spark = c.spark
    val inWindow = col(ReadingDate) >= lit(ts(q.day)) && col(ReadingDate) < lit(ts(q.day + q.days))
    val ofProject = col(ProjectId) === q.project
    def household(iv: String, meta: Seq[String]): DataFrame =
      st("tables", s"tables.household.$iv")(
        Tables.household(spark, c.stages, Some(c.index), Seq(iv), Some(meta))(iv)
          .filter(ofProject))
    val houses = Checks.housesOf(c.shape, q.project)
    def rows(df: DataFrame) = df.collect().toSeq.map(_.toSeq.mkString("\u0000")).sorted
    def expect(ok: Boolean, what: => String) = if (ok) Nil else Seq(s"${q.key}: $what")

    q.kind match {
      case "household_slice" =>
        val df = household(q.interval, Seq("Oppervlakte"))
          .filter(col(HouseId) === q.house && inWindow)
          .agg(count(lit(1)), sum("ElektriciteitsgebruikTotaalNetto"), max("Oppervlakte"))
        val r = rows(df)
        (r.mkString("\n"), expect(r.head.split("\u0000")(0).toLong ==
          q.days.toLong * Checks.perDay(q.interval), s"row count ${r.head}"))
      case "project_slice" =>
        val df = st("tables", s"tables.project.${q.interval}")(
          Tables.project(spark, c.stages, Seq(q.interval))(q.interval).filter(ofProject))
          .filter(inWindow).agg(count(lit(1)), sum("Netuitwisseling"), sum("n"))
        val r = rows(df)
        (r.mkString("\n"), expect(r.head.split("\u0000")(0).toLong ==
          q.days.toLong * Checks.perDay(q.interval), s"row count ${r.head}"))
      case "weather_join" =>
        val raw = st("sources", "sources.readKnmiCsv")(Sources.readKnmiCsv(spark, c.inputs.knmi))
        val weather = st("weather", "weather.weatherTable")(Weather.weatherTable(raw))
        val stations = st("sources", "sources.readStationMappingCsv")(
          Sources.readStationMappingCsv(spark, c.inputs.stationMap))
        val hourly = household("60min", Nil).filter(inWindow)
        val joined = st("weather", "weather.joinWeather")(
          Weather.joinWeather(hourly, stations, weather))
        val df = joined.agg(count(lit(1)), count(col("Temperatuur")),
          round(avg("Temperatuur"), 6), sum("ElektriciteitsgebruikTotaalWarmtepomp"))
        val r = rows(df)
        val f = r.head.split("\u0000")
        (r.mkString("\n"), expect(f(0).toLong == q.days * 24L * houses.size && f(1) == f(0),
          s"weather join ${r.head}"))
      case "rolling_extreme" =>
        val hourly = household("60min", Nil)
        // a week-long window, or the whole series when it is shorter
        val days = math.min(7, c.shape.days)
        val rolled = st("weather", "weather.rollingMean")(hourly.withColumn("ra",
          Weather.rollingMean(col("ElektriciteitsgebruikTotaalNetto"), Seq(col(HouseId)),
            Seq(col(ReadingDate)), 24 * days, 12 * days)))
        val df = st("weather", "weather.extremeAvgPeriod")(
          Weather.extremeAvgPeriod(rolled, "ra", Seq(HouseId), days, highest = true))
        val r = rows(df)
        val got = r.map(_.split("\u0000")(0).toLong).distinct.sorted
        (r.mkString("\n"), expect(got == houses, s"extreme periods for houses $got"))
      case "simultaneity" =>
        val daily = household("24h", Nil)
        val fine = household("5min", Nil).filter(inWindow)
        val df = st("weather", "weather.simultaneityRatio")(Weather.simultaneityRatio(
          daily, fine, "ElektriciteitsgebruikTotaalNetto", Seq(HouseId)))
        val r = rows(df)
        (r.mkString("\n"), expect(r.size == houses.size && r.forall(!_.endsWith("null")),
          s"simultaneity ${r.mkString(";")}"))
      case "over40" =>
        val summary = st("sources", "sources.readParquet")(
          Sources.readParquet(spark, s"${c.stages}/impute_summary_household.parquet"))
        val df = st("imputesummaries", "imputesummaries.over40PctImputed")(
          ImputeSummaries.over40PctImputed(summary)).select(HouseId, "column")
        val r = rows(df)
        val want = s"2\u0000${diffCol(Gen.openTailMeter)}"
        (r.mkString("\n"), expect(r.contains(want), s"over-40% set ${r.mkString(";")}"))
    }
  }
}
