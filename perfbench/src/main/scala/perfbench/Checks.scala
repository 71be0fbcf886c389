package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType}

import graft.etd.Model._

/** Output verification for one pipeline pass. */
object Checks {

  val intervals: Seq[String] = Seq("5min", "15min", "60min", "6h", "24h")
  val perDay: Map[String, Int] =
    Map("5min" -> 288, "15min" -> 96, "60min" -> 24, "6h" -> 4, "24h" -> 1)

  /** Every sink `Pipeline.writeStages` commits, with its closed-form row
    * count. */
  def expectedRows(shape: Gen.Shape): Seq[(String, Long)] = {
    val houses = shape.includedHouses.toLong
    val cols = cumulativeColumns.size.toLong
    Seq(
      "household_imputed" -> houses * shape.rowsPerHouse,
      "impute_gap_stats" -> houses * cols,
      "impute_summary_household" -> houses * cols,
      "impute_summary_project" -> shape.projects * cols,
      "household_calculated" -> houses * shape.rowsPerHouse) ++
      intervals.flatMap(iv => Seq(
        s"household_$iv" -> houses * shape.days * perDay(iv),
        s"project_$iv" -> shape.projects.toLong * shape.days * perDay(iv)))
  }

  /** One part of a table's fingerprint. The exact part (column `*`)
    * holds the row count and the sum of a 64-bit hash per row over the
    * text of the row's fields that are not floating point, in column-name
    * order joined with U+0000 (a null field is U+0001), so ("ab", "c") and
    * ("a", "bc") stay apart. A floating-point column's part holds its
    * count of finite values, its count of NaN and infinite values, and the
    * sums of its finite values and of their magnitudes, each value
    * weighted by a factor in [1, 2) drawn from its row's hash. */
  final case class Part(count: Long, nonFinite: Long, sum: java.math.BigDecimal,
                        scale: Double)

  /** A fingerprint: (sink, column) -> part. */
  type Print = Map[(String, String), Part]

  /** Relative tolerance of a floating-point part: a different summation
    * order moves its last bits, a changed value moves it by far more. */
  val tolerance = 1e-9

  private val floating = Set[DataType](DoubleType, FloatType)

  /** Running sums of one fingerprint of a table with `floats`
    * floating-point columns. */
  final class Acc(floats: Int) extends Serializable {
    var rows = 0L
    var hashSum = BigInt(0)
    val count = new Array[Long](floats)
    val nonFinite = new Array[Long](floats)
    val sum = new Array[Double](floats)
    val scale = new Array[Double](floats)

    def add(h: Long, values: Array[Double], present: Array[Boolean]): Unit = {
      rows += 1
      hashSum += h
      val w = 1.0 + (h & 0xFFFF) / 65536.0
      var k = 0
      while (k < values.length) {
        val v = values(k)
        if (!present(k)) ()
        else if (v.isNaN || v.isInfinite) nonFinite(k) += 1
        else { count(k) += 1; sum(k) += v * w; scale(k) += math.abs(v) * w }
        k += 1
      }
    }

    def merge(o: Acc): Acc = {
      rows += o.rows
      hashSum += o.hashSum
      count.indices.foreach { k =>
        count(k) += o.count(k); nonFinite(k) += o.nonFinite(k)
        sum(k) += o.sum(k); scale(k) += o.scale(k)
      }
      this
    }

    def print(sink: String, names: Seq[String]): Print =
      if (rows == 0) Map.empty
      else (Seq((sink, "*") -> Part(rows, 0L, new java.math.BigDecimal(hashSum.bigInteger), 0.0)) ++
        names.zipWithIndex.map { case (c, k) =>
          (sink, c) -> Part(count(k), nonFinite(k), java.math.BigDecimal.valueOf(sum(k)), scale(k))
        }).toMap
  }

  /** A field's text in the exact part: timestamps as epoch microseconds,
    * so the text does not depend on the JVM's time zone. */
  private def text(v: Any): String = v match {
    case null => "\u0001"
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case x => x.toString
  }

  /** The fingerprints of `sink`'s rows in the canary project and of all
    * its rows, in one pass over the table. */
  def fingerprint(sink: String, df: DataFrame, shape: Gen.Shape): (Print, Print) = {
    val fields = df.schema.fields.sortBy(_.name)
    val floatIx = fields.indices.filter(i => floating(fields(i).dataType)).toArray
    val otherIx = fields.indices.filterNot(i => floating(fields(i).dataType)).toArray
    val names = fields.map(_.name)
    val canaryHouses = housesOf(shape, Gen.canaryProject).toSet
    val canary: Row => Boolean =
      if (names.contains(ProjectId)) {
        val i = names.indexOf(ProjectId)
        r => !r.isNullAt(i) && r.getAs[Number](i).longValue == Gen.canaryProject
      } else if (names.contains(HouseId)) {
        val i = names.indexOf(HouseId)
        r => !r.isNullAt(i) && canaryHouses(r.getAs[Number](i).longValue)
      } else _ => false
    val (mine, all) = df.select(names.map(c => col(s"`$c`")): _*).rdd
      .mapPartitions { rows =>
        val mine = new Acc(floatIx.length)
        val all = new Acc(floatIx.length)
        val values = new Array[Double](floatIx.length)
        val present = new Array[Boolean](floatIx.length)
        rows.foreach { r =>
          val key = otherIx.map(i => text(r.get(i))).mkString("\u0000")
          val h = (MurmurHash3.stringHash(key, 0x2545F491).toLong << 32) ^
            (MurmurHash3.stringHash(key, 0x6A09E667) & 0xFFFFFFFFL)
          var k = 0
          while (k < floatIx.length) {
            present(k) = !r.isNullAt(floatIx(k))
            values(k) = if (present(k)) r.getAs[Number](floatIx(k)).doubleValue else 0.0
            k += 1
          }
          all.add(h, values, present)
          if (canary(r)) mine.add(h, values, present)
        }
        Iterator((mine, all))
      }
      .fold((new Acc(floatIx.length), new Acc(floatIx.length))) {
        case ((m1, a1), (m2, a2)) => (m1.merge(m2), a1.merge(a2))
      }
    val floatNames = floatIx.toSeq.map(names)
    (mine.print(sink, floatNames), all.print(sink, floatNames))
  }

  /** Where `got` differs from `want`, one line per part, each starting
    * with the sink's name and a colon. Counts and exact parts must be
    * equal; floating-point sums must agree within [[tolerance]] of their
    * magnitude. */
  def differences(want: Print, got: Print): Seq[String] =
    (want.keySet ++ got.keySet).toSeq.sorted.flatMap { case k @ (sink, column) =>
      (want.get(k), got.get(k)) match {
        case (Some(a), Some(b)) =>
          val same = a.count == b.count && a.nonFinite == b.nonFinite && (
            if (column == "*") a.sum.compareTo(b.sum) == 0
            else a.sum.subtract(b.sum).abs.doubleValue <=
              tolerance * math.max(a.scale, b.scale))
          def show(p: Part) = s"${p.count} values (${p.nonFinite} not finite), sum ${p.sum}"
          if (same) None else Some(s"$sink: $column has ${show(b)}; expected ${show(a)}")
        case (a, _) => Some(s"$sink: column $column ${if (a.isEmpty) "unexpected" else "missing"}")
      }
    }

  def writePrint(file: java.io.File, p: Print): Unit = {
    file.getParentFile.mkdirs()
    val pw = new java.io.PrintWriter(file, "UTF-8")
    try p.toSeq.sortBy(_._1).foreach { case ((sink, c), Part(n, bad, sum, scale)) =>
      pw.println(Seq(sink, c, n, bad, sum.toString, scale).mkString("\t"))
    } finally pw.close()
  }

  def readPrint(file: java.io.File): Print = {
    val src = scala.io.Source.fromFile(file, "UTF-8")
    try src.getLines().map(_.split("\t")).collect { case Array(sink, c, n, bad, sum, scale) =>
      (sink, c) -> Part(n.toLong, bad.toLong, new java.math.BigDecimal(sum), scale.toDouble)
    }.toMap
    finally src.close()
  }

  /** Fingerprints of every sink (all rows; the canary project's rows) and
    * what else the check found. */
  final case class PassCheck(whole: Print, canary: Print,
                             problems: Seq[String], imputeBits: Int,
                             rowsImputed: Long)

  /** Read back every sink under `dir` and check it: row counts against
    * the closed form, the Meenemen-excluded house absent, and every
    * ImputeType bit present in the imputed table, in the canary project's
    * rows too. Each problem starts with the name of the sink it concerns
    * and a colon. */
  def pipelineOutputs(spark: SparkSession, dir: String, shape: Gen.Shape): PassCheck = {
    val problems = Seq.newBuilder[String]
    // one small job per sink: run them on as many client threads as cores
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    val prints = try {
      expectedRows(shape).map { case (name, want) =>
        (name, want, pool.submit(() => {
          fingerprint(name, spark.read.parquet(s"$dir/$name.parquet"), shape)
        }))
      }.map { case (name, want, f) =>
        val p = f.get()
        val rows = p._2((name, "*")).count
        if (rows != want) problems += s"$name: $rows rows, expected $want"
        p
      }
    } finally pool.shutdown()
    val imputed = spark.read.parquet(s"$dir/household_imputed.parquet")
    def bitsOf(rows: Column) = cumulativeColumns
      .map(c => coalesce(bit_or(when(rows, col(imputeTypeCol(c)))), lit(0)))
      .reduce(_ bitwiseOR _)
    val bitsAndRows = imputed.agg(
      bitsOf(lit(true)).as("bits"),
      cumulativeColumns.map(c => count(when(col(isImputedCol(c)), 1)))
        .reduce(_ + _).as("imputed"),
      countDistinct(col(HouseId)).as("houses"),
      max(col(HouseId)).as("maxHouse"),
      bitsOf(col(ProjectId) === Gen.canaryProject).as("canaryBits")).head()
    val bits = bitsAndRows.getInt(0)
    val houses = bitsAndRows.getLong(2)
    if (houses != shape.includedHouses || bitsAndRows.getLong(3) == shape.excludedHouse)
      problems += s"household_imputed: holds $houses houses, max id " +
        s"${bitsAndRows.getLong(3)}; expected ${shape.includedHouses}, " +
        s"house ${shape.excludedHouse} excluded"
    val allBits = Seq(ImputeType.NegativeGapJump, ImputeType.NearZeroGapJump,
      ImputeType.LinearFill, ImputeType.ScaledFill, ImputeType.ZeroEndValue,
      ImputeType.PositiveEndValue, ImputeType.NoEndValue,
      ImputeType.ThresholdAdjusted)
    allBits.filter(b => (bits & b) == 0).foreach(b =>
      problems += s"household_imputed: ImputeType bit $b never set")
    allBits.filter(b => (bitsAndRows.getInt(4) & b) == 0).foreach(b =>
      problems += s"household_imputed: ImputeType bit $b never set in the canary project")
    PassCheck(prints.flatMap(_._2).toMap, prints.flatMap(_._1).toMap,
      problems.result(), Integer.bitCount(bits & allBits.sum), bitsAndRows.getLong(1))
  }

  /** Rows of the combined input whose Diff is missing, over all meters. */
  def gapRows(combined: DataFrame): Long =
    combined.agg(cumulativeColumns.map(c => count(when(col(diffCol(c)).isNull, 1)))
      .reduce(_ + _)).head().getLong(0)

  /** Included house ids of `project`. */
  def housesOf(shape: Gen.Shape, project: Long): Seq[Long] =
    ((project - 1) * shape.housesPerProject + 1 to project * shape.housesPerProject)
      .map(_.toLong)
}
