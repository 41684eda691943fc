package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

/** Seeded input generators and the plain-Scala reference answers the
  * checks compare graft's outputs against. Nothing here calls graft:
  * the program under test only ever sees the parquet these write. */
object Data {
  val DayUs: Long = 86400L * 1000000L
  /** 2024-06-01T00:00:00Z, the day every label falls on. */
  val LabelDay: Long = 1717200000L * 1000000L
  val LookbackUs: Long = 365L * DayUs

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  /** Writes `rows` as parquet; columns named `*_us` become timestamps
    * (microseconds since the epoch) under the name without the suffix. */
  def write(spark: SparkSession, path: String, schema: StructType, rows: java.util.List[Row]): Unit = {
    val df = spark.createDataFrame(rows, schema)
    val cols = schema.fieldNames.toSeq.map { n =>
      if (n.endsWith("_us")) expr(s"timestamp_micros($n)").as(n.stripSuffix("_us")) else col(n)
    }
    df.select(cols: _*).write.mode("overwrite").parquet(path)
  }

  def rows(n: Int)(f: Int => Row): java.util.List[Row] = {
    val out = new java.util.ArrayList[Row](n)
    var i = 0
    while (i < n) { out.add(f(i)); i += 1 }
    out
  }

  // ---- point-in-time labels and histories ---------------------------

  final case class Labels(ent: Array[Long], ts: Array[Long])

  /** One feature history, grouped by entity (entities are 0 until
    * `nEnt`) and sorted by time within an entity; (entity, ts) unique. */
  final class History(val nEnt: Int, val off: Array[Int], val ts: Array[Long], val v: Array[Double]) {
    def size: Int = ts.length

    /** Latest row with lower <= ts < upper, by binary search; -1 if none. */
    def asOf(e: Long, upper: Long, lower: Long): Int = {
      var lo = off(e.toInt)
      var hi = off(e.toInt + 1) // first index with ts >= upper, searched in [lo, hi)
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (ts(m) < upper) lo = m + 1 else hi = m
      }
      val i = lo - 1
      if (i >= off(e.toInt) && ts(i) >= lower) i else -1
    }

    /** The same choice by a linear scan over every row of the entity. */
    def asOfScan(e: Long, upper: Long, lower: Long): Int = {
      var best = -1
      var i = off(e.toInt)
      while (i < off(e.toInt + 1)) {
        if (ts(i) < upper && ts(i) >= lower && (best < 0 || ts(i) > ts(best))) best = i
        i += 1
      }
      best
    }
  }

  object History {
    /** Groups raw (entity, ts) pairs; a duplicate time within an entity
      * moves one microsecond later, so (entity, ts) stays unique. */
    def apply(nEnt: Int, ent: Array[Long], ts: Array[Long], r: SplittableRandom): History = {
      val n = ent.length
      val off = new Array[Int](nEnt + 1)
      ent.foreach(e => off(e.toInt + 1) += 1)
      var e = 0
      while (e < nEnt) { off(e + 1) += off(e); e += 1 }
      val fill = off.clone()
      val sorted = new Array[Long](n)
      var i = 0
      while (i < n) { sorted(fill(ent(i).toInt)) = ts(i); fill(ent(i).toInt) += 1; i += 1 }
      e = 0
      while (e < nEnt) {
        java.util.Arrays.sort(sorted, off(e), off(e + 1))
        var j = off(e) + 1
        while (j < off(e + 1)) { if (sorted(j) <= sorted(j - 1)) sorted(j) = sorted(j - 1) + 1; j += 1 }
        e += 1
      }
      val v = Array.fill(n)(math.rint(r.nextDouble() * 1e6) / 100.0)
      new History(nEnt, off, sorted, v)
    }
  }

  def labels(r: SplittableRandom, n: Int, nEnt: Int, hotShare: Double): Labels = {
    val ent = Array.fill(n)(if (r.nextDouble() < hotShare) 0L else r.nextInt(nEnt).toLong)
    val ts = Array.fill(n)(LabelDay + r.nextLong(DayUs))
    Labels(ent, ts)
  }

  /** Raw history rows: a `hotShare` of them on entity 0, the rest
    * uniform; times over the 380 days before the label day, so some
    * rows fall out of the 365-day lookback. A share of rows is planted
    * on the temporal boundaries of real labels (`plantAt` gives the
    * offsets back from a label's time), so strict `<`, embargo,
    * staleness and lookback each decide some answers. */
  def history(r: SplittableRandom, n: Int, nEnt: Int, hotShare: Double,
      lab: Labels, plantAt: Seq[Long]): History = {
    val ent = new Array[Long](n)
    val ts = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (plantAt.nonEmpty && r.nextDouble() < 0.04) {
        val l = r.nextInt(lab.ent.length)
        ent(i) = lab.ent(l)
        ts(i) = lab.ts(l) - plantAt(r.nextInt(plantAt.size))
      } else {
        ent(i) = if (r.nextDouble() < hotShare) 0L else r.nextInt(nEnt).toLong
        ts(i) = LabelDay - r.nextLong(380L * DayUs)
      }
      i += 1
    }
    History(nEnt, ent, ts, r)
  }

  val LabelSchema: StructType = StructType(Seq(
    StructField("entity_id", LongType, nullable = false),
    StructField("label_time_us", LongType, nullable = false),
    StructField("label_id", LongType, nullable = false),
    StructField("y", IntegerType, nullable = false)))

  /** `t` repeats the row time as a value column, so the output names
    * which history row each label received. */
  val HistorySchema: StructType = StructType(Seq(
    StructField("feature", StringType, nullable = false),
    StructField("entity_id", LongType, nullable = false),
    StructField("ts_us", LongType, nullable = false),
    StructField("v", DoubleType, nullable = false),
    StructField("t_us", LongType, nullable = false)))

  def writeLabels(spark: SparkSession, path: String, lab: Labels): Unit =
    write(spark, path, LabelSchema, rows(lab.ent.length)(i =>
      Row(lab.ent(i), lab.ts(i), i.toLong, (lab.ts(i) % 2).toInt)))

  /** Where [[writeHistories]] puts the history of `feature`. */
  def historyPath(dir: String, feature: String): String = s"$dir/hist/feature=$feature"

  /** Every history in one write job, one directory per feature. */
  def writeHistories(spark: SparkSession, dir: String, hists: Seq[(String, History)]): Unit = {
    val all = new java.util.ArrayList[Row]()
    for ((name, h) <- hists) {
      var e = 0
      while (e < h.nEnt) {
        var i = h.off(e)
        while (i < h.off(e + 1)) { all.add(Row(name, e.toLong, h.ts(i), h.v(i), h.ts(i))); i += 1 }
        e += 1
      }
    }
    val df = spark.createDataFrame(all, HistorySchema)
    df.select(col("feature"), col("entity_id"), expr("timestamp_micros(ts_us)").as("ts"), col("v"),
      expr("timestamp_micros(t_us)").as("t"))
      .write.mode("overwrite").partitionBy("feature").parquet(s"$dir/hist")
  }
}
