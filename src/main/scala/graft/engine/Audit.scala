package graft.engine

import java.time.Duration

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.errors.LeakageError
import graft.model._
import graft.util.Names

/** Temporal-leakage audit over an existing training dataset.
  * Two modes, mirroring `/root/reference/src/timefence/engine.py:1508-1872`:
  *
  *  - [[Audit.temporal]]: `featureTimeColumns` maps feature name ->
  *    its feature_time column in the dataset; leakage = rows where
  *    `feature_time >= label_time` (embargo-less invariant). Pure
  *    scan + one aggregation pass per dataset (the reference runs 4+
  *    queries per feature; we fold counts, max, median and null counts
  *    of ALL features into a single job).
  *
  *  - [[Audit.rebuild]]: recompute every feature from its source with
  *    the build engine's PIT join on a spine extracted from the
  *    dataset, then compare stored vs rebuilt values under
  *    numpy.allclose-style tolerance (atol=1e-10, rtol=1e-7 against
  *    the magnitude of the REBUILT value — engine.py:1784).
  */
object Audit {

  val DefaultAtol = 1e-10
  val DefaultRtol = 1e-7

  // severity thresholds (reference _constants.py:16-19)
  val HighPct = 0.05
  val MediumPct = 0.01
  val HighDays = 7
  val MediumDays = 1

  final case class FeatureAuditDetail(
      feature: String,
      leakyRows: Long,
      totalRows: Long,
      maxLeak: Option[Duration],
      medianLeak: Option[Duration],
      nullRows: Long,
      /** rebuild mode only: stored vs rebuilt mismatches per column */
      mismatches: Map[String, Long] = Map.empty
  ) {
    def leakPct: Double = if (totalRows == 0) 0.0 else leakyRows.toDouble / totalRows
    def severity: String =
      if (leakyRows == 0) "NONE"
      else if (leakPct > HighPct || maxLeak.exists(_.compareTo(Duration.ofDays(HighDays.toLong)) > 0)) "HIGH"
      else if (leakPct > MediumPct || maxLeak.exists(_.compareTo(Duration.ofDays(MediumDays.toLong)) >= 0)) "MEDIUM"
      else "LOW"
  }

  final case class AuditReport(
      totalRows: Long,
      details: Seq[FeatureAuditDetail],
      /** capped sample of violating rows (reference LIMIT 1000) */
      leakySample: Option[DataFrame]
  ) {
    def passed: Boolean = details.forall(d => d.leakyRows == 0 && d.mismatches.values.forall(_ == 0L))
    def assertClean(): Unit =
      if (!passed) {
        val bad = details.filterNot(d => d.leakyRows == 0 && d.mismatches.values.forall(_ == 0L))
          .map(d => s"${d.feature}: ${d.leakyRows} leaky rows (${d.severity})" +
            (if (d.mismatches.nonEmpty) s", mismatches=${d.mismatches}" else ""))
        throw new LeakageError("Temporal leakage detected — " + bad.mkString("; "))
      }
    def toJson: String = {
      def detail(d: FeatureAuditDetail): String =
        s"""{"feature":${q(d.feature)},"leaky_rows":${d.leakyRows},"total_rows":${d.totalRows},""" +
          s""""leak_pct":${d.leakPct},"severity":${q(d.severity)},""" +
          s""""max_leak_seconds":${d.maxLeak.map(_.getSeconds).getOrElse(0L)},""" +
          s""""median_leak_seconds":${d.medianLeak.map(_.getSeconds).getOrElse(0L)},""" +
          s""""null_rows":${d.nullRows}}"""
      s"""{"total_rows":$totalRows,"passed":$passed,"features":[${details.map(detail).mkString(",")}]}"""
    }
    private def q(s: String): String = "\"" + s.replace("\"", "\\\"") + "\""

    /** Write the JSON report to a file (reference `to_json(path)`,
      * engine.py:190-215). */
    def toJson(path: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), toJson)

    /** Self-contained HTML report (reference `to_html`,
      * engine.py:217-238). */
    def toHtml: String = {
      val rows = details.map { d =>
        val status = if (d.leakyRows == 0 && d.mismatches.values.forall(_ == 0L)) "CLEAN" else "LEAK"
        val color = if (status == "CLEAN") "#2ecc71" else "#e74c3c"
        s"<tr><td style='color:$color;font-weight:bold'>$status</td>" +
          s"<td>${escape(d.feature)}</td><td>${d.leakyRows}</td>" +
          f"<td>${d.leakPct * 100}%.1f%%</td><td>${d.severity}</td></tr>"
      }.mkString
      s"""<!DOCTYPE html>
         |<html><head><title>Graft Audit Report</title>
         |<style>body{font-family:monospace;max-width:800px;margin:40px auto;}
         |table{border-collapse:collapse;width:100%;}
         |th,td{border:1px solid #ddd;padding:8px;text-align:left;}
         |th{background:#f5f5f5;}</style></head>
         |<body><h1>Graft Temporal Audit Report</h1>
         |<p>Scanned $totalRows rows</p>
         |<table><tr><th>Status</th><th>Feature</th><th>Leaky Rows</th><th>%</th><th>Severity</th></tr>
         |$rows</table></body></html>""".stripMargin
    }

    def toHtml(path: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), toHtml)

    private def escape(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
  }

  /** Single-row stats frame for the temporal check — the lazily-planned
    * core shared by [[temporal]] and the driver's oracle queries.
    * Columns: `total_rows`, then per feature (sorted by name):
    * `{f}__leaky_rows`, `{f}__max_leak_us`, `{f}__median_leak_us`,
    * `{f}__null_rows`.
    */
  /** Normalize TIMESTAMP_NTZ to TIMESTAMP — `unix_micros` only accepts
    * the tz-aware type, and audited datasets written by other engines
    * (e.g. DuckDB) often carry naive timestamps. The cast interprets
    * naive values in the SESSION time zone, so it is value-preserving
    * only under UTC; [[requireConsistentTimestamps]] guards the one
    * case where a non-UTC session would silently skew leak detection
    * (a dataset MIXING aware and naive time columns — all-aware and
    * all-naive datasets shift both comparison sides equally). */
  private def tsNorm(c: Column): Column = c.cast("timestamp")

  private def sessionZoneRules(spark: SparkSession): Option[java.time.zone.ZoneRules] =
    try Some(java.time.ZoneId
      .of(spark.conf.get("spark.sql.session.timeZone")).normalized().getRules)
    catch { case _: Exception => None }

  private def isUtcSession(spark: SparkSession): Boolean =
    sessionZoneRules(spark).exists(r =>
      r.isFixedOffset && r.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0)

  /** A fixed-offset session zone (UTC, +02:00, …) shifts every NTZ cast
    * by the same constant, so leak DURATIONS are preserved; a DST zone
    * shifts by transition-dependent offsets and can skew durations or
    * flip sub-hour comparisons across a transition. */
  private def isFixedOffsetSession(spark: SparkSession): Boolean =
    sessionZoneRules(spark).exists(_.isFixedOffset)

  /** Mixing TIMESTAMP and TIMESTAMP_NTZ time columns is only
    * well-defined under a UTC session (the naive side would otherwise
    * be shifted by the session offset during normalization) — fail
    * loudly, exactly like Build.checkTimezone does at build time. */
  private def requireConsistentTimestamps(data: DataFrame, labelTime: String,
      featureTimeColumns: Map[String, String]): Unit = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val types = (labelTime +: featureTimeColumns.values.toSeq)
      .filter(c => data.columns.contains(c))
      .map(c => data.schema(c).dataType).toSet
    if (types.contains(TimestampType) && types.contains(TimestampNTZType) &&
        !isUtcSession(data.sparkSession))
      throw new graft.errors.TimezoneMismatchError(
        "Audit dataset mixes tz-aware (TIMESTAMP) and naive (TIMESTAMP_NTZ) time " +
          "columns in a non-UTC session — the naive side would be shifted by the " +
          "session offset.\n  Fix: set spark.sql.session.timeZone=UTC, or make all " +
          "audited time columns the same timestamp type.")
    // All-NTZ is safe only under a FIXED-offset session zone: tsNorm's
    // cast shifts both comparison sides equally there, but a DST zone
    // shifts values by transition-dependent offsets — label/feature
    // times straddling a transition would shift unequally, skewing leak
    // durations by up to the DST delta.
    if (types == Set[org.apache.spark.sql.types.DataType](TimestampNTZType) &&
        !isFixedOffsetSession(data.sparkSession))
      throw new graft.errors.TimezoneMismatchError(
        "Audit dataset uses naive (TIMESTAMP_NTZ) time columns in a session zone " +
          "with DST transitions — values straddling a transition would shift " +
          "unequally during normalization.\n  Fix: set " +
          "spark.sql.session.timeZone to a fixed offset (e.g. UTC).")
  }

  def temporalStats(
      data: DataFrame,
      labelTime: String,
      featureTimeColumns: Map[String, String],
      approxMedian: Boolean = false
  ): DataFrame = {
    requireConsistentTimestamps(data, labelTime, featureTimeColumns)
    val lt = tsNorm(col(labelTime))
    val feats = featureTimeColumns.toSeq.sortBy(_._1)
    val aggs: Seq[Column] = feats.flatMap { case (name, ftCol) =>
      val ft = tsNorm(col(ftCol))
      val leaky = ft.isNotNull && ft >= lt
      val leakUs = when(leaky, unix_micros(ft) - unix_micros(lt))
      Seq(
        sum(when(leaky, 1L).otherwise(0L)).as(s"${name}__leaky_rows"),
        max(leakUs).as(s"${name}__max_leak_us"),
        // exact interpolated median matches DuckDB MEDIAN; the approx
        // variant is the memory-bounded choice at cluster scale
        (if (approxMedian) percentile_approx(leakUs, lit(0.5), lit(10000)).cast("double")
         else percentile(leakUs, lit(0.5))).as(s"${name}__median_leak_us"),
        sum(when(ft.isNull, 1L).otherwise(0L)).as(s"${name}__null_rows")
      )
    }
    data.agg(count(lit(1)).as("total_rows"), aggs: _*)
  }

  /** Mode A: pure temporal check. One aggregation job for all mapped
    * columns + one capped sample job if anything leaked.
    */
  def temporal(
      data: DataFrame,
      labelTime: String,
      featureTimeColumns: Map[String, String],
      sampleLimit: Int = 1000,
      approxMedian: Boolean = false
  ): AuditReport = {
    val lt = tsNorm(col(labelTime))
    val feats = featureTimeColumns.toSeq.sortBy(_._1)
    val row = temporalStats(data, labelTime, featureTimeColumns, approxMedian).head()
    val total = row.getLong(0)
    val details = feats.zipWithIndex.map { case ((fname, _), i) =>
      val base = 1 + 4 * i
      val leaky = if (row.isNullAt(base)) 0L else row.getLong(base)
      val maxL =
        if (row.isNullAt(base + 1)) None
        else Some(Duration.ofSeconds(row.getLong(base + 1) / 1000000L))
      val medL =
        if (row.isNullAt(base + 2)) None
        else Some(Duration.ofSeconds((anyToDouble(row.get(base + 2)) / 1e6).toLong))
      val nulls = if (row.isNullAt(base + 3)) 0L else row.getLong(base + 3)
      FeatureAuditDetail(fname, leaky, total, maxL, medL, nulls)
    }
    val sample =
      if (details.exists(_.leakyRows > 0)) {
        val anyLeak = feats.map { case (_, ftCol) =>
          col(ftCol).isNotNull && tsNorm(col(ftCol)) >= lt
        }.reduce(_ || _)
        Some(data.filter(anyLeak).limit(sampleLimit))
      } else None
    AuditReport(total, details, sample)
  }

  private def anyToDouble(v: Any): Double = v match {
    case d: Double            => d
    case l: Long              => l.toDouble
    case i: Int               => i.toDouble
    case d: java.math.BigDecimal => d.doubleValue()
    case other                => other.toString.toDouble
  }

  /** Mode B: rebuild-and-compare. The spine is extracted from the
    * dataset itself with a one-shot rowid shared by both the rebuilt
    * and stored frames (positional-identity pitfall — SURVEY §7.3).
    */
  def rebuild(
      spark: SparkSession,
      data: DataFrame,
      features: Seq[Feature],
      keys: Seq[String],
      labelTime: String,
      options: BuildOptions = BuildOptions(),
      atol: Double = DefaultAtol,
      rtol: Double = DefaultRtol,
      sampleLimit: Int = 1000
  ): AuditReport = {
    // One rowid assigned ONCE on the loaded dataset; both the spine
    // and the stored-value comparison frame derive from this.
    val numbered = data.withColumn(Build.RowId, monotonically_increasing_id()).cache()
    var cmpCached: Option[DataFrame] = None
    // ANY failure past the cache() above — feature resolution, the
    // timezone guard, the aggregation action itself — must unpersist
    // this call's caches: a long-lived session audits many datasets
    // and leaked InMemoryRelations accumulate.
    try {
      val spine = numbered.select((Build.RowId +: keys :+ labelTime).map(col): _*)

      // Rebuild each feature joined to the spine.
      val sourceCacheM = scala.collection.mutable.Map.empty[String, DataFrame]
      val lbl = Labels.frame(
        spine.withColumn("__dummy_target", lit(1)),
        keys, labelTime, Seq("__dummy_target"))

      var compared = numbered
      val detailsB = features.map { f =>
        val feat = Build.computeFeature(spark, f, lbl, sourceCacheM)
        val rightKeys = keys.map(k => f.keyMapping.getOrElse(k, k))
        val valueCols = feat.df.columns.filterNot(c =>
          rightKeys.contains(c) || c == feat.timeCol).toSeq
        val right = graft.operators.AsOfJoin.Right(feat.df, rightKeys, feat.timeCol,
          valueCols, Seq(Names.featureTimeCol(f.name)))
        val rebuilt = graft.operators.AsOfJoin
          .join(spine, right, Build.joinSpec(lbl, f, options), options.strategy, options.autoConfig)
          .select(col(Build.RowId) +: col(Names.featureTimeCol(f.name)) +:
            valueCols.map(c => col(c).as(s"__rb__${Names.namespaced(f.name, c)}")): _*)
        compared = compared.join(rebuilt, Seq(Build.RowId), "left")
        f -> valueCols
      }

      val cmp = compared.cache()
      cmpCached = Some(cmp)
      // same normalization + guard temporal mode applies: a DuckDB-written
      // dataset carries TIMESTAMP_NTZ label times, which unix_micros
      // rejects raw; and mixed/NTZ columns under a non-UTC (or DST)
      // session must fail loudly, not silently skew leak durations
      requireConsistentTimestamps(cmp, labelTime,
        detailsB.map { case (f, _) => f.name -> Names.featureTimeCol(f.name) }.toMap)
      val lt = tsNorm(col(labelTime))
      // Stored column matching: namespaced `{f}__{col}` preferred, bare
      // `{col}` fallback (engine.py:1757-1771).
      val dataCols = data.columns.toSet
      val aggs = scala.collection.mutable.ArrayBuffer.empty[Column]
      val aggMeta = scala.collection.mutable.ArrayBuffer.empty[(String, String)] // feature, kind
      // predicates collected for the capped offending-row sample
      // (reference captures <=1000 mismatching rows in rebuild mode too,
      // engine.py:1800-1815)
      val offending = scala.collection.mutable.ArrayBuffer.empty[Column]
      detailsB.foreach { case (f, valueCols) =>
        val ft = tsNorm(col(Names.featureTimeCol(f.name)))
        val leaky = ft.isNotNull && ft >= lt
        offending += leaky
        val leakUs = when(leaky, unix_micros(ft) - unix_micros(lt))
        aggs += sum(when(leaky, 1L).otherwise(0L)); aggMeta += ((f.name, "leaky"))
        aggs += max(leakUs); aggMeta += ((f.name, "max"))
        aggs += percentile(leakUs, lit(0.5)); aggMeta += ((f.name, "med"))
        aggs += sum(when(ft.isNull, 1L).otherwise(0L)); aggMeta += ((f.name, "null"))
        valueCols.foreach { c =>
          val storedName =
            if (dataCols.contains(Names.namespaced(f.name, c))) Some(Names.namespaced(f.name, c))
            else if (dataCols.contains(c)) Some(c)
            else None
          storedName.foreach { sn =>
            val stored = col(sn)
            val rb = col(s"__rb__${Names.namespaced(f.name, c)}")
            val numeric = cmp.schema(sn).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
            val differs =
              if (numeric)
                abs(stored.cast("double") - rb.cast("double")) >
                  lit(atol) + lit(rtol) * abs(rb.cast("double"))
              else stored.cast("string") =!= rb.cast("string")
            val mismatch = (stored.isNull =!= rb.isNull) || (stored.isNotNull && rb.isNotNull && differs)
            offending += mismatch
            aggs += sum(when(mismatch, 1L).otherwise(0L)); aggMeta += ((f.name, s"mm:$sn"))
          }
        }
      }
      val row = cmp.agg(count(lit(1)), aggs.toSeq: _*).head()
      val total = row.getLong(0)
      def lngAt(i: Int): Long = if (row.isNullAt(i + 1)) 0L else row.getLong(i + 1)
      val byFeature = aggMeta.zipWithIndex.groupBy(_._1._1)
      val details = detailsB.map { case (f, _) =>
        val entries = byFeature(f.name)
        var leaky = 0L; var maxL: Option[Duration] = None; var nulls = 0L
        var medL: Option[Duration] = None
        val mms = scala.collection.mutable.Map.empty[String, Long]
        entries.foreach { case ((_, kind), i) =>
          kind match {
            case "leaky" => leaky = lngAt(i)
            case "max" =>
              if (!row.isNullAt(i + 1)) maxL = Some(Duration.ofSeconds(row.getLong(i + 1) / 1000000L))
            case "med" =>
              if (!row.isNullAt(i + 1))
                medL = Some(Duration.ofSeconds((anyToDouble(row.get(i + 1)) / 1e6).toLong))
            case "null" => nulls = lngAt(i)
            case mm if mm.startsWith("mm:") => mms(mm.drop(3)) = lngAt(i)
          }
        }
        FeatureAuditDetail(f.name, leaky, total, maxL, medL, nulls, mms.toMap)
      }
      // capped sample of offending rows (leaks OR value mismatches):
      // EAGERLY materialized as a local checkpoint (<= sampleLimit rows)
      // off the still-resident `cmp` cache. Handing out the lazy frame
      // instead would break on the unpersists below — Spark's
      // non-cascading uncache REBUILDS dependent cache entries, so the
      // caller's first read of a lazy sample would re-execute the whole
      // rebuild-compare from scratch.
      val sample =
        if (offending.nonEmpty &&
            details.exists(d => d.leakyRows > 0 || d.mismatches.values.exists(_ > 0)))
          Some(cmp.filter(offending.reduce(_ || _)).limit(sampleLimit).localCheckpoint())
        else None
      // nothing reads cmp/numbered again (the sample is RDD-backed):
      // release them, or every rebuild-audit in a long-lived session
      // leaks one InMemoryRelation
      cmp.unpersist()
      numbered.unpersist()
      AuditReport(total, details, sample)
    } catch {
      case t: Throwable =>
        cmpCached.foreach(_.unpersist())
        numbered.unpersist()
        throw t
    }
  }
}
