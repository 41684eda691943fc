package graft.engine

import java.time.Duration

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.errors.LeakageError
import graft.model._
import graft.util.{Jsons, Names}

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
    def toJson: String =
      Jsons.obj("total_rows" -> totalRows, "passed" -> passed,
        "features" -> details.map(d => Jsons.Raw(Jsons.obj(
          "feature" -> d.feature,
          "leaky_rows" -> d.leakyRows,
          "total_rows" -> d.totalRows,
          "leak_pct" -> d.leakPct,
          "severity" -> d.severity,
          "max_leak_seconds" -> d.maxLeak.map(_.getSeconds).getOrElse(0L),
          "median_leak_seconds" -> d.medianLeak.map(_.getSeconds).getOrElse(0L),
          "null_rows" -> d.nullRows,
          "mismatches" -> Jsons.Raw(Jsons.obj(d.mismatches.toSeq.sortBy(_._1): _*))))))

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
    val aggs = featureTimeColumns.toSeq.sortBy(_._1).flatMap { case (name, ftCol) =>
      leakAggs(name, col(ftCol), lt, approxMedian)
    }
    data.agg(count(lit(1)).as("total_rows"), aggs: _*)
  }

  /** The four per-feature leak aggregates over feature time `ft` and the
    * normalized label time `lt`: leaky rows (`ft >= lt`), max and median
    * leak in microseconds, null feature times. [[leakDetail]] decodes
    * them. */
  private def leakAggs(name: String, ft: Column, lt: Column,
      approxMedian: Boolean): Seq[Column] = {
    val t = tsNorm(ft)
    val leaky = leaks(ft, lt)
    val leakUs = when(leaky, unix_micros(t) - unix_micros(lt))
    Seq(
      sum(when(leaky, 1L).otherwise(0L)).as(s"${name}__leaky_rows"),
      max(leakUs).as(s"${name}__max_leak_us"),
      // exact interpolated median matches DuckDB MEDIAN; the approx
      // variant is the memory-bounded choice at cluster scale
      (if (approxMedian) percentile_approx(leakUs, lit(0.5), lit(10000)).cast("double")
       else percentile(leakUs, lit(0.5))).as(s"${name}__median_leak_us"),
      sum(when(t.isNull, 1L).otherwise(0L)).as(s"${name}__null_rows"))
  }

  /** A leak: feature time `ft` at or after the normalized label time. */
  private def leaks(ft: Column, lt: Column): Column = tsNorm(ft).isNotNull && tsNorm(ft) >= lt

  /** The [[leakAggs]] of feature `name` read back from `row` at `base`. */
  private def leakDetail(name: String, row: Row, base: Int, total: Long,
      mismatches: Map[String, Long] = Map.empty): FeatureAuditDetail = {
    def lng(i: Int): Long = if (row.isNullAt(i)) 0L else row.getLong(i)
    val maxL =
      if (row.isNullAt(base + 1)) None
      else Some(Duration.ofSeconds(row.getLong(base + 1) / 1000000L))
    val medL =
      if (row.isNullAt(base + 2)) None
      else Some(Duration.ofSeconds((anyToDouble(row.get(base + 2)) / 1e6).toLong))
    FeatureAuditDetail(name, lng(base), total, maxL, medL, lng(base + 3), mismatches)
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
      leakDetail(fname, row, 1 + 4 * i, total)
    }
    val sample =
      if (details.exists(_.leakyRows > 0)) {
        val anyLeak = feats.map { case (_, ftCol) => leaks(col(ftCol), lt) }.reduce(_ || _)
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

  /** Mode B: rebuild-and-compare. Every feature is recomputed from its
    * source through the build's own phases — [[Build.units]],
    * [[Build.batches]], [[Build.assemble]] — on a spine extracted from
    * the dataset with a one-shot rowid shared by the rebuilt and stored
    * frames (positional-identity pitfall — SURVEY §7.3), and the rebuilt
    * frame joins the stored one once, on that rowid. Build-only checks
    * (timestamp types, duplicate keys) and the store's feature cache stay
    * out: a rebuild reads sources.
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
    Build.validateFeatures(features, options)
    // One rowid assigned ONCE on the loaded dataset; both the spine
    // and the stored-value comparison frame derive from this.
    val numbered = data.withColumn(Build.RowId, monotonically_increasing_id()).cache()
    var cmpCached: Option[DataFrame] = None
    // ANY failure past the cache() above — feature resolution, the
    // timezone guard, the aggregation action itself — must unpersist
    // this call's caches: a long-lived session audits many datasets
    // and leaked InMemoryRelations accumulate.
    try {
      val units = Build.units(spark, keys, features, options.copy(store = None))
      val rebuilt = Build.assemble(
        numbered.select((Build.RowId +: keys :+ labelTime).map(col): _*),
        Build.batches(units), keys, labelTime, options)
      val valueColsOf = Build.JoinUnit.outputColumns(units)
      val cmp = numbered.join(
        rebuilt.select(col(Build.RowId) +: features.flatMap(f =>
          col(Names.featureTimeCol(f.name)) +:
            valueColsOf(f.name).map(c => col(c).as(s"__rb__$c"))): _*),
        Seq(Build.RowId), "left").cache()
      cmpCached = Some(cmp)
      // same normalization + guard temporal mode applies: a DuckDB-written
      // dataset carries TIMESTAMP_NTZ label times, which unix_micros
      // rejects raw; and mixed/NTZ columns under a non-UTC (or DST)
      // session must fail loudly, not silently skew leak durations
      requireConsistentTimestamps(cmp, labelTime,
        features.map(f => f.name -> Names.featureTimeCol(f.name)).toMap)
      val lt = tsNorm(col(labelTime))
      // per feature: (stored column, rebuilt column) pairs. Stored column
      // matching: namespaced `{f}__{col}` preferred, bare `{col}` fallback
      // (engine.py:1757-1771).
      val dataCols = data.columns.toSet
      val compared = features.map { f =>
        f -> valueColsOf(f.name).flatMap { c =>
          Seq(c, c.stripPrefix(s"${f.name}__")).find(dataCols).map(_ -> s"__rb__$c")
        }
      }
      def mismatch(storedName: String, rebuiltName: String): Column = {
        val (stored, rb) = (col(storedName), col(rebuiltName))
        val differs =
          if (cmp.schema(storedName).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
            abs(stored.cast("double") - rb.cast("double")) >
              lit(atol) + lit(rtol) * abs(rb.cast("double"))
          else stored.cast("string") =!= rb.cast("string")
        (stored.isNull =!= rb.isNull) || (stored.isNotNull && rb.isNotNull && differs)
      }
      // per feature: its leak aggregates, then one mismatch count per pair
      val aggs = compared.flatMap { case (f, pairs) =>
        leakAggs(f.name, col(Names.featureTimeCol(f.name)), lt, approxMedian = false) ++
          pairs.map { case (sn, rb) => sum(when(mismatch(sn, rb), 1L).otherwise(0L)) }
      }
      val row = cmp.agg(count(lit(1)), aggs: _*).head()
      val total = row.getLong(0)
      val bases = compared.scanLeft(1) { case (b, (_, pairs)) => b + 4 + pairs.size }
      val details = compared.zip(bases).map { case ((f, pairs), b) =>
        leakDetail(f.name, row, b, total, pairs.zipWithIndex.map { case ((sn, _), j) =>
          sn -> (if (row.isNullAt(b + 4 + j)) 0L else row.getLong(b + 4 + j))
        }.toMap)
      }
      // capped sample of offending rows (leaks OR value mismatches; the
      // reference captures <=1000 mismatching rows in rebuild mode too,
      // engine.py:1800-1815), collected off the still-resident `cmp`
      // cache into a local frame: a lazy sample would re-run the whole
      // rebuild-compare after the unpersists below, and a checkpointed
      // one would stay persisted for the life of the session
      val sample =
        if (details.exists(d => d.leakyRows > 0 || d.mismatches.values.exists(_ > 0))) {
          val offending = compared.flatMap { case (f, pairs) =>
            leaks(col(Names.featureTimeCol(f.name)), lt) +: pairs.map((mismatch _).tupled)
          }.reduce(_ || _)
          val rows = cmp.filter(offending).limit(sampleLimit).collect()
          Some(spark.createDataFrame(java.util.Arrays.asList(rows: _*), cmp.schema))
        } else None
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
