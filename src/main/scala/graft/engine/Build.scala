package graft.engine

import java.time.Duration

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.errors._
import graft.model._
import graft.operators.AsOfJoin
import graft.util.{Durations, Names}

/** Options governing a build — mirrors the reference's `build()`
  * parameter surface (`/root/reference/src/timefence/engine.py:933-1015`).
  */
final case class BuildOptions(
    join: String = "strict", // strict | inclusive
    onMissing: String = "null", // null | skip
    maxLookback: Duration = Duration.ofDays(365),
    flattenColumns: Boolean = false,
    splits: Seq[Split] = Nil,
    output: Option[String] = None,
    strategy: AsOfJoin.Strategy = AsOfJoin.Strategy.Auto,
    /** Eager duplicate (key,ts) detection per feature (engine.py:586-627).
      * An extra job per distinct source; disable for trusted inputs. */
    checkDuplicates: Boolean = true,
    /** Deterministic full sort of the result (reference O1). At cluster
      * scale flip off: a total sort is a range-shuffle you rarely want. */
    sortResult: Boolean = true,
    /** Optional build store: enables feature-level parquet caches for
      * path-backed sources and a build-level cache keyed on content
      * hashes + parameters (reference store.py:113-161). */
    store: Option[graft.store.Store] = None,
    /** Tuning for Strategy.Auto's hot-key skew probe (see
      * [[AsOfJoin.autoStrategy]]); defaults skip the probe entirely on
      * small feature sides. */
    autoConfig: AsOfJoin.AutoConfig = AsOfJoin.AutoConfig(),
    /** Stage callback `(stage, featureName)` — the Spark analog of the
      * reference's `build(progress=...)` message hook
      * (engine.py:945-958, driven by the rich bar in cli.py:629-668).
      * Stages: `load` / `compute <feature>` / `join <feature>` /
      * `write` / `verify` (featureName is "" for the non-feature
      * stages). `compute` and `join` fire at PLAN time (Spark builds
      * one lazy DAG — per-feature work has no per-feature action);
      * `write` and `verify` fire immediately before the action that
      * executes the plan, which is where the wall-clock goes. Must be
      * cheap and non-throwing; never invoked on a build-cache hit. */
    progress: (String, String) => Unit = BuildOptions.NoProgress
) {
  if (join != "strict" && join != "inclusive")
    throw Errors.config(s"Invalid join '$join'.", "Use 'strict' or 'inclusive'.")
  if (onMissing != "null" && onMissing != "skip")
    throw Errors.config(s"Invalid on_missing '$onMissing'.", "Use 'null' or 'skip'.")
}

object BuildOptions {
  /** The default no-op progress hook (identity-compared by
    * [[graft.Graft.build]]'s convenience overload). */
  val NoProgress: (String, String) => Unit = (_, _) => ()
}

/** Half-open time split `[start, end)` (engine.py:1386-1403). */
final case class Split(name: String, start: String, end: String)

final case class FeatureStats(
    name: String,
    matched: Long,
    missing: Long,
    violations: Long
)

final case class BuildResult(
    df: DataFrame,
    rows: Long,
    columns: Seq[String],
    features: Seq[FeatureStats],
    auditPassed: Boolean,
    warnings: Seq[String] = Nil,
    durationMs: Long = -1L
) {
  def validate(): BuildResult = {
    if (!auditPassed) {
      val bad = features.filter(_.violations > 0).map(f =>
        s"${f.name}: ${f.violations} violating rows").mkString("; ")
      throw new LeakageError(
        s"Post-build verification failed — temporal invariant violated. $bad")
    }
    this
  }

  /** Human summary, the reference `BuildResult.__str__`
    * (engine.py:82-100). */
  def render: String = {
    val sb = new StringBuilder(s"BuildResult: $rows rows, ${columns.size} columns\n")
    if (durationMs >= 0) sb.append(f"  Time: ${durationMs / 1000.0}%.1fs\n")
    features.foreach { f =>
      val total = f.matched + f.missing
      if (f.missing > 0)
        sb.append(s"  ${f.name}: ${f.matched}/$total matched (${f.missing} missing -> null)\n")
      else sb.append(s"  ${f.name}: ${f.matched}/$total matched\n")
    }
    sb.toString
  }

  /** The join logic actually planned — the Spark analog of the
    * reference's `explain()` returning its generated SQL
    * (engine.py:105-107): Catalyst's formatted physical plan. */
  def explain(): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** Notebook-style HTML summary (reference `_repr_html_`,
    * engine.py:109-140). */
  def toHtml: String = {
    val rowsHtml = features.map { f =>
      val total = f.matched + f.missing
      val status = if (f.missing == 0) "OK" else "OK (nulls)"
      s"<tr><td style='color:#2ecc71;font-weight:bold'>$status</td>" +
        s"<td>${f.name}</td><td>${f.matched}/$total</td><td>${f.missing}</td></tr>"
    }.mkString
    val auditStatus = if (auditPassed) "PASSED" else "FAILED"
    val auditColor = if (auditPassed) "#2ecc71" else "#e74c3c"
    s"<div style='font-family:monospace;max-width:700px'>" +
      s"<h3>Graft Build Result</h3>" +
      s"<p>$rows rows, ${columns.size} columns in ${durationMs / 1000.0}s</p>" +
      s"<p>Audit: <span style='color:$auditColor;font-weight:bold'>$auditStatus</span></p>" +
      s"<table style='border-collapse:collapse;width:100%'>" +
      s"<tr style='background:#f5f5f5'><th>Status</th><th>Feature</th><th>Matched</th><th>Missing</th></tr>" +
      s"$rowsHtml</table></div>"
  }
}

/** The point-in-time training-set builder.
  *
  * Spark-first lifecycle (vs the reference's temp-table pipeline,
  * SURVEY §3.1): steps 1-2 are driver-only validation; the label spine
  * and per-feature joins build ONE lazy DataFrame DAG; all per-feature
  * stats and invariant checks collapse into a single aggregation — an
  * Observation riding the output write when one is requested, so the
  * whole build is ONE job (the reference runs 3 queries per feature).
  */
object Build {

  val RowId: String = AsOfJoin.RowIdCol

  /** Stable definition string participating in cache keys. Transform
    * features contribute their explicit `version` (the JVM has no
    * inspect.getsource — SURVEY §7.3). */
  def featureDefinition(f: Feature): String = {
    val mode = f.mode match {
      // `columns-ns`: the cached projection carries namespaced output
      // names (`{feature}__{col}`); the tag keeps a store from serving an
      // entry written in the older bare-name layout
      case ColumnsMode(cols) => s"columns-ns:${cols.toSeq.sorted.mkString(",")}"
      case SqlMode(sql)      => s"sql:$sql"
      case TransformMode(_, v) => s"transform:v$v"
    }
    // The SOURCE SPEC must participate: editing `timestamp:` (or keys /
    // delimiter / the SQL query) in the config changes the computed
    // feature without changing the source file's content hash — without
    // these fields a store would silently serve a stale cached feature
    // computed under the old, point-in-time-DIFFERENT semantics.
    val src = f.source match {
      case s: Source =>
        s"src:${s.name}|k:${s.keys.mkString(",")}|t:${s.timestamp}|" +
          s"fmt:${s.path.map(_ => s.resolvedFormat.toString).getOrElse("df")}|" +
          s"d:${s.delimiter}"
      case q: SqlSource =>
        s"sqlsrc:${q.name}|k:${q.keys.mkString(",")}|t:${q.timestamp}|q:${q.query}"
      case other => s"othersrc:${other.name}|k:${other.keys.mkString(",")}|t:${other.timestamp}"
    }
    s"${f.name}|$mode|$src|${f.embargo.getSeconds}|" +
      s"${f.keyMapping.toSeq.sorted.mkString(",")}|" +
      s"${f.maxStaleness.map(_.getSeconds).getOrElse(-1L)}"
  }

  private def buildCacheKey(store: graft.store.Store, labels: Labels,
      features: Seq[Feature], options: BuildOptions): Option[String] = {
    val sourcePaths = features.map(_.source match {
      case s: Source => s.path
      case _         => None
    })
    for {
      lp <- labels.path
      if sourcePaths.forall(_.isDefined)
    } yield {
      val featKeys = features.zip(sourcePaths).map { case (f, sp) =>
        store.featureCacheKey(featureDefinition(f), store.contentHash(sp.get),
          f.embargo.getSeconds)
      }
      store.buildKey(store.contentHash(lp), featKeys,
        s"${options.join}|${options.onMissing}|${options.maxLookback.getSeconds}|" +
          s"${options.flattenColumns}|${labels.keys.mkString(",")}|${labels.labelTime}|" +
          s"${labels.target.mkString(",")}|" +
          // splits + sortResult change what lands on disk: a build that
          // adds splits must NOT hit the cache of one that didn't (the
          // split files were never written)
          s"${options.splits.map(s => s"${s.name}:${s.start}:${s.end}").mkString(";")}|" +
          s"${options.sortResult}")
    }
  }

  /** Build a point-in-time training set, in phases: validate → build
    * cache probe → label spine → [[units]] → [[batches]] → [[assemble]]
    * → stats + write → manifest. [[Audit.rebuild]] runs the units,
    * batches and assemble phases too, on its dataset's spine. */
  def apply(
      spark: SparkSession,
      labels: Labels,
      features: Seq[Feature],
      options: BuildOptions = BuildOptions()
  ): BuildResult = {
    val startedAt = System.nanoTime()
    validateFeatures(features, options)
    val cacheKey = options.store.flatMap(st =>
      buildCacheKey(st, labels, features, options))
    cachedBuild(spark, features, options, cacheKey).getOrElse {
      // ---- label spine ---------------------------------------------
      options.progress("load", "")
      val rawLabels = labels.resolve(spark)
      requireColumns("Labels", rawLabels, labels.keys ++ (labels.labelTime +: labels.target))
      validateSplits(options.splits)
      // The rowid is assigned ONCE; every downstream consumer (join,
      // verify) shares this numbering. Uniqueness is the only property
      // consumed (SURVEY §7.3) so the non-contiguous but shuffle-free
      // monotonically_increasing_id beats a global ROW_NUMBER() OVER ()
      // (a single-partition sort at scale).
      val spineBase = rawLabels
        .select(labels.keys.map(col) ++ Seq(col(labels.labelTime)) ++
          labels.target.map(col): _*)
        .withColumn(RowId, monotonically_increasing_id())

      val us = units(spark, labels.keys, features, options)
      us.foreach { u =>
        checkTimezone(labels, rawLabels, u.features.head, u.df)
        if (options.checkDuplicates && u.features.head.onDuplicate == OnDuplicate.Error)
          checkDuplicates(u.features.head, u.df, u.keys)
      }
      val bs = batches(us)
      // One batch reads the spine in exactly ONE linear subtree, where the
      // id assignment cannot diverge and materialization would be pure
      // overhead. Two or more branches → cache, so the ids are physically
      // assigned once even for order-unstable label inputs. cacheOnce: a
      // no-output build leaves this resident (see the release below), so
      // a repeated identical build reuses the live entry. OWNERSHIP: if
      // the entry was already resident — a previous no-output build of
      // the same config still backs ITS returned frame with it — this
      // build must not unpersist it on the way out (Spark's non-cascading
      // uncache would rebuild/discard the other result's dependent caches).
      val spineShared = bs.size > 1
      val spineWasResident = spineShared &&
        spineBase.storageLevel != org.apache.spark.storage.StorageLevel.NONE
      val spine = if (spineShared) graft.util.Caching.cacheOnce(spineBase) else spineBase
      val assembled = assemble(spine, bs, labels.keys, labels.labelTime, options)

      val outputCols = JoinUnit.outputColumns(us)
      val w = statsAndWrite(spark, labels, features, options, assembled,
        features.flatMap(f => outputCols(f.name)))
      // split gap / coverage warnings (engine.py:654-673)
      val warnings = splitWarnings(options.splits, w.labelRange)
      warnings.foreach(m => log.warn(m))
      val passed = w.stats.forall(_.violations == 0)

      for { st <- options.store; key <- cacheKey }
        saveManifest(spark, st, key, labels, features, options, w, passed, outputCols,
          us.filter(_.cached).flatMap(_.features.map(_.name)).toSet, startedAt)

      // When an output was written, the returned frame is the RE-READ
      // parquet (the reference's BuildResult points at the written output
      // the same way): lineage-free, nothing was ever cached. Without an
      // output the cache must stay resident — the returned df's
      // rowid-aligned lineage reads it (a recompute would re-derive
      // monotonically_increasing_id per branch).
      val finalDf = options.output match {
        case Some(out) => graft.sources.SchemaCache.parquet(spark, out)
        case None      => w.df
      }
      // release the spine cache only when the returned frame is the
      // lineage-free parquet re-read: in the no-output case the result's
      // resident cache DEPENDS on the spine plan, and Spark's
      // non-cascading uncache would rebuild that dependent entry —
      // discarding its materialized data, so the caller's first action
      // would re-run the whole build
      if (spineShared && options.output.isDefined && !spineWasResident)
        spine.unpersist()
      BuildResult(finalDf, w.rows, w.df.columns.toSeq, w.stats, passed, warnings,
        (System.nanoTime() - startedAt) / 1000000L)
    }
  }

  /** The build-level cache probe (engine.py:1017-1057): the manifest's
    * result when the store holds this exact build and its output is
    * still on disk unchanged. */
  private def cachedBuild(spark: SparkSession, features: Seq[Feature],
      options: BuildOptions, cacheKey: Option[String]): Option[BuildResult] =
    for {
      st <- options.store
      key <- cacheKey
      manifestText <- st.loadManifest(s"build_$key")
      // real JSON parse, not regex plucking: a path containing a
      // quote/backslash is escaped on write and must be UNescaped to
      // compare, and "rows" must not accidentally match "matched_rows"
      manifest <- graft.util.Jsons.parseObject(manifestText)
      out <- options.output
      // Store manifests live under a local .graft/ root, but the
      // DATA paths the probe verifies may be remote: Store.exists /
      // Store.contentHash speak scheme-d URIs via the Hadoop
      // FileSystem API (stat fingerprint — length + modificationTime
      // per file, the reference's own memo signature), so a build
      // whose labels/sources/output live on s3a/hdfs/abfs is cached
      // exactly like a local one.
      if st.exists(out)
      // the manifest must describe THIS output: same path, and the
      // parquet currently on disk must hash to what the build wrote —
      // otherwise (path reused by a different build, file overwritten)
      // the probe would return a foreign dataset stamped with this
      // manifest's audit_passed. On any mismatch, fall through to a
      // fresh build.
      manifestOut <- graft.util.Jsons.at(manifest, "output", "output_path")
        .collect { case s: String => s }
      if manifestOut == out
      manifestHash <- graft.util.Jsons.at(manifest, "output", "output_content_hash")
        .collect { case s: String => s }
      // guarded: the probe is a pure optimization, so a hash failure
      // (path deleted between exists() and here, transient remote-FS
      // error) must fall through to a fresh build, never crash it
      if (try manifestHash == st.contentHash(out)
          catch { case _: Exception => false })
      // every split output must still exist too — a deleted split file
      // would otherwise "succeed" without being regenerated
      if options.splits.forall(s =>
        st.exists(s"${out.stripSuffix(".parquet")}_${s.name}.parquet"))
    } yield {
      val df = graft.sources.SchemaCache.parquet(spark, out)
      val rows = graft.util.Jsons.at(manifest, "rows")
        .collect { case n: Long => n }.getOrElse(df.count())
      val passed = graft.util.Jsons.at(manifest, "audit_passed").contains(true)
      BuildResult(df, rows, df.columns.toSeq,
        features.map(f => FeatureStats(f.name, -1, -1, if (passed) 0 else -1)), passed)
    }

  private val FeatureTime = "feature_time"

  /** One right side of an as-of batch: a group of one or more features
    * on one source with the same join parameters, projected to its join
    * `keys`, `feature_time` and every feature's namespaced value columns
    * (`valueCols`, one list per feature). `cached` marks a frame served
    * from the store's feature cache. The group's embargo and staleness
    * travel with its right side. */
  private[engine] final case class JoinUnit(features: Seq[Feature], df: DataFrame,
      keys: Seq[String], valueCols: Seq[Seq[String]], cached: Boolean) {
    def right: AsOfJoin.Right = AsOfJoin.Right(df, keys, FeatureTime, valueCols.flatten,
      features.map(f => Names.featureTimeCol(f.name)),
      embargo = features.head.embargo, maxStaleness = features.head.maxStaleness)
  }

  private[engine] object JoinUnit {
    /** Feature name → its namespaced output columns, over all units. */
    def outputColumns(units: Seq[JoinUnit]): Map[String, Seq[String]] =
      units.flatMap(u => u.features.map(_.name).zip(u.valueCols)).toMap
  }

  /** The units phase: every feature lands in exactly one [[JoinUnit]].
    * ColumnsMode features on the same source with the same join
    * parameters merge into one unit — ONE projection of the source, so
    * "N features from one wide history table" cost one carry slot and
    * land on the same row. SQL and transform features are one unit each.
    * With a store nothing merges (its feature cache is keyed per
    * feature), and a path-backed feature's frame is served from or saved
    * to that cache. */
  private[engine] def units(spark: SparkSession, labelKeys: Seq[String],
      features: Seq[Feature], options: BuildOptions): Seq[JoinUnit] = {
    val sources = scala.collection.mutable.Map.empty[String, DataFrame]
    def mergeKey(f: Feature): Option[Any] = f.mode match {
      case _: ColumnsMode if options.store.isEmpty =>
        Some((f.source.name, f.keyMapping, f.embargo.getSeconds,
          f.maxStaleness.map(_.getSeconds).getOrElse(-1L), f.onDuplicate))
      case _ => None
    }
    val groups = features.zipWithIndex
      .groupBy { case (f, i) => mergeKey(f).getOrElse(i) }
      .values.toSeq.sortBy(_.head._2).map(_.map(_._1))
    groups.map { grp =>
      val f0 = grp.head
      grp.foreach(f => options.progress("compute", f.name))
      val keys = labelKeys.map(k => f0.keyMapping.getOrElse(k, k))
      val (frame, cached) = viaFeatureCache(spark, options, f0)(computeFeature(spark, grp,
        sources.getOrElseUpdate(f0.source.name, f0.source.resolve(spark))))
      requireColumns(s"Feature '${grp.map(_.name).mkString("+")}'", frame, keys :+ FeatureTime)
      // per feature: (column in `frame`, namespaced output name)
      val values: Seq[Seq[(String, String)]] = f0.mode match {
        case _: ColumnsMode =>
          grp.map(f => sortedCols(f).map(c => Names.namespaced(f.name, c._1)).map(n => n -> n))
        case _ =>
          Seq(frame.columns.toSeq.filterNot(c => keys.contains(c) || c == FeatureTime)
            .map(c => c -> Names.namespaced(f0.name, c)))
      }
      JoinUnit(grp,
        frame.select(keys.map(col) ++ Seq(col(FeatureTime)) ++
          values.flatten.map { case (in, out) => col(in).as(out) }: _*),
        keys, values.map(_.map(_._2)), cached)
    }
  }

  /** The store's per-feature cache: path-backed sources only (the key
    * needs a content hash). A hit reloads the materialized parquet, which
    * also truncates the lineage exactly like the reference's temp-table
    * materialization did; a miss saves `compute` first. */
  private def viaFeatureCache(spark: SparkSession, options: BuildOptions, f: Feature)(
      compute: => DataFrame): (DataFrame, Boolean) =
    (options.store, f.source) match {
      case (Some(st), s: Source) if s.path.isDefined =>
        val key = st.featureCacheKey(featureDefinition(f), st.contentHash(s.path.get),
          f.embargo.getSeconds)
        st.loadFeatureCache(spark, key) match {
          case Some(df) => (df, true)
          case None =>
            st.saveFeatureCache(compute, key)
            (graft.sources.SchemaCache.parquet(spark, st.featureCachePath(key)), false)
        }
      case _ => (compute, false)
    }

  /** Max value columns per carry batch (see [[batches]]). */
  private val MaxCarryColumns = 12

  /** The batch plan: units whose key and feature-time column types
    * agree share ONE [[AsOfJoin.join]], even across different sources
    * and under different embargoes and staleness limits (each right side
    * carries its own): under a carry strategy the N-feature build costs
    * one exchange instead of N, and the batch's features skip the rowid
    * re-join at assembly.
    *
    * Width cap: the carry's unioned frame pads every row to the batch's
    * FULL value-column set (UnsafeRow spends 8 bytes per slot, null or
    * not), and the carry window runs one aggregate per column over every
    * unioned row — so shuffle bytes and window CPU both grow as rows x
    * batch-width. Unbounded batching made a 1M x 50-feature build ~20x
    * slower than 1M x 10 (measured 70-280s vs 4s): 101M rows x 50 padded
    * slots. Greedily packing units into batches of at most
    * [[MaxCarryColumns]] value columns keeps each shuffle narrow while
    * preserving the few-shuffles win at small feature counts. A single
    * unit wider than the cap (merged same-source group, which pads
    * nothing) stays intact. Largest batch first. */
  private[engine] def batches(units: Seq[JoinUnit]): Seq[Seq[JoinUnit]] = {
    def packByWidth(us: Seq[JoinUnit]): Seq[Seq[JoinUnit]] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Seq[JoinUnit]]
      var cur = Seq.empty[JoinUnit]
      var width = 0
      us.foreach { u =>
        val w = u.valueCols.flatten.size
        if (cur.nonEmpty && width + w > MaxCarryColumns) {
          out += cur; cur = Seq(u); width = w
        } else { cur = cur :+ u; width += w }
      }
      if (cur.nonEmpty) out += cur
      out.toSeq
    }
    units.groupBy(u => (u.keys.map(k => u.df.schema(k).dataType),
      u.df.schema(FeatureTime).dataType))
      .values.toSeq.flatMap(packByWidth).sortBy(-_.size)
  }

  /** The assemble phase (J4): each batch joins as of `spine` — its
    * rowid, label keys and label time, plus whatever else the caller
    * carries. The first (largest) batch threads the FULL spine through
    * its join, so its features need no rowid re-join at all; every other
    * batch joins the narrow spine and left-joins back on the rowid. The
    * caller makes sure a spine read by two or more batches is
    * materialized once. */
  private[engine] def assemble(spine: DataFrame, batches: Seq[Seq[JoinUnit]],
      labelKeys: Seq[String], labelTime: String, options: BuildOptions): DataFrame = {
    val narrow = spine.select((RowId +: labelKeys :+ labelTime).map(col): _*)
    def join(us: Seq[JoinUnit], left: DataFrame): DataFrame = {
      us.foreach(_.features.foreach(f => options.progress("join", f.name)))
      // Auto probes the batch's unioned key histogram for a hot key
      // (size-gated — small batches skip the probe and pay nothing)
      AsOfJoin.join(left, us.map(_.right), joinSpec(labelKeys, labelTime, options),
        options.strategy, options.autoConfig)
    }
    batches.tail.foldLeft(join(batches.head, spine)) { (acc, us) =>
      val outs = us.map(_.right).flatMap(r => r.timeOuts ++ r.valueCols)
      acc.join(join(us, narrow).select((RowId +: outs).map(col): _*), Seq(RowId), "left")
    }
  }

  /** What the stats + write phase hands the manifest and the result. */
  private final case class Written(df: DataFrame, rows: Long, stats: Seq[FeatureStats],
      labelRange: Option[(java.sql.Timestamp, java.sql.Timestamp)])

  /** The stats + write phase: the final projection and (optional) write,
    * with all per-feature stats and invariant checks in ONE aggregation,
    * which rides the write whenever there is an output. */
  private def statsAndWrite(spark: SparkSession, labels: Labels, features: Seq[Feature],
      options: BuildOptions, assembled: DataFrame, valueCols: Seq[String]): Written = {
    val skipped =
      if (options.onMissing == "skip" && valueCols.nonEmpty)
        assembled.na.drop("any", valueCols)
      else assembled

    // ---- single-pass stats + invariant verification ----------------
    val lt = col(labels.labelTime)
    val statAggs: Seq[Column] = features.flatMap { f =>
      val ft = col(Names.featureTimeCol(f.name))
      val ltType = assembled.schema(labels.labelTime).dataType
      val upperRef = AsOfJoin.labelMinus(lt, ltType,
        AsOfJoin.timeType(ltType, assembled.schema(Names.featureTimeCol(f.name)).dataType),
        f.embargo)
      val violation =
        if (options.join == "inclusive") ft > upperRef else ft >= upperRef
      Seq(
        count(ft).as(s"__m_${f.safeName}"),
        sum(when(ft.isNotNull && violation, 1L).otherwise(0L))
          .as(s"__x_${f.safeName}")
      )
    }
    val aggCols: Seq[Column] = count(lit(1)).as("__n") +:
      (statAggs ++ Seq(min(lt).as("__lo"), max(lt).as("__hi")))
    def toTs(v: Any): java.sql.Timestamp = v match {
      case t: java.sql.Timestamp  => t
      case i: java.time.Instant   => java.sql.Timestamp.from(i)
      case d: java.time.LocalDateTime => java.sql.Timestamp.valueOf(d)
      case other => java.sql.Timestamp.valueOf(other.toString.replace("T", " "))
    }
    def decodeStats(df: DataFrame, m: Map[String, Any]): Written = {
      def lng(k: String): Long =
        m.get(k).flatMap(Option(_)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
      val n = lng("__n")
      val st = features.map { f =>
        val matched = lng(s"__m_${f.safeName}")
        FeatureStats(f.name, matched, n - matched, lng(s"__x_${f.safeName}"))
      }
      val range = for {
        lo <- m.get("__lo").flatMap(Option(_))
        hi <- m.get("__hi").flatMap(Option(_))
      } yield (toTs(lo), toTs(hi))
      Written(df, n, st, range)
    }

    // ---- final projection ------------------------------------------
    // the columns the output and the stats read: the rowid and anything
    // else the assembly carried stop here, before any cache or sort
    val outCols = labels.keys ++ Seq(labels.labelTime) ++ labels.target ++ valueCols
    val framed = skipped.select(
      (outCols ++ features.map(f => Names.featureTimeCol(f.name))).distinct.map(col): _*)
    def ordered(base: DataFrame): DataFrame =
      if (options.sortResult) base.orderBy((labels.keys :+ labels.labelTime).map(col): _*)
      else base
    def finishFrame(base: DataFrame): DataFrame = {
      val projected = base.select(outCols.map(col): _*)
      if (options.flattenColumns) flatten(projected) else projected
    }

    // ---- write + stats in ONE pass ---------------------------------
    // With an output, the stats/invariant aggregation rides the write
    // job as an Observation (CollectMetrics): the reference's "3 queries
    // per feature" collapse to zero extra jobs. Splits then filter the
    // WRITTEN parquet (label_time predicate pushdown) rather than
    // recomputing the join per split.
    //
    // A global orderBy samples its child to build range boundaries, so
    // everything below the sort executes twice per action. The
    // observation therefore sits ABOVE the sort (cached -> orderBy ->
    // observe -> project -> flatten -> write): the sampling pass never
    // reaches it and each row is counted once. A sorted output is cached
    // so that the sampling pass reads the cache instead of recomputing
    // every join; an unsorted one is computed exactly once, never cached.
    //
    // With no output, the returned df's lineage must read the
    // materialized rowids anyway: the frame is cached and aggregated
    // separately.
    def writeSplits(out: String): Unit = {
      if (options.splits.isEmpty) return
      // schema recorded at write time — re-open without an inference job
      val written = graft.sources.SchemaCache.parquet(spark, out)
      options.splits.foreach { s =>
        val part = written.filter(
          lt >= lit(s.start).cast("timestamp") && lt < lit(s.end).cast("timestamp"))
        val stem = out.stripSuffix(".parquet")
        part.write.mode("overwrite").parquet(s"${stem}_${s.name}.parquet")
      }
    }
    options.output match {
      case Some(out) =>
        val base = if (options.sortResult) framed.cache() else framed
        val obs = org.apache.spark.sql.Observation()
        val fused = finishFrame(ordered(base).observe(obs, aggCols.head, aggCols.tail: _*))
        options.progress("write", "")
        fused.write.mode("overwrite").parquet(out)
        graft.sources.SchemaCache.put(out, fused.schema)
        options.progress("verify", "") // the stats/invariant agg rode the write
        val w = decodeStats(fused, obs.get)
        writeSplits(out)
        if (options.sortResult) base.unpersist()
        w
      case None =>
        // cacheOnce: this cache backs the returned frame and stays
        // resident past the build, so re-running an identical
        // no-output build (bench reps) re-derives this exact plan —
        // reuse the live entry instead of re-issuing cache()
        val cached = graft.util.Caching.cacheOnce(framed)
        options.progress("verify", "")
        val row = cached.agg(aggCols.head, aggCols.tail: _*).head()
        decodeStats(finishFrame(ordered(cached)), row.getValuesMap[Any](row.schema.fieldNames.toSeq))
    }
  }

  /** The manifest phase (full parity with engine.py:1422-1489). */
  private def saveManifest(spark: SparkSession, st: graft.store.Store, key: String,
      labels: Labels, features: Seq[Feature], options: BuildOptions, w: Written,
      passed: Boolean, outputCols: Map[String, Seq[String]], cachedFeatures: Set[String],
      startedAt: Long): Unit = {
    import graft.util.Jsons
    import graft.util.Jsons.Raw
    val nowMs = System.currentTimeMillis()
    val createdAt = java.time.Instant.ofEpochMilli(nowMs).toString
    val buildId = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmss'Z'").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(nowMs))
    def pathSize(dir: String): Long = {
      if (dir.contains("://"))
        return try {
          val hp = new org.apache.hadoop.fs.Path(dir)
          hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .getContentSummary(hp).getLength
        } catch { case _: Exception => -1L }
      val p = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.exists(p)) -1L
      else {
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.walk(p)
        try s.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size(_)).sum
        finally s.close()
      }
    }
    val statsByName = w.stats.map(s => s.name -> s).toMap
    val featuresJson = Raw(features.map { f =>
      val srcHash = f.source match {
        case s: Source => s.path.map(st.contentHash)
        case _         => None
      }
      val fs = statsByName(f.name)
      Jsons.str(f.name) + ":" + Jsons.obj(
        "definition_hash" -> st.hashString(featureDefinition(f)),
        "source_content_hash" -> srcHash,
        "embargo_s" -> f.embargo.getSeconds,
        "matched_rows" -> fs.matched,
        "missing_rows" -> fs.missing,
        "violations" -> fs.violations,
        "output_columns" -> outputCols(f.name),
        "cached" -> cachedFeatures.contains(f.name))
    }.mkString("{", ",", "}"))
    val invariantOp = if (options.join == "strict") "<" else "<="
    st.saveManifest(s"build_$key", Jsons.obj(
      "graft_version" -> graft.Graft.Version,
      "build_id" -> buildId,
      "created_at" -> createdAt,
      "duration_seconds" -> (System.nanoTime() - startedAt) / 1e9,
      "build_key" -> key,
      "rows" -> w.rows,
      "audit_passed" -> passed,
      "labels" -> Raw(Jsons.obj(
        "path" -> labels.path,
        "content_hash" -> labels.path.map(st.contentHash),
        "row_count" -> w.rows,
        "time_range" -> w.labelRange.map { case (lo, hi) =>
          Seq(lo.toString, hi.toString) },
        "keys" -> labels.keys,
        "label_time_column" -> labels.labelTime,
        "target_columns" -> labels.target)),
      "features" -> featuresJson,
      "parameters" -> Raw(Jsons.obj(
        "max_lookback" -> Durations.format(options.maxLookback),
        "join" -> options.join,
        "on_missing" -> options.onMissing,
        "flatten_columns" -> options.flattenColumns,
        "sort_result" -> options.sortResult,
        "splits" -> options.splits.map(s => Raw(Jsons.obj(
          "name" -> s.name, "start" -> s.start, "end" -> s.end))))),
      "output" -> Raw(Jsons.obj(
        "output_path" -> options.output,
        "output_content_hash" -> options.output.map(st.contentHash),
        "row_count" -> w.rows,
        "column_count" -> w.df.columns.size,
        "file_size_bytes" -> options.output.map(pathSize))),
      "audit" -> Raw(Jsons.obj(
        "passed" -> passed,
        "invariant" -> s"feature_time $invariantOp label_time - embargo",
        "rows_checked" -> w.rows)),
      "columns" -> w.df.columns.toSeq,
      "environment" -> Raw(Jsons.obj(
        "spark_version" -> spark.version,
        "scala_version" -> scala.util.Properties.versionNumberString,
        "os" -> s"${sys.props.getOrElse("os.name", "?")} ${sys.props.getOrElse("os.arch", "")}"))))
  }

  private lazy val log = org.apache.log4j.Logger.getLogger(getClass)

  /** Warn (never fail) when splits leave gaps between one another or
    * fail to cover the label time range — mirrors the reference's
    * non-fatal split diagnostics. */
  def splitWarnings(splits: Seq[Split],
      labelRange: Option[(java.sql.Timestamp, java.sql.Timestamp)]): Seq[String] = {
    if (splits.isEmpty) return Nil
    val parsed = splits
      .map(s => (s.name, java.sql.Timestamp.valueOf(normalizeTs(s.start)),
        java.sql.Timestamp.valueOf(normalizeTs(s.end))))
      .sortBy(_._2.getTime)
    val gaps = parsed.sliding(2).collect {
      case Seq((n1, _, e1), (n2, s2, _)) if s2.after(e1) =>
        s"gap between split '$n1' (ends $e1) and '$n2' (starts $s2): labels in between land in no split"
    }.toSeq
    val coverage = labelRange.toSeq.flatMap { case (lo, hi) =>
      val before =
        if (lo.before(parsed.head._2))
          Seq(s"labels start at $lo but the first split '${parsed.head._1}' starts at ${parsed.head._2}")
        else Nil
      val after =
        if (!hi.before(parsed.last._3)) // half-open: end is exclusive
          Seq(s"labels end at $hi but the last split '${parsed.last._1}' ends (exclusive) at ${parsed.last._3}")
        else Nil
      before ++ after
    }
    gaps ++ coverage
  }

  /** The as-of parameters every feature shares, against labels keyed by
    * `labelKeys` at `labelTime`. */
  private def joinSpec(labelKeys: Seq[String], labelTime: String,
      options: BuildOptions): AsOfJoin.Spec =
    AsOfJoin.Spec(
      leftKeys = labelKeys,
      leftTime = labelTime,
      inclusive = options.join == "inclusive",
      maxLookback = Some(options.maxLookback))

  // ---- feature computation (3 modes) -------------------------------

  private def sortedCols(f: Feature): Seq[(String, String)] = f.mode match {
    case ColumnsMode(cols) => cols.toSeq.sortBy(_._1)
    case _                 => Nil
  }

  /** A unit's frame over source `src`, with a `feature_time` column. A
    * ColumnsMode group is ONE projection: the source keys, then every
    * feature's declared columns under their namespaced output names
    * (unique across features) — label-independent, so the store can
    * cache it. A SQL or transform feature (always a group of one)
    * computes its own frame. */
  private def computeFeature(spark: SparkSession, grp: Seq[Feature],
      src: DataFrame): DataFrame = {
    val f0 = grp.head
    f0.mode match {
      case _: ColumnsMode =>
        grp.foreach(f => requireColumns(s"Source '${f.source.name}'", src,
          f.source.keys ++ (f.source.timestamp +: sortedCols(f).map(_._2))))
        src.select(f0.source.keys.map(col) ++
          Seq(col(f0.source.timestamp).as(FeatureTime)) ++
          grp.flatMap(f => sortedCols(f).map { case (out, in) =>
            col(in).as(Names.namespaced(f.name, out))
          }): _*)
      case SqlMode(sql) =>
        val view = s"__src_${f0.safeName}"
        src.createOrReplaceTempView(view)
        spark.sql(sql.replace("{source}", view))
      case TransformMode(fn, _) =>
        fn(src)
    }
  }

  // ---- validation helpers ------------------------------------------

  private[engine] def validateFeatures(features: Seq[Feature], options: BuildOptions): Unit = {
    if (features.isEmpty)
      throw Errors.config("No features given.", "Pass at least one Feature.")
    val dup = features.groupBy(_.name).collect { case (n, fs) if fs.size > 1 => n }
    if (dup.nonEmpty)
      throw Errors.config(s"Duplicate feature names: ${dup.mkString(", ")}.",
        "Feature names must be unique.")
    val safeDup = features.groupBy(_.safeName).collect { case (n, fs) if fs.size > 1 =>
      s"$n <- ${fs.map(_.name).mkString(", ")}" }
    if (safeDup.nonEmpty)
      throw Errors.config(
        s"Feature names collide after sanitization: ${safeDup.mkString("; ")}.",
        "Rename features so sanitized identifiers are distinct.")
    // two distinct SourceLike instances sharing a name would silently
    // collide in the per-name source cache (the reference registers
    // sources by name too, engine.py:1119-1127 — but fails loudly here)
    val nameClash = features.map(_.source).distinct.groupBy(_.name)
      .collect { case (n, ss) if ss.size > 1 => n }
    if (nameClash.nonEmpty)
      throw Errors.config(
        s"Multiple distinct sources share name(s): ${nameClash.mkString(", ")}.",
        "Give each distinct source a unique name (sources are cached per name).")
    features.foreach { f =>
      if (f.embargo.compareTo(options.maxLookback) >= 0)
        throw Errors.config(
          s"Feature '${f.name}': embargo ${Durations.format(f.embargo)} must be < max_lookback ${Durations.format(options.maxLookback)}.",
          "Shrink embargo or grow max_lookback.")
      f.maxStaleness.foreach { st =>
        if (st.compareTo(f.embargo) <= 0)
          throw Errors.config(
            s"Feature '${f.name}': max_staleness ${Durations.format(st)} must be > embargo ${Durations.format(f.embargo)}.",
            "The staleness floor must leave a non-empty availability window.")
      }
      // an output named like a source key or the time column would
      // project two same-named columns (or shadow the carried
      // {f}__feature_time) and every later reference would die with an
      // ambiguous-reference AnalysisException
      f.mode match {
        case ColumnsMode(cols) =>
          val reserved = f.source.keys.toSet + FeatureTime
          cols.keys.filter(reserved).foreach(c =>
            throw Errors.config(
              s"Feature '${f.name}' output column '$c' collides with a join key " +
                "or 'feature_time'.",
              "Rename the output column in the columns mapping."))
        case _ => ()
      }
    }
  }

  def validateSplits(splits: Seq[Split]): Unit = {
    // names become file paths (<stem>_<name>.parquet): duplicates would
    // silently overwrite each other, separators would nest directories
    val dupNames = splits.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    if (dupNames.nonEmpty)
      throw Errors.config(s"Duplicate split names: ${dupNames.mkString(", ")}.",
        "Give every split a unique name.")
    splits.filterNot(_.name.matches("[A-Za-z0-9_.-]+")).foreach(s =>
      throw Errors.config(s"Split name '${s.name}' is not filename-safe.",
        "Use letters, digits, '_', '-', '.'"))
    val parsed = splits.map(s => (s, java.sql.Timestamp.valueOf(normalizeTs(s.start)),
      java.sql.Timestamp.valueOf(normalizeTs(s.end))))
    parsed.foreach { case (s, a, b) =>
      if (!a.before(b))
        throw Errors.config(s"Split '${s.name}' start >= end.", "Use start < end.")
    }
    val sorted = parsed.sortBy(_._2.getTime)
    sorted.sliding(2).foreach {
      case Seq((s1, _, e1), (s2, a2, _)) =>
        if (a2.before(e1))
          throw Errors.config(s"Splits '${s1.name}' and '${s2.name}' overlap.",
            "Split ranges must be disjoint.")
      case _ => ()
    }
  }

  private def normalizeTs(s: String): String =
    if (s.contains(" ") || s.contains("T")) s.replace("T", " ") else s + " 00:00:00"

  private def requireColumns(what: String, df: DataFrame, cols: Seq[String]): Unit = {
    val have = df.columns.toSet
    val missing = cols.distinct.filterNot(have)
    if (missing.nonEmpty) {
      val hints = missing.flatMap(m => suggest(m, df.columns.toIndexedSeq).map(s => s"'$m' -> did you mean '$s'?"))
      throw Errors.schema(
        s"$what is missing column(s): ${missing.mkString(", ")}. Available: ${df.columns.mkString(", ")}." +
          (if (hints.nonEmpty) s" ${hints.mkString(" ")}" else ""),
        "Check key/timestamp/column spellings against the table schema.")
    }
  }

  /** Closest-name hint for schema errors (reference errors.py:122-132
    * uses substring matching; we use substring + edit distance). */
  def suggest(name: String, available: Seq[String]): Option[String] = {
    val lower = name.toLowerCase
    val bySubstring = available.find(c =>
      c.toLowerCase.contains(lower) || lower.contains(c.toLowerCase))
    bySubstring.orElse {
      def dist(a: String, b: String): Int = {
        val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
        for (i <- 1 to a.length; j <- 1 to b.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
            d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        d(a.length)(b.length)
      }
      available.map(c => c -> dist(lower, c.toLowerCase)).filter(_._2 <= 3)
        .sortBy(_._2).headOption.map(_._1)
    }
  }

  private def checkTimezone(labels: Labels, rawLabels: DataFrame, f: Feature,
      feat: DataFrame): Unit = {
    val lt = rawLabels.schema(labels.labelTime).dataType
    val ft = feat.schema(FeatureTime).dataType
    val mismatch = (lt, ft) match {
      case (TimestampType, TimestampNTZType) => true
      case (TimestampNTZType, TimestampType) => true
      case _                                 => false
    }
    if (mismatch)
      throw new TimezoneMismatchError(
        s"Feature '${f.name}': timestamp timezone-awareness mismatch — labels '${labels.labelTime}' is $lt but feature time is $ft.\n" +
          "  Fix: make both tz-aware (TIMESTAMP) or both naive (TIMESTAMP_NTZ).")
  }

  private def checkDuplicates(f: Feature, df: DataFrame, keys: Seq[String]): Unit = {
    val dups = df.groupBy((keys :+ FeatureTime).map(col): _*).count()
      .filter(col("count") > 1)
    val top = dups.orderBy(col("count").desc).limit(3).collect()
    if (top.nonEmpty) {
      val total = dups.count()
      val examples = top.map(r =>
        keys.indices.map(i => s"${keys(i)}=${r.get(i)}").mkString(",") +
          s" @ ${r.get(keys.size)} ×${r.getLong(keys.size + 1)}").mkString("; ")
      throw new DuplicateRowsError(
        s"Feature '${f.name}': $total duplicate (key, timestamp) group(s), e.g. $examples.\n" +
          "  Fix: deduplicate upstream or set on_duplicate=keep_any.")
    }
  }

  /** Strip `{feature}__` prefixes when the short names are globally
    * unique (engine.py:1281-1304); keep namespaced otherwise.
    */
  def flatten(df: DataFrame): DataFrame = {
    // EVERY output column is shortened at its first "__", exactly like
    // the reference (engine.py:1282-1304) — including label/passthrough
    // columns that happen to contain "__" — and one conflict anywhere
    // disables flattening entirely
    def short(c: String): String =
      if (c.contains("__")) c.split("__", 2)(1) else c
    val all = df.columns.map(short).toSeq
    if (all.size != all.distinct.size) df
    else df.toDF(all: _*)
  }
}
