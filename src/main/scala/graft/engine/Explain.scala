package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.model._
import graft.operators.AsOfJoin
import graft.util.Durations

/** Dry-run plan rendering: executes NO joins (the reference only counts
  * labels and renders the per-feature window plan,
  * `/root/reference/src/timefence/engine.py:1880-1964`).
  */
object Explain {

  final case class FeaturePlan(
      feature: String,
      source: String,
      mode: String,
      strategy: String,
      window: String,
      embargo: String,
      staleness: Option[String],
      joinCondition: String,
      /** Per-label lookup SQL the join is equivalent to
        * (engine.py:1929-1947 renders the same preview). */
      exampleSql: String
  )

  final case class ExplainResult(
      labelRows: Long,
      labelColumns: Seq[String],
      plans: Seq[FeaturePlan]
  ) {
    def render: String = {
      val sb = new StringBuilder
      sb.append(s"Labels: $labelRows rows (${labelColumns.mkString(", ")})\n")
      plans.foreach { p =>
        sb.append(s"Feature ${p.feature} <- ${p.source} [${p.mode}] strategy=${p.strategy}\n")
        sb.append(s"  join: ${p.joinCondition}\n")
        sb.append(s"  window: ${p.window}  embargo: ${p.embargo}")
        p.staleness.foreach(s => sb.append(s"  staleness: $s"))
        sb.append('\n')
        sb.append(p.exampleSql.linesIterator.map("    " + _).mkString("", "\n", "\n"))
      }
      sb.toString
    }
  }

  def apply(
      spark: SparkSession,
      labels: Labels,
      features: Seq[Feature],
      options: BuildOptions = BuildOptions()
  ): ExplainResult = {
    val lblDf = labels.resolve(spark)
    val labelRows = lblDf.count()
    val op = if (options.join == "inclusive") "]" else ")"
    val plans = features.map { f =>
      val modeStr = f.mode match {
        case _: ColumnsMode   => "columns"
        case _: SqlMode       => "sql"
        case _: TransformMode => "transform"
      }
      val strat = options.strategy match {
        case AsOfJoin.Strategy.RowNumber => "row_number"
        case AsOfJoin.Strategy.UnionAsOfSegmented(b) =>
          s"union_asof_segmented(${Durations.format(b)})"
        case _ => "union_asof"
      }
      val cmpOp = if (options.join == "inclusive") "<=" else "<"
      val embargoStr = Durations.format(f.embargo)
      val lookbackStr = Durations.format(options.maxLookback)
      // the build floors feature_time at BOTH label_time - lookback and
      // label_time - max_staleness; the window shows the tighter one
      val staleStr = f.maxStaleness.map(Durations.format)
      val floorStr = f.maxStaleness.filter(_.compareTo(options.maxLookback) < 0)
        .fold(lookbackStr)(Durations.format)
      val joinCond =
        if (f.embargo.isZero) s"feature_time $cmpOp label_time"
        else s"feature_time $cmpOp label_time - INTERVAL '$embargoStr'"
      val sourceRef = f.source match {
        case s: Source => s.path.getOrElse(s.name)
        case s         => s.name
      }
      val ts = f.source.timestamp
      // one equality predicate per label key, each mapped through
      // the feature's keyMapping — a composite-key feature's
      // example must show the full lookup, like the actual join
      val keyCols = labels.keys.map(k => f.keyMapping.getOrElse(k, k))
      val keyPreds = keyCols.zipWithIndex
        .map { case (k, i) => s"$k = {K${i + 1}}" }.mkString(" AND ")
      val embargoClause =
        if (f.embargo.isZero) "" else s" - INTERVAL '$embargoStr'"
      def lookupTail(tsCol: String) = {
        val staleFloor = staleStr.fold("")(st => s"\n  AND $tsCol >= {T} - INTERVAL '$st'")
        s"""WHERE $keyPreds
           |  AND $tsCol $cmpOp {T}$embargoClause
           |  AND $tsCol >= {T} - INTERVAL '$lookbackStr'$staleFloor
           |ORDER BY $tsCol DESC
           |LIMIT 1""".stripMargin
      }
      val exampleSql = f.mode match {
        case ColumnsMode(cols) =>
          s"""SELECT ${keyCols.mkString(", ")}, $ts AS feature_time, ${cols.values.toSeq.sorted.mkString(", ")}
             |FROM '$sourceRef'
             |${lookupTail(ts)}""".stripMargin
        case SqlMode(sql) =>
          // FULL example: the user's query verbatim (multi-line body
          // indented), {source} resolved to the actual source the build
          // substitutes (engine.py:744), and the same parameterized
          // per-label lookup columns mode shows — not an elided "...".
          //
          // The lookup tail references 'feature_time' and the
          // keyMapping-resolved label keys, which a sql-mode query must
          // emit itself — VERIFY that against the query's resolved
          // schema (analysis only, no job: explain stays a dry run)
          // rather than render an example that would not execute.
          val body = sql.trim.replace("{source}", s"'$sourceRef'")
            .linesIterator.mkString("\n  ")
          val needed = "feature_time" +: keyCols
          // None = the query/source could not be analyzed here (e.g.
          // files missing at explain time); Some(missing) = resolved
          val missingCols: Option[Seq[String]] =
            try {
              // unique suffix: createOrReplaceTempView on a fixed name
              // would silently destroy a pre-existing user view of the
              // same name — a dry run must not mutate catalog state
              val view = s"__explain_src_${f.safeName}_${
                java.util.UUID.randomUUID().toString.take(8)}"
              f.source.resolve(spark).createOrReplaceTempView(view)
              try {
                val q = sql.replace("{source}", view)
                // spark.sql EXECUTES command statements eagerly — a
                // user-supplied INSERT/DROP/SET here would mutate state
                // at explain time (and type-denylisting the parsed plan
                // misses mutators that parse to plain LogicalPlans,
                // e.g. INSERT OVERWRITE DIRECTORY). Run ONLY the
                // analyzer: QueryExecution.analyzed resolves the plan
                // without touching commandExecuted, so nothing runs for
                // any statement type; explain stays a dry run.
                val analyzed = spark.sessionState
                  .executePlan(spark.sessionState.sqlParser.parsePlan(q)).analyzed
                // resolution is case-insensitive unless
                // spark.sql.caseSensitive: the contract check must
                // match the build's actual resolution rules
                val cs = spark.sessionState.conf.caseSensitiveAnalysis
                def norm(c: String) =
                  if (cs) c else c.toLowerCase(java.util.Locale.ROOT)
                val out = analyzed.output.map(a => norm(a.name)).toSet
                Some(needed.filterNot(c => out(norm(c))))
              } finally { spark.catalog.dropTempView(view); () }
            } catch { case _: Exception => None }
          val head =
            s"""WITH feature AS (
               |  $body
               |)
               |SELECT *
               |FROM feature""".stripMargin
          missingCols match {
            case Some(Seq()) => s"$head\n${lookupTail("feature_time")}"
            case Some(missing) =>
              // the build would fail on the same contract — say so
              // instead of rendering a non-executable lookup
              s"""$head
                 |-- per-label lookup omitted: the query's output is missing
                 |-- column(s): ${missing.mkString(", ")} (required by the
                 |-- point-in-time lookup; the build enforces the same contract)""".stripMargin
            case None =>
              s"""$head
                 |-- assumes the query emits: ${needed.mkString(", ")}
                 |${lookupTail("feature_time")}""".stripMargin
          }
        case TransformMode(_, v) =>
          s"-- DataFrame transform (cache version $v)"
      }
      FeaturePlan(
        f.name,
        f.source.name,
        modeStr,
        strat,
        s"[label_time - $floorStr, label_time - $embargoStr$op",
        embargoStr,
        staleStr,
        joinCond,
        exampleSql
      )
    }
    ExplainResult(labelRows, lblDf.columns.toSeq, plans)
  }
}
