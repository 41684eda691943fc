package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Dataset diff — compare two builds on a composite natural key
  * (keys + label_time), reporting schema drift and per-column value
  * changes under numeric tolerance.
  * Mirrors `/root/reference/src/timefence/engine.py:1972-2089`, but
  * folds the reference's per-column COUNT queries into one aggregation
  * pass over a single inner join, whose inputs also count their own rows
  * (one action per diff).
  */
object Diff {

  final case class ColumnDiff(
      column: String,
      changed: Long,
      nullTransitions: Long,
      meanDelta: Option[Double],
      maxAbsDelta: Option[Double]
  )

  final case class DiffResult(
      oldRows: Long,
      newRows: Long,
      commonRows: Long,
      addedColumns: Seq[String],
      removedColumns: Seq[String],
      columns: Seq[ColumnDiff]
  ) {
    def identical: Boolean =
      // commonRows must equal BOTH sides: equal counts with different
      // key sets (a row replaced by another) is not identical — the
      // per-column counters only see the inner join and would all be 0
      oldRows == newRows && commonRows == oldRows &&
        addedColumns.isEmpty && removedColumns.isEmpty &&
        columns.forall(c => c.changed == 0 && c.nullTransitions == 0)
  }

  /** Lazily-planned single-row stats frame over the inner join of the
    * two datasets. Columns: `common_rows`, then per common column
    * (sorted): `{c}__changed`, `{c}__null_transitions`,
    * `{c}__mean_delta`, `{c}__max_abs_delta`. Shared by [[apply]] and
    * the driver's oracle queries.
    */
  def comparisonFrame(
      oldDf: DataFrame,
      newDf: DataFrame,
      keys: Seq[String],
      labelTime: String,
      atol: Double = Audit.DefaultAtol,
      rtol: Double = Audit.DefaultRtol
  ): DataFrame = {
    val joinCols = keys :+ labelTime
    val common = commonColumns(oldDf, newDf, joinCols)
    val o = oldDf.select(joinCols.map(col) ++ common.map(c => col(c).as(s"__o_$c")): _*)
    val n = newDf.select(joinCols.map(col) ++ common.map(c => col(c).as(s"__n_$c")): _*)
    val j = o.join(n, joinCols, "inner")

    val aggs: Seq[Column] = common.flatMap { c =>
      val ov = col(s"__o_$c")
      val nv = col(s"__n_$c")
      val numeric = oldDf.schema(c).dataType.isInstanceOf[NumericType] &&
        newDf.schema(c).dataType.isInstanceOf[NumericType]
      // IS DISTINCT FROM gate (F4): `!(a <=> b)`
      val distinctFrom = !(ov <=> nv)
      val changed =
        if (numeric)
          ov.isNotNull && nv.isNotNull &&
            abs(ov.cast("double") - nv.cast("double")) >
              lit(atol) + lit(rtol) * abs(nv.cast("double"))
        else ov.isNotNull && nv.isNotNull && ov.cast("string") =!= nv.cast("string")
      val nullTrans = ov.isNull =!= nv.isNull
      val deltaAggs =
        if (numeric) {
          val delta = when(distinctFrom && ov.isNotNull && nv.isNotNull,
            nv.cast("double") - ov.cast("double"))
          Seq(avg(delta).as(s"${c}__mean_delta"), max(abs(delta)).as(s"${c}__max_abs_delta"))
        } else Seq(
          lit(null).cast("double").as(s"${c}__mean_delta"),
          lit(null).cast("double").as(s"${c}__max_abs_delta"))
      Seq(
        sum(when(changed, 1L).otherwise(0L)).as(s"${c}__changed"),
        sum(when(nullTrans, 1L).otherwise(0L)).as(s"${c}__null_transitions")
      ) ++ deltaAggs
    }
    j.agg(count(lit(1)).as("common_rows"), aggs: _*)
  }

  private def commonColumns(oldDf: DataFrame, newDf: DataFrame,
      joinCols: Seq[String]): Seq[String] =
    ((oldDf.columns.toSet -- joinCols) & (newDf.columns.toSet -- joinCols)).toSeq.sorted

  def apply(
      oldDf: DataFrame,
      newDf: DataFrame,
      keys: Seq[String],
      labelTime: String,
      atol: Double = Audit.DefaultAtol,
      rtol: Double = Audit.DefaultRtol
  ): DiffResult = {
    val joinCols = keys :+ labelTime
    val oldCols = oldDf.columns.toSet -- joinCols
    val newCols = newDf.columns.toSet -- joinCols
    val added = (newCols -- oldCols).toSeq.sorted
    val removed = (oldCols -- newCols).toSeq.sorted
    val common = commonColumns(oldDf, newDf, joinCols)

    // each input counts its rows as it streams into the join: two
    // Observations on the one action instead of two more count() jobs
    val oldObs = Observation()
    val newObs = Observation()
    def observed(df: DataFrame, obs: Observation) = df.observe(obs, count(lit(1)).as("rows"))
    val row = comparisonFrame(observed(oldDf, oldObs), observed(newDf, newObs),
      keys, labelTime, atol, rtol).head()
    // an input the plan never ran (the join was proven empty without it)
    // reports no metrics: every such side is counted in ONE more query
    val seen = Seq(oldObs, newObs).map(_.get.get("rows").map(_.asInstanceOf[Long]))
    val unseen = Seq(oldDf, newDf).zip(seen).collect { case (df, None) => df.agg(count(lit(1))) }
    val counted = unseen.reduceOption(_ crossJoin _)
      .fold(Iterator.empty[Long])(_.head().toSeq.iterator.map(_.asInstanceOf[Long]))
    val Seq(oldRows, newRows) = seen.map(_.getOrElse(counted.next()))
    val commonRows = row.getLong(0)
    val colDiffs = common.zipWithIndex.map { case (c, i) =>
      val base = 1 + 4 * i
      def lng(k: Int): Long = if (row.isNullAt(k)) 0L else row.getLong(k)
      def dbl(k: Int): Option[Double] =
        if (row.isNullAt(k)) None else Some(row.getDouble(k))
      ColumnDiff(c, lng(base), lng(base + 1), dbl(base + 2), dbl(base + 3))
    }

    DiffResult(oldRows, newRows, commonRows, added, removed, colDiffs)
  }
}
