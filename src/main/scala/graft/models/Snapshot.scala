package graft.models

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD-2 snapshot semantics — the dbt `snapshots/` capability slot
  * (reference dbt_project.yml:20, directory empty: standard dbt snapshot
  * behavior is the spec).
  *
  * Two entry points, matching dbt's two strategies:
  *
  *  - [[scd2History]] (timestamp strategy, retroactive): rebuild the full
  *    validity history from a change stream that carries its own ordering
  *    column. One window per key — a single hash-partition shuffle on the
  *    snapshot key, no joins; scales linearly as long as no single key's
  *    history exceeds an executor (snapshot keys are business keys, so
  *    cardinality is high and per-key history small).
  *
  *  - [[scd2Init]] + [[scd2Merge]] (check strategy, forward-only): fold a
  *    new point-in-time state of the source into an existing SCD-2 table.
  *    The merge touches only `is_current` rows (a fraction of the history)
  *    and joins them with the incoming state on the snapshot key — an
  *    equi shuffle join, broadcastable when the batch is small. Closed-out
  *    history passes through untouched, so at 100 TB the closed partition
  *    of the table is never rewritten (pair with a partition-on-is_current
  *    layout or a merge-capable table format).
  */
object Snapshot {

  /** Collapse a change stream into SCD-2 rows.
    *
    * Consecutive rows (per key, ordered by `tsCol`, ties broken by
    * `tieCol`) carrying the same `valueCol` are merged; each surviving row
    * gets `valid_from` = its own timestamp, `valid_to` = the next change's
    * timestamp (NULL for the open row), `is_current` = the open-row flag.
    */
  def scd2History(
      changes: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      tsCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    // lag on the raw stream finds change points; lead on the *collapsed*
    // stream chains validity intervals — same window spec, second pass
    // runs over the filtered frame so both reuse one shuffle partitioning.
    changes
      .withColumn("__prev", lag(col(valueCol), 1).over(w))
      .filter(col("__prev").isNull || !(col("__prev") <=> col(valueCol)))
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select((keyCols :+ valueCol).map(col) ++
        Seq(col("valid_from"), col("valid_to"), col("is_current")): _*)
  }

  /** First snapshot run: every key's current value opens at `asOf`. */
  def scd2Init(state: DataFrame, keyCols: Seq[String], valueCol: String,
      asOf: Column, validType: String = "timestamp"): DataFrame =
    state.select((keyCols :+ valueCol).map(col): _*)
      .withColumn("valid_from", asOf)
      .withColumn("valid_to", lit(null).cast(validType))
      .withColumn("is_current", lit(true))

  /** Fold a new point-in-time `state` (keyCols + valueCol) into an
    * existing SCD-2 `history` at time `asOf`:
    *
    *  - key unchanged (or absent from the batch): current row kept open
    *    (dbt default — deletes do not invalidate);
    *  - value changed: current row closed at `asOf`, new row opened;
    *  - new key: new row opened at `asOf`.
    */
  def scd2Merge(
      history: DataFrame,
      state: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      asOf: Column,
      validType: String = "timestamp"): DataFrame = {
    val closedHistory = history.filter(!col("is_current"))
    val current = history.filter(col("is_current"))
    val incoming = state
      .select((keyCols :+ valueCol).map(col): _*)
      .withColumnRenamed(valueCol, "__new_value")
      .withColumn("__in_batch", lit(true))

    // one full outer join; each joined row emits its history row (kept
    // open, or closed at asOf when the value changed) and, for a new or
    // changed key, its opened row
    val j = current.join(incoming, keyCols, "full_outer")
    val inHistory = col("is_current").isNotNull
    val changed = col("__in_batch").isNotNull && !(col(valueCol) <=> col("__new_value"))
    def row(value: Column, from: Column, to: Column, isCurrent: Column): Column = {
      val byName = Map(valueCol -> value, "valid_from" -> from, "valid_to" -> to,
        "is_current" -> isCurrent)
      struct(history.columns.toIndexedSeq.map(c => byName.getOrElse(c, col(c)).as(c)): _*)
    }
    val kept = when(inHistory, row(col(valueCol), col("valid_from"),
      when(changed, asOf).otherwise(col("valid_to")), !changed))
    val opened = when(col("__in_batch").isNotNull && (!inHistory || changed),
      row(col("__new_value"), asOf, lit(null).cast(validType), lit(true)))
    val merged = j.select(explode(array(kept, opened)).as("r"))
      .filter(col("r").isNotNull).select(col("r.*"))

    closedHistory.unionByName(merged)
  }

  /** Latest value per key as of a cutoff — the point-in-time source state
    * fed to [[scd2Init]]/[[scd2Merge]] in the registered queries.
    */
  def stateAsOf(
      src: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      tsCol: String,
      tieCol: String,
      cutoff: Column): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).desc, col(tieCol).desc)
    src.filter(col(tsCol) < cutoff)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select((keyCols :+ valueCol).map(col): _*)
  }
}
