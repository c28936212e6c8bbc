package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based batch sessionization: group an entity's event stream into
  * sessions separated by inactivity gaps (reference analogue:
  * per-patient encounter grouping, phenoxtract groups longitudinal rows
  * per subject before collecting — `src/transform/collecting/mod.rs`).
  *
  * Plan shape (the 100 TB contract): ONE hash shuffle on `keyCol`, one
  * in-partition sort by (`tsCol`, `tieCol`), then two window projections
  * over the SAME partitioning+ordering — Catalyst plans a single
  * Exchange + single Sort feeding both Window nodes, so the data moves
  * once. The downstream per-session aggregate partial-aggregates
  * map-side before its (key, session) shuffle.
  *
  * Skew bound: a session index is a running count — inherently
  * sequential per entity — so the largest single entity's row count
  * bounds one window task. That is the right trade here: unlike as-of
  * carry-forward (see `TemporalJoin.asofBackwardSalted`), the counter
  * cannot be salted without a second global pass per key, and real
  * event data bounds per-entity volume long before 2^31 rows.
  *
  * Gap semantics: a new session starts strictly AFTER `gapMicros` of
  * silence — an event exactly `gapMicros` after its predecessor stays
  * in the same session. Time arithmetic is integer microseconds
  * (`unix_micros`), immune to double rounding at any epoch.
  */
object Sessionize {

  /** Append a 1-based `session_idx` per `keyCol`, ordered by
    * (`tsCol`, `tieCol`) — supply a unique `tieCol` so equal timestamps
    * order deterministically.
    */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, gapMicros: Long): DataFrame = {
    require(gapMicros >= 0, "gapMicros must be non-negative")
    // session_idx is the OUTPUT column — re-sessionizing already
    // enriched data would otherwise silently clobber it.
    val reserved = Seq("__sess_brk", "session_idx")
    reserved.foreach(r => require(!df.columns.contains(r),
      s"input must not contain reserved column $r"))
    // A null timestamp has no place on a session timeline: it sorts
    // FIRST under the window order, its lag(unix_micros) is null, so
    // every null-ts row would fire the prev.isNull break — phantom
    // singleton sessions that shift session_idx for all the entity's
    // real events, silently. Exclude them (the TemporalJoin null-time
    // stance: an unordered event cannot be placed).
    val timed = df.filter(col(tsCol).isNotNull)
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
    val us: Column = unix_micros(col(tsCol))
    val prev = lag(us, 1).over(w)
    val brk = when(prev.isNull || us - prev > gapMicros, 1L).otherwise(0L)
    timed.withColumn("__sess_brk", brk)
      .withColumn("session_idx",
        sum(col("__sess_brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__sess_brk")
  }
}
