package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.etl.Enrich

/** Incremental view maintenance for the daily-summary class of
  * aggregates (reference analogue: the `daily_weather_summary` view,
  * sql/schema.sql:82-97, recomputed from scratch on every query) —
  * the warehouse move that makes a standing summary affordable at
  * 100 TB: the view is persisted as MERGEABLE per-key partial state
  * (exact DECIMAL sums + counts + min/max — every component is
  * commutative and associative, so merging is order- and
  * partitioning-independent), and a new day's data folds in with one
  * aggregate over O(state + day) rows. History is never rescanned.
  *
  * avg is deliberately NOT stored: an average is not mergeable, its
  * (sum, count) pair is. Finalization derives it with the same exact
  * decimal-sum-then-one-IEEE-division [[graft.functions.Parity.davg]]
  * computes, so the maintained view is BIT-identical to the full
  * recompute — the registered query proves it against the same
  * DuckDB oracle the full view uses.
  */
object Incremental {

  /** The nightly (isNew, isHistory) split of `lineitem` for the
    * incremental daily summary: the "new day" is the latest ship date
    * (one bounded 1-row collect). Both sides are RAW-TIMESTAMP RANGE
    * predicates — to_date(ts) = cutoff under the UTC session is exactly
    * ts ∈ [cutoff 00:00, cutoff+1d) — so, unlike a derived-column
    * equality, they push down to the parquet scan (PushedFilters on
    * l_shipdate) and a date-sorted table reads O(day) row groups for
    * the day side. A NULL ship date goes to the HISTORY side (the
    * oracle keeps its NULL group); with no non-NULL ship date at all
    * (an empty lineitem) there is no new day and everything is
    * history.
    */
  def daySplit(lineitem: DataFrame): (Column, Column) = {
    val cutoff = lineitem.agg(max(Enrich.deriveDate(col("l_shipdate"))))
      .head().getDate(0)
    if (cutoff == null) (lit(false), lit(true))
    else {
      val ts = col("l_shipdate")
      val dayStart = lit(cutoff).cast("timestamp")
      val dayEnd = lit(java.sql.Date.valueOf(cutoff.toLocalDate.plusDays(1)))
        .cast("timestamp")
      (ts >= dayStart && ts < dayEnd,
        ts.isNull || ts < dayStart || ts >= dayEnd)
    }
  }

  /** Partial state of the lineitem daily summary: one row per
    * (l_returnflag, l_linestatus, ship_date) with exact decimal sums,
    * non-null counts (davg divides by COUNT(col), not COUNT(*)),
    * min/max, and the row count.
    */
  def lineitemSummaryState(rows: DataFrame): DataFrame =
    rows.groupBy(col("l_returnflag"), col("l_linestatus"),
        Enrich.deriveDate(col("l_shipdate")).as("ship_date"))
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 2))).as("s_qty"),
        count(col("l_quantity")).as("n_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("s_price"),
        count(col("l_extendedprice")).as("n_price"),
        count(lit(1)).as("record_count"))

  /** Fold two states (the standing table and a batch's partials) into
    * one: a single aggregate over state ∪ batch — O(state + batch),
    * never O(history). Decimal sums merge exactly; min/max and counts
    * are trivially mergeable.
    */
  def mergeStates(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("l_returnflag"), col("l_linestatus"), col("ship_date"))
      .agg(
        sum(col("s_qty")).as("s_qty"), sum(col("n_qty")).as("n_qty"),
        min(col("min_qty")).as("min_qty"), max(col("max_qty")).as("max_qty"),
        sum(col("s_price")).as("s_price"), sum(col("n_price")).as("n_price"),
        sum(col("record_count")).as("record_count"))

  /** Finalize the state into the view's schema — the only non-exact
    * step is the one IEEE division [[graft.functions.Parity.davg]]
    * also performs, on identical operands (exact decimal sum, exact
    * count), so the result is bit-identical to the direct view.
    */
  def summaryFromState(st: DataFrame): DataFrame =
    st.select(col("l_returnflag"), col("l_linestatus"), col("ship_date"),
      (col("s_qty").cast("double") / col("n_qty")).as("avg_qty"),
      col("min_qty"), col("max_qty"),
      (col("s_price").cast("double") / col("n_price")).as("avg_price"),
      col("record_count"))
}
