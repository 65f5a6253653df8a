package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Cleaning stage (reference: src/transform.py:81-123). */
object Clean {

  /** dedup_hour (reference: src/transform.py:85-92) — drop duplicate
    * (keys, hour-truncated ts), keeping the FIRST occurrence.
    *
    * pandas' "first occurrence" is input order; under a shuffle that is
    * not a total order, so the winner is pinned by the MINIMUM
    * (ts, tieBreak) tuple — deterministic at any parallelism provided
    * the tuple is unique within a group (the tieBreak contract). One
    * shuffle on the dedup key; no global sort.
    *
    * Same skew shape as [[graft.ops.Dedup.exact]]: the winner is a
    * `min_by(struct(row), struct(ts, tieBreak*))` AGGREGATE, not a
    * key-partitioned row_number window — the aggregate's partial
    * (map-side) phase sends one candidate row per map partition per
    * hot (keys, hour) group through the exchange, where a window
    * would land every duplicate of a hot key-hour in one task (a
    * sensor spamming one hour at 100 TB = a one-task straggler).
    * Struct ordering is lexicographic with nulls-first per field —
    * identical to the window's multi-column ascending order.
    */
  def dedupFirstPerKeyHour(df: DataFrame, keys: Seq[String], tsCol: String,
                           tieBreak: Seq[String]): DataFrame = {
    val cols = df.columns.toSeq
    val ord = struct((col(tsCol) +: tieBreak.map(col)): _*)
    df.groupBy((keys.map(col) :+
        date_trunc("hour", col(tsCol)).as("__hr")): _*)
      .agg(min_by(struct(cols.map(col): _*), ord).as("__w"))
      .select(cols.map(c => col("__w").getField(c).as(c)): _*)
  }

  /** fill_const (reference: src/transform.py:108-109) — null → constant. */
  def fillConst(df: DataFrame, values: Map[String, Any]): DataFrame =
    df.na.fill(values)

  /** fill_median (reference: src/transform.py:112) — null → EXACT column
    * median, computed over the batch. `median` (Spark ≥3.4) is the exact
    * interpolated percentile — `percentile_approx` would drift from the
    * oracle. The single-row aggregate collapses to one driver scalar;
    * that is one tiny job, not a per-row collect.
    */
  def fillMedianExact(df: DataFrame, c: String): DataFrame = {
    val m = df.agg(median(col(c))).first()
    if (m.isNullAt(0)) df else df.na.fill(Map(c -> m.getDouble(0)))
  }

  /** Same, but keeps the whole plan lazy (no driver round trip): the
    * one-row median aggregate is broadcast-joined back. Preferred when
    * the fill is mid-pipeline at scale.
    */
  def fillMedianLazy(df: DataFrame, c: String): DataFrame = {
    val med = df.agg(median(col(c)).as("__med"))
    df.crossJoin(broadcast(med))
      .withColumn(c, coalesce(col(c), col("__med")))
      .drop("__med")
  }

  /** null → `value`, a median computed elsewhere (e.g. observed while
    * the batch was materialized). The value rides a one-row broadcast
    * relation, as in [[fillMedianLazy]], so it reaches the rows as data:
    * a literal would be compiled into the generated code, and every
    * batch with a new median would compile a new class.
    */
  def fillWith(df: DataFrame, c: String, value: java.lang.Double): DataFrame = {
    val v = df.sparkSession.createDataFrame(java.util.List.of(Row(value)),
      StructType(Seq(StructField("__fill", DoubleType))))
    df.crossJoin(broadcast(v))
      .withColumn(c, coalesce(col(c), col("__fill")))
      .drop("__fill")
  }

  /** drop_null_critical (reference: src/transform.py:114-123). */
  def dropNullCritical(df: DataFrame, critical: Seq[String]): DataFrame =
    df.na.drop("any", critical)

  /** clean_text (reference: src/transform.py:98-100):
    * city → trim + Title Case, country → UPPER, description → lower+trim.
    */
  def titleCase(c: Column): Column = initcap(trim(c))
  def upperCode(c: Column): Column = upper(c)
  def lowerText(c: Column): Column = lower(trim(c))

  def cleanWeatherText(df: DataFrame): DataFrame = df
    .withColumn("city", titleCase(col("city")))
    .withColumn("country", upperCode(col("country")))
    .withColumn("description", lowerText(col("description")))
}
