package graft.ts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/**
 * Interval bucketing (≙ summarizeIntervals/groupByInterval,
 * /root/reference/src/main/scala/com/twosigma/flint/timeseries/TimeSeriesRDD.scala:1120,912;
 * semantics matrix rdd/function/group/Intervalize.scala:46-73):
 *
 * A clock t0 < t1 < ... < tk defines k intervals. `inclusion` picks
 * [b, e) ("begin") vs (b, e] ("end"); `rounding` stamps bucketed rows with
 * the interval's begin or end tick. Rows outside every interval are dropped.
 *
 * Implementation: the clock is collected (it is interval metadata, same as
 * the reference, which broadcasts it — Intervalize.scala:33-44 warns at
 * ~16 MB) and each row's bucket is found by binary search in a broadcast
 * sorted array — O(log m) per row, no join, no shuffle beyond the final
 * groupBy. A uniform clock could use pure arithmetic; the binary search is
 * already cheap enough that one code path covers both.
 */
object Intervals {
  import TimeSeriesOps.TimeColumn

  /** Max clock ticks we will broadcast without complaint (≙ reference's 16 MB guardrail). */
  private val MaxClockTicks = 20 * 365 * 24 * 12

  /** The interval-stamp column per the inclusion/rounding matrix (null =
    * row falls outside every interval), with clock validation. */
  private def bucketColumn(df: DataFrame, clock: Array[Long], inclusion: String,
                           rounding: String): Column = {
    require(Seq("begin", "end").contains(inclusion), "inclusion must be begin|end")
    require(Seq("begin", "end").contains(rounding), "rounding must be begin|end")
    // First tick must exceed Long.MinValue: Kernels.NoBucket uses it as the
    // out-of-band "no bucket" sentinel, so a legitimate tick there would be
    // conflated with bucketless rows and silently dropped.
    require(clock.isEmpty || clock(0) > Long.MinValue,
      "clock ticks must be > Long.MinValue")
    var i = 0
    while (i < clock.length - 1) {
      require(clock(i) < clock(i + 1), s"clock must be strictly increasing at $i")
      i += 1
    }
    if (clock.length > MaxClockTicks) {
      System.err.println(s"[graft] broadcast clock has ${clock.length} ticks " +
        s"(> $MaxClockTicks); consider a coarser clock")
    }
    val bc = df.sparkSession.sparkContext.broadcast(clock)
    // Codegen'd binary-search expression (graft.Kernels.intervalBucket):
    // O(log m) per row inside whole-stage codegen — replaces the round-2
    // Scala UDF, which boxed every row and broke the codegen stage.
    org.apache.spark.sql.graft.GraftColumns.intervalBucket(
      F.col(TimeColumn), bc,
      beginInclusive = inclusion == "begin", stampBegin = rounding == "begin")
  }

  /** Replace `time` with the interval stamp per the inclusion/rounding matrix;
    * drops rows outside all intervals. Clock passed as a sorted tick array. */
  def intervalize(df: DataFrame, clock: Array[Long], inclusion: String = "begin",
                  rounding: String = "end"): DataFrame =
    df.withColumn(TimeColumn, bucketColumn(df, clock, inclusion, rounding))
      .filter(F.col(TimeColumn).isNotNull)

  /** Clock from a DataFrame's time column (collected + deduped + sorted —
    * clock tables are metadata-sized, like the reference's broadcast). */
  def clockTicks(clock: DataFrame): Array[Long] =
    clock.select(F.col(TimeColumn).cast("long")).distinct()
      .orderBy(TimeColumn).collect().map(_.getLong(0))

  /** Bucket + aggregate (≙ summarizeIntervals). */
  def summarizeIntervals(df: DataFrame, clock: Array[Long], s: Summarizer,
                         key: Seq[String] = Seq.empty, inclusion: String = "begin",
                         rounding: String = "end"): DataFrame =
    Summarize.summarizeCycles(intervalize(df, clock, inclusion, rounding), s, key)

  /** Bucket + collect rows (≙ groupByInterval). Unlike [[intervalize]], the
    * collected rows keep their ORIGINAL timestamps — only the outer `time`
    * is the interval stamp (reference GroupByIntervalSpec pins this: the
    * expected arrays hold the raw input rows). */
  def groupByInterval(df: DataFrame, clock: Array[Long], key: Seq[String] = Seq.empty,
                      inclusion: String = "begin", rounding: String = "end"): DataFrame = {
    val b = "__graft_interval"
    require(!df.columns.contains(b), s"groupByInterval: $b is reserved")
    val bucketed = df.withColumn(b, bucketColumn(df, clock, inclusion, rounding))
      .filter(F.col(b).isNotNull)
    Summarizers.rows(df.columns.toSeq).evaluate(bucketed, None,
      (b +: key).map(F.col), F.col(b).as(TimeColumn) +: key.map(F.col))
  }
}
