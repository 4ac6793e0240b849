package graft.velib

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, IntegerType, ShortType}

/** The latent `velib_stats_history_silver` asset (SURVEY.md §1.4): the
  * reference depends on it by name (`src/assets/velib_alerte.py:17`) but its
  * source is absent; semantics are reconstructed from its consumers.
  *
  * Input: canonical columns `station_code, station_name, bikes_available,
  * docks_available, last_reported` (+ optional `seq` tiebreaker column).
  * Adds:
  *   - `net_flow`      = bikes_available - lag(bikes_available) per station
  *                       ordered by last_reported  (W3)
  *   - `moving_avg_1h` = trailing-1h mean of bikes_available per station
  *                       (W4, RANGE frame over event-time)
  *   - `baseline_avg`  = running mean of bikes_available per station
  *   - `date`          = to_date(last_reported)    (partition column)
  *
  * Scale notes: every window partitions by station_code, so the whole
  * enrichment costs a single hash shuffle and ONE per-partition sort. The
  * lag orders by `(unix_micros(last_reported), tiebreak)`, the same row
  * order as `(last_reported, tiebreak)` (micros are the timestamp's own
  * precision), and the two RANGE frames order by `unix_micros` alone, a
  * prefix of it, so the lag's sort also satisfies the RANGE window above
  * it. At 100 TB the station key is high-cardinality and un-skewed (each
  * station contributes one reading per tick), so no salting is needed.
  */
object EnrichJob {

  /** Deterministic trailing mean: an exact sum, then one double division,
    * so the result is bit-identical across engines regardless of addition
    * order. Byte, short and int input sums as a primitive long: with
    * fewer than 2^32 rows in a frame the sum stays below 2^63 in
    * magnitude, so it is the exact integer, and its cast to double rounds
    * to the same double as the `DECIMAL(28,6)` sum of the oracle SQL does.
    * Any other type (long, which could overflow and throw under ANSI where
    * the decimal sum does not, and double) sums as `DECIMAL(28,6)`.
    */
  private def exactAvg(c: Column, t: DataType, w: WindowSpec): Column = {
    val exact = t match {
      case ByteType | ShortType | IntegerType => c.cast("long")
      case _ => c.cast(DecimalType(28, 6))
    }
    sum(exact).over(w).cast("double") / count(c).over(w)
  }

  def enrich(silver: DataFrame, tiebreak: Column): DataFrame = {
    val byStation = Window.partitionBy(col("station_code"))
    // RANGE frame over microsecond event-time: 1h = 3.6e9 us. Micros (not a
    // seconds cast) so the frame boundary is exact at any timestamp precision.
    val micros = unix_micros(col("last_reported"))
    val ordered = byStation.orderBy(micros, tiebreak)
    val byMicros = byStation.orderBy(micros)
    val lastHour = byMicros.rangeBetween(-3600L * 1000000L, 0L)
    // Running per-station mean: the scale-free baseline the alert rules can
    // compare against (a trailing-1h mean degenerates to a single reading
    // when the feed is sparse).
    val allSoFar = byMicros.rangeBetween(Window.unboundedPreceding, 0L)
    val bikesT = silver.schema("bikes_available").dataType
    // one select, not chained withColumns: interleaved Projects would
    // break CollapseWindow adjacency, leaving the two micros-ordered
    // RANGE windows in separate Window execs with a redundant sort each
    silver.select(
      col("*"),
      (col("bikes_available") - lag(col("bikes_available"), 1).over(ordered))
        .as("net_flow"),
      exactAvg(col("bikes_available"), bikesT, lastHour).as("moving_avg_1h"),
      exactAvg(col("bikes_available"), bikesT, allSoFar).as("baseline_avg"),
      to_date(col("last_reported")).as("date"))
  }

  /** J4: dimension enrichment — re-source `station_name` from the station
    * reference (broadcast: the dimension is tiny relative to the fact).
    */
  def withDimension(status: DataFrame, dim: DataFrame): DataFrame =
    status
      .drop("station_name")
      .join(broadcast(dim.select(
          col("station_id").as("station_code"),
          col("name").as("station_name"))),
        Seq("station_code"), "left")
}
