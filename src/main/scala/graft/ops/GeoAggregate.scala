package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Geo-grid aggregation — the reference's core operator
  * (`agg.py:139-162`, GeoAggregator.read/iterate), re-expressed as one lazy
  * Spark pipeline:
  *
  *   project(lat, lon, value) → value/10 ("JDS", `agg.py:145`)
  *   → floor-bin lat/lon into grid cells (`agg.py:149-151`, numpy.digitize-1)
  *   → groupBy(cell).agg(median|mean|max) (`agg.py:153-154`)
  *   → re-project cell centroids as Latitude/Longitude (`agg.py:156-159`)
  *   → drop bin ids (`agg.py:160`)
  *
  * Design deltas vs the reference, deliberate (SURVEY.md §2.2, §4):
  *   - closed-form `floor((x - lo) / step)` instead of materialized
  *     `numpy.arange` bin-edge arrays (`agg.py:131-132`) — constant-folded
  *     arithmetic, zero memory, identical up to float rounding (the arange
  *     accumulates step; multiplication does not). Property-tested against a
  *     digitize reimplementation in GeoAggregateSpec.
  *   - centroid is `binId * step + lo + step/2` instead of `bins[id]+step/2`.
  *
  * Scale notes: the whole pipeline is scan → project → partial hash-agg →
  * shuffle on (latBin, lonBin) → final agg → project. Cardinality after agg
  * is bounded by the grid (cells actually hit), so the shuffle is the
  * reduced data, not the input. mean/max use HashAggregateExec with map-side
  * partial aggregation; median uses ObjectHashAggregateExec (exact percentile
  * buffer) — for 100 TB prefer mode="mean"/"max" or approx quantiles unless
  * exact-median semantics are required.
  */
object GeoAggregate {

  /** `EARTH_RADIUS_IN_METERS`, `agg.py:31`. */
  val EarthRadiusMeters: Double = 6371000.0

  /** Meters → degrees at the equator (`convert_meters_to_latitude_angles`,
    * `agg.py:87-94`). The reference uses the same step for longitude,
    * "ignoring latitude" (`agg.py:132`).
    */
  def metersToDegrees(meters: Double): Double = {
    require(meters >= 0, s"grid size must be >= 0, got $meters") // agg.py:291
    meters / (2.0 * math.Pi * EarthRadiusMeters) * 360.0
  }

  /** Aggregate-by-name dispatch (`agg.py:128,153-154,265-266`); `median` is
    * the reference default. Validated here like the CLI does (`agg.py:287`).
    */
  val modes: Map[String, Column => Column] = Map(
    "mean" -> (c => avg(c)),
    "median" -> (c => median(c)),
    "max" -> (c => max(c)))

  /** Left-closed interval bin index, 0-based from `lo`; matches
    * `numpy.digitize(x, arange(lo, hi, step)) - 1` for strictly in-range
    * values in [lo, hi) (`agg.py:149-151`). Out-of-range values diverge
    * from digitize, which saturates: digitize yields -1 below lo and the
    * last index at/above the top edge, while this closed form keeps
    * decreasing (-2, -3, …) / increasing. Latitude/longitude inputs are
    * in-range by construction; callers binning open-ended domains should
    * clamp with greatest/least first.
    */
  def binId(c: Column, lo: Double, step: Double): Column =
    floor((c - lit(lo)) / lit(step)).cast("long")

  /** Cell-center coordinate for a bin index (`agg.py:156-159`). */
  def centroid(bin: Column, lo: Double, step: Double): Column =
    bin * lit(step) + lit(lo) + lit(step / 2)

  def apply(
      df: DataFrame,
      mode: String = "median", // agg.py:265-266 default
      stepDegrees: Double,
      latCol: String = "Latitude",
      lonCol: String = "Longitude",
      valCol: String = "Data",
      scaleDiv: Double = 10.0): DataFrame = {
    val aggFn = modes.getOrElse(
      mode.toLowerCase(java.util.Locale.ROOT),
      throw new IllegalArgumentException(
        s"mode must be one of ${modes.keys.mkString("|")}, got: $mode"))
    df.select(col(latCol), col(lonCol), (col(valCol) / scaleDiv).as(valCol))
      .withColumn("latitude_bin_id", binId(col(latCol), -90.0, stepDegrees))
      .withColumn("longitude_bin_id", binId(col(lonCol), -180.0, stepDegrees))
      .groupBy("latitude_bin_id", "longitude_bin_id")
      .agg(aggFn(col(valCol)).as(valCol))
      .withColumn(latCol, centroid(col("latitude_bin_id"), -90.0, stepDegrees))
      .withColumn(lonCol, centroid(col("longitude_bin_id"), -180.0, stepDegrees))
      .drop("latitude_bin_id", "longitude_bin_id")
  }
}
