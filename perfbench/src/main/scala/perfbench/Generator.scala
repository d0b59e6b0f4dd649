package perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded `locations` generator: one `spark.range` whose every column is
  * derived from `xxhash64(seed, salt, …)`, so the same seed writes the same
  * rows in the same files, in one process and with no external data.
  *
  * @param firstId   first `spark.range` id; disjoint id ranges give disjoint
  *                  draws from the same user and place population
  * @param users     distinct user ids (`u00000` …)
  * @param places    fixed places per user that every visit lands on exactly;
  *                  0 makes every row its own point
  * @param box       (south, west, side in degrees) of a metro box; None
  *                  spreads points over latitudes [-80, 80) and all longitudes
  * @param firstDay  first UTC day of the timestamps, `yyyy-MM-dd`
  * @param background share of rows whose source is `background`, which the
  *                  pipeline drops
  */
final case class Gen(
    rows: Long,
    users: Int,
    places: Int,
    box: Option[(Double, Double, Double)],
    days: Int,
    firstDay: String,
    background: Double,
    firstId: Long = 0L) {

  /** Writes the rows as `partitions` parquet files under `path`. */
  def write(spark: SparkSession, seed: Long, partitions: Int, path: String): Unit = {
    def h(salt: Int, cols: Column*): Column = xxhash64(lit(seed) +: lit(salt) +: cols: _*)
    // uniform in [0, 1) from the low 40 bits of a hash
    def unit(salt: Int, cols: Column*): Column =
      pmod(h(salt, cols: _*), lit(1L << 40)).cast("double") / (1L << 40).toDouble
    val id = col("id")
    val user = pmod(h(1, id), lit(users.toLong))
    val point: Seq[Column] =
      if (places > 0) Seq(user, pmod(h(2, id), lit(places.toLong))) else Seq(id)
    val (south, west, latSpan, lonSpan) = box match {
      case Some((s, w, side)) => (s, w, side, side)
      case None => (-80.0, -180.0, 160.0, 360.0)
    }
    val dayMs = 86400000L
    val t0 = java.time.LocalDate.parse(firstDay).toEpochDay * dayMs
    spark.range(firstId, firstId + rows, 1, partitions).select(
      (lit(south) + unit(3, point: _*) * latSpan).as("latitude"),
      (lit(west) + unit(4, point: _*) * lonSpan).as("longitude"),
      when(unit(5, id) < background, lit("background")).otherwise(lit("gps")).as("source"),
      concat(lit("u"), lpad(user.cast("string"), 5, "0")).as("user_id"),
      timestamp_millis(lit(t0) + pmod(h(6, id), lit(days * dayMs))).as("timestamp"))
      .write.mode("overwrite").parquet(path)
  }
}
