package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.Graft
import graft.ops.Forecast.Config

/** The forecast workload's calls: the three public forecast modes plus one
  * holiday Config, on the uniform and the Zipf-skewed panel. Each output is
  * checked against the generator's noise-free signal (not against anything
  * the engine computed): every horizon point must lie within
  * `z * sd + mismatch * |signal|` of it, where `sd` is the generator's
  * standard deviation of a least-squares forecast of that series and hour
  * (with or without the holiday column), and `mismatch` covers the log /
  * logit transform the non-additive modes fit in. */
object Forecasts {
  @volatile var keysPerCall = 0

  private final case class Truth(signal: Double, sd: Double, sdHoliday: Double)

  def calls(spark: SparkSession, cfg: java.util.Properties): Seq[Call] = {
    val dir = cfg.getProperty("panels")
    val keys = cfg.getProperty("keys").toInt
    val horizon = cfg.getProperty("horizon").toInt
    val z = cfg.getProperty("truth_z").toDouble
    def mismatch(mode: String): Double = cfg.getProperty(s"mismatch.$mode").toDouble
    keysPerCall = keys
    // one holiday, given as epoch-days in the history and in the horizon
    val holidayDays = cfg.getProperty("holidays").split(",").map(_.toLong)
    val holidays = Config(holidays = Array(holidayDays))
    for {
      shape <- Seq("uniform", "skewed")
      panel = spark.read.parquet(s"$dir/$shape.parquet")
      truth = load(s"$dir/$shape.truth.csv")
      (mode, fit, slack, holiday) <- Seq[(String, DataFrame => DataFrame, Double, Boolean)](
        ("forecast", Graft.forecast(_, "key", "ts", "value", horizon), 0.0, false),
        ("forecast_logistic", Graft.forecastLogistic(_, "key", "ts", "value", horizon),
          mismatch("logistic"), false),
        ("forecast_multiplicative", Graft.forecastMultiplicative(_, "key", "ts", "value", horizon),
          mismatch("multiplicative"), false),
        ("forecast_holidays", Graft.forecast(_, "key", "ts", "value", horizon, holidays), 0.0, true))
    } yield {
      val id = s"$mode.$shape"
      Call(id, "Graft", _ => fit(panel),
        (df, n) => check(id, df, n, keys * horizon, truth, z, slack, holiday))
    }
  }

  private def load(path: String): Map[(Long, Long), Truth] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.iterator.drop(1).map { l =>
      val f = l.split(",")
      (f(0).toLong, f(1).toLong) -> Truth(f(2).toDouble, f(3).toDouble, f(4).toDouble)
    }.toMap

  private def check(id: String, df: DataFrame, n: Long, want: Long,
      truth: Map[(Long, Long), Truth], z: Double, slack: Double,
      holiday: Boolean): Option[String] = {
    if (n != want) return Some(s"count() gave $n rows, expected $want")
    val rows = df.collect()
    Workloads.digests(id) = Workloads.digestRows(rows)
    var bad = 0
    var worst = (0.0, "")
    rows.foreach { r =>
      val key = r.getAs[Long]("key")
      val hour = r.getAs[java.sql.Timestamp]("ts").getTime / 3600000L
      val yhat = r.getAs[Double]("yhat")
      truth.get((key, hour)) match {
        case None => bad += 1; worst = (Double.PositiveInfinity, s"key $key hour $hour has no truth")
        case Some(t) =>
          val bound = z * (if (holiday) t.sdHoliday else t.sd) + slack * math.abs(t.signal)
          val ratio = math.abs(yhat - t.signal) / bound
          if (ratio > 1) bad += 1
          if (ratio > worst._1)
            worst = (ratio, f"key $key hour $hour yhat $yhat%.3f signal ${t.signal}%.3f bound $bound%.3f")
      }
    }
    if (bad > 0) Some(s"$bad of ${rows.length} points outside the truth bound; worst: ${worst._2}")
    else None
  }
}
