package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr

/** graft.Bench's two pinned calibration jobs, byte for byte the same
  * workloads and session settings, timed once each after one untimed
  * run: machine-drift metadata recorded beside every benchmark record,
  * not a metric. graft.Bench keeps the minimum of three; this keeps one.
  *
  *   Calibration <out.json>
  */
object Calibration {
  def main(args: Array[String]): Unit = {
    val cpus = Main.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def timed(job: => Unit): Double = {
      job
      val t0 = System.nanoTime()
      job
      (System.nanoTime() - t0) / 1e9
    }
    try {
      val cpu = timed {
        spark.range(0L, 8000000000L, 1L, cpus)
          .selectExpr("bit_xor(xxhash64(id)) as h")
          .write.format("noop").mode("overwrite").save()
      }
      val shuffle = timed {
        spark.range(0L, 32000000L, 1L, cpus)
          .selectExpr("pmod(xxhash64(id), 2000000) as k", "xxhash64(id + 7) as v")
          .groupBy("k").agg(expr("bit_xor(v) as h"))
          .selectExpr("bit_xor(h) as hh")
          .write.format("noop").mode("overwrite").save()
      }
      Files.write(Paths.get(args(0)), Json.value(Map("calibration_s" -> cpu,
        "calibration_shuffle_s" -> shuffle, "cpus" -> cpus)).getBytes(UTF_8))
      ()
    } finally spark.stop()
  }
}
