package perfbench

import java.io.File

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Order statistics over a sample; empty samples read as NaN so a
  * missing measurement can never pass for a zero. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** One bare JSON line per metric on stdout:
  * {"workload":..,"metric":..,"value":..,"unit":..,"n":..}. The
  * launcher relays these and builds its result line from them. */
final class Out(workload: String) {
  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def metric(name: String, value: Double, unit: String, n: Long): Unit = {
    val v = if (value.isNaN || value.isInfinite) "null" else value.toString
    println(s"""{"workload":${q(workload)},"metric":${q(name)},"value":$v,"unit":${q(unit)},"n":$n}""")
  }

  /** Correctness tally: attempted operations, failed ones, and the
    * names of what failed (a query or a micro-batch). */
  def outcome(attempted: Long, failed: Long, failures: Seq[String]): Unit = {
    val names = failures.take(20).map(q).mkString("[", ",", "]")
    println(s"""{"workload":${q(workload)},"outcome":{"attempted":$attempted,"failed":$failed,"failures":$names}}""")
  }
}

/** perfbench/config.json, the pinned shapes, pool and session conf. */
final class Config(root: JsonNode) {
  def node(path: String*): JsonNode = path.foldLeft(root)(_.path(_))
  def int(path: String*): Int = node(path: _*).asInt()
  def double(path: String*): Double = node(path: _*).asDouble()
  def string(path: String*): String = node(path: _*).asText()
  def strings(path: String*): Seq[String] =
    node(path: _*).elements().asScala.map(_.asText()).toSeq
  def fields(path: String*): Seq[(String, JsonNode)] =
    node(path: _*).fields().asScala.map(e => e.getKey -> e.getValue).toSeq
}

object Config {
  def load(path: String): Config =
    new Config(new ObjectMapper().readTree(new File(path)))
}

/** The one Spark session of a run: `graft.Bench`'s settings on
  * local[cpus], all taken from the config's `session` block. */
object Session {
  def start(cfg: Config): SparkSession = {
    val cpus = cfg.int("session", "cpus")
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
    for ((k, v) <- cfg.fields("session", "conf")) b.config(k, v.asText())
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Process peak resident set (VmHWM) in MB, read from procfs. */
object Rss {
  def peakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
