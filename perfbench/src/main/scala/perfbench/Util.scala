package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, seed: Long, scale: Double, k: Int, seconds: Int, work: String) {
  lazy val gen = new Gen(spark, seed, scale)
}

/** The data files of a directory tree: path → size. Hidden and
  * bookkeeping entries (names starting with `.` or `_`) are skipped, so
  * checksums, markers and swap asides do not count as table data.
  */
object LakeFiles {
  def dataFiles(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try
        s.iterator().asScala
          .filter(p => Files.isRegularFile(p) && !hidden(root, p))
          .map(p => p.toString -> Files.size(p))
          .toMap
      finally s.close()
    }
  }

  private def hidden(root: Path, p: Path): Boolean =
    root.relativize(p).iterator().asScala.exists { part =>
      val n = part.toString
      n.startsWith(".") || n.startsWith("_")
    }

  def bytes(dir: String): Long = dataFiles(dir).values.sum

  /** Files present in `after` but not in `before` (new names), with sizes. */
  def added(before: Map[String, Long], after: Map[String, Long]): Map[String, Long] =
    after.filter { case (p, _) => !before.contains(p) }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
      finally s.close()
    }
  }

  def write(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, text)
  }
}

/** An order-insensitive content digest: row count plus a sum and an xor of
  * per-row hashes over the columns in name order. Floating-point values
  * are hashed at nine significant digits, so summation order inside Spark
  * cannot change a digest.
  */
object Digest {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c.cast("double"))
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => format_string("%.9g", x.cast("double")))
    case _: MapType => sort_array(map_entries(c))
    case _: StructType => to_json(c)
    case _ => c
  }

  /** Aggregate expressions: (rows, sum of hash/2^16, xor of hashes). */
  def exprs(df: DataFrame): Seq[Column] = {
    val h = xxhash64(df.columns.sorted.toIndexedSeq.map(c => norm(col(c), df.schema(c).dataType)): _*)
    Seq(count(lit(1)).as("d_n"), sum(shiftright(h, 16)).as("d_s"), bit_xor(h).as("d_x"))
  }

  def of(df: DataFrame): String = fmt(df.agg(exprs(df).head, exprs(df).tail: _*).head())

  /** Digests of several tables in one Spark job. */
  def ofAll(tables: Seq[(String, DataFrame)]): Map[String, String] =
    tables.map { case (n, df) =>
      val e = exprs(df)
      df.agg(e.head, e.tail: _*).select(lit(n).as("t"), col("d_n"), col("d_s"), col("d_x"))
    }.reduce(_ unionByName _).collect()
      .map(r => r.getString(0) -> fmt(org.apache.spark.sql.Row(r.getLong(1), r.get(2), r.get(3)))).toMap

  def fmt(r: org.apache.spark.sql.Row): String =
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}:${if (r.isNullAt(2)) 0L else r.getLong(2)}"

  def rows(d: String): Long = d.takeWhile(_ != ':').toLong
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * (n−10)-th smallest of n samples, at percentile 100·(n−10)/n. With
    * eleven samples or fewer it is the maximum (percentile 100).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size <= 11) (s.lastOption.getOrElse(Double.NaN), 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }
}

/** Host facts recorded with every run, as evidence of contention. */
object Host {
  def loadavg: String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "unavailable" }

  private def status(key: String): Option[Long] =
    try
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith(key + ":"))
        .map(_.split("\\s+")(1).toLong)
    catch { case _: Throwable => None }

  /** Peak resident set (VmHWM) in MiB. */
  def peakRssMb: Double = status("VmHWM").map(_ / 1024.0).getOrElse(Double.NaN)

  /** This process's user+sys CPU seconds. */
  def cpuSeconds: Double =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
      val rest = f.substring(f.lastIndexOf(')') + 2).split(" ")
      (rest(11).toLong + rest(12).toLong) / 100.0
    } catch { case _: Throwable => Double.NaN }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** Output records of a seed, kept beside the benchmark in
  * `perfbench/expected/<workload>.json` as
  * `{"seed=<n>,scale=<x>": {"<key>": "<value>", ...}}`.
  */
object Expected {
  def load(workload: String, seed: Long, scale: Double): Map[String, String] = {
    val p = Paths.get(s"perfbench/expected/$workload.json")
    if (!Files.exists(p)) Map.empty
    else parse(Files.readString(p)).getOrElse(s"seed=$seed,scale=$scale", Map.empty)
  }

  /** Reads the two-level object of strings that record files hold. */
  private def parse(s: String): Map[String, Map[String, String]] = {
    val str = "\"((?:[^\"\\\\]|\\\\.)*)\"".r
    val block = ("(?s)" + str.regex + "\\s*:\\s*\\{(.*?)\\}").r
    block.findAllMatchIn(s).map { m =>
      val pairs = (str.regex + "\\s*:\\s*" + str.regex).r
      m.group(1) -> pairs.findAllMatchIn(m.group(2)).map(p => p.group(1) -> p.group(2)).toMap
    }.toMap
  }
}
