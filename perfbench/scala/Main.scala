package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark harness: runs one workload against the program's public
  * entry points and writes the raw samples, check results and (traced
  * runs) per-layer numbers as one JSON file. `perfbench/run.py` builds
  * this, generates the inputs, and turns the file into the metrics line.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --cores N
  *   --work DIR --out FILE --spans FILE
  *   suite: --data DIR
  *   velib-*: --stations N --backlog N --live N --interval S
  *            --warmup_ticks N --late_bound S
  */
object Main {
  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def double(k: String): Double = apply(k).toDouble
    def workload: String = apply("workload")
    def seed: Long = apply("seed").toLong
    def seconds: Double = double("seconds")
    def traced: Boolean = apply("trace") == "1"
    def cores: Int = int("cores")
    def work: String = apply("work")
  }

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    val out: Map[String, Any] = a.workload match {
      case "suite-sf0.01" => Suite.run(a)
      case "velib-incremental" => Stream.run(a, incremental = true)
      case "velib-recompute" => Stream.run(a, incremental = false)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(a("out")),
      Json.render(out).getBytes("UTF-8"))
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
