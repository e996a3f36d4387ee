package perfbench

import scala.collection.mutable

import graft.GraftSession

/** One benchmark process: set up a session, warm up with untimed
  * units, then run units in a closed loop (one caller, the next unit
  * starts when the previous one has finished) until `--seconds` have
  * passed. Writes everything it measured to `--out` as JSON; `run.py`
  * checks the outputs and derives the metrics.
  *
  * With `--trace 1` units after the first alternate between traced and
  * untraced, so one process gives both the per-layer spans and the
  * tracing overhead.
  */
object Main {
  private val MinUnits = 3
  /** A traced run needs its lead-in unit plus two full ABBA pairs. */
  private val MinTracedUnits = 5
  /** Untimed units before the clock starts. After only one, the JIT is
    * still compiling planner and operator code, and the next unit runs
    * 20-40% slower than the ones after it. */
  private val WarmupUnits = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opt("cores").toInt
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // only the migration needs a Hive metastore: LOAD DATA into a Hive-text
    // staging table; the other workloads publish through Spark's own catalog
    val spark = GraftSession.local(cores = cores, appName = "perfbench",
      hive = opt("workload") == "migrate_merge")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tr = new Tracer(spark, cores)
    val wl = Workload(opt("workload"), spark, opt("in"), opt("work"), cores, tr)
    val p0 = System.nanoTime()
    wl.prepare()
    wl.reset()
    val w0 = System.nanoTime()
    for (i <- 0 until WarmupUnits) {
      if (i > 0) wl.reset()
      wl.unit()
    }
    val warmupS = (System.nanoTime() - w0) / 1e9
    val prepareS = (w0 - p0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val units = mutable.ArrayBuffer.empty[Map[String, Any]]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    val minUnits = if (trace) MinTracedUnits else MinUnits
    while (i < minUnits || System.nanoTime() < deadline) {
      // traced runs: unit 0 untraced, then traced/untraced pairs in
      // ABBA order (T U, U T, T U, ...) so the JIT's drift cancels out
      // of the overhead estimate
      val traced = trace && i > 0 && (i % 4 == 1 || i % 4 == 0)
      wl.reset()
      if (traced) tr.start() else tr.stop()
      val t0 = System.nanoTime()
      val err = try { wl.unit(); None } catch { case e: Exception => Some(e.toString) }
      val wallS = (System.nanoTime() - t0) / 1e9
      val layers = if (traced) tr.summarize(wallS) else Map.empty[String, Double]
      val outcome = err.fold(
        try Right(wl.check(selfTest = i == 0)) catch { case e: Exception => Left(e.toString) }
      )(e => Left(e))
      units += Map(
        "traced" -> traced,
        "wall_s" -> wallS,
        "error" -> outcome.left.toOption.orNull,
        "key" -> outcome.map(_.key).getOrElse(""),
        "hash" -> outcome.map(_.hash).getOrElse(""),
        "perturbed_hash" -> outcome.map(_.perturbedHash).getOrElse(""),
        "out_bytes" -> outcome.map(_.outBytes).getOrElse(0L),
        "layers" -> layers)
      i += 1
    }
    tr.stop()

    val result = Map(
      "session_create_s" -> sessionS,
      "prepare_s" -> prepareS,
      "warmup_s" -> warmupS,
      "setup_s" -> setupS,
      "peak_rss_mb" -> peakRssMb(),
      "units" -> units.toSeq)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), Json(result))
    spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** Just enough JSON for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
