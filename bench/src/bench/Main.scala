package bench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.util.control.NonFatal

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark driver: one workload, one seed, one process.
  *
  * A single driver thread sets the inputs up (several times, reporting
  * the median), runs one untimed warm-up pass, then runs passes back to
  * back for the given seconds. A pass whose output check fails is counted
  * in `failed` and never timed. With `--trace 1` the passes alternate
  * between untraced and traced; the traced ones record spans at every
  * call into the program plus Spark counters, and the run prints the
  * per-layer metrics instead of the end-to-end ones.
  *
  * Usage: bench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> [--trace-out <file>] [--scale <rows|docs>]
  */
object Main {
  val SetupReps = 3

  final case class PassRec(p: Int, traced: Boolean, seconds: Double, ok: Boolean,
                           batches: Seq[Double])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traceOn = opt("trace") == "1"
    val work = new File(opt("work")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors

    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    val progress = new StreamProgress
    spark.streams.addListener(progress)
    val wl = Workload(name, spark, seed, opt.get("scale").map(_.toLong), work, cores, progress)

    val setupS = (1 to SetupReps).map { _ =>
      val s0 = System.nanoTime()
      wl.setup()
      (System.nanoTime() - s0) / 1e9
    }

    val ops = new Ops
    val tracer = new Trace(enabled = true)
    val noTrace = new Trace(enabled = false)
    val counters = new SparkCounters
    def runPass(p: Int, traced: Boolean): PassRec = {
      val tr = if (traced) tracer else noTrace
      tr.pass = p
      if (traced) sc.addSparkListener(counters)
      val failedBefore = ops.failed
      val p0 = System.nanoTime()
      try tr.span("pass")(wl.pass(tr, ops, p))
      catch {
        case NonFatal(e) =>
          ops.attempted += 1
          ops.failed += 1
          ops.failures += s"pass $p: $e"
          e.printStackTrace()
      }
      val s = (System.nanoTime() - p0) / 1e9
      BenchBus.drain(sc)
      if (traced) sc.removeSparkListener(counters)
      spark.catalog.clearCache()
      PassRec(p, traced, s, ops.failed == failedBefore, wl.batchSeconds(p))
    }

    val w0 = System.nanoTime()
    runPass(0, traced = false) // warm-up: JIT, codegen and file caches
    val warmS = (System.nanoTime() - w0) / 1e9
    val passes = scala.collection.mutable.ArrayBuffer[PassRec]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    def enough(traced: Boolean) = passes.exists(_.traced == traced)
    while (System.nanoTime() < deadline || !enough(false) || (traceOn && !enough(true)))
      passes += runPass(passes.size + 1, traced = traceOn && passes.size % 2 == 1)

    val timed = passes.filter(r => !r.traced)
    val good = timed.filter(_.ok)
    val walls = (if (good.nonEmpty) good else timed).map(_.seconds).toSeq
    val wall = Stats.median(walls)
    val batches = (if (good.nonEmpty) good else timed).flatMap(r =>
      if (r.batches.nonEmpty) r.batches else Seq(r.seconds)).toSeq
    val e2e = Seq(
      ("setup_s", "s", Stats.median(setupS)),
      ("wall_s", "s", wall),
      ("rows_per_s", "1/s", wl.units / wall),
      ("batch_p50_s", "s", Stats.median(batches)),
      ("batch_tail_s", "s", Stats.tail(batches)),
      ("bytes_written_per_input_byte", "ratio", wl.bytesLeft.toDouble / wl.inputBytes),
      ("peak_rss_mb", "MB", Stats.peakRssMb()))
    val failedRatio = ops.failed.toDouble / ops.attempted

    val layers =
      if (!traceOn) Nil
      else Layers.metrics(tracer, counters, progress, passes.filter(_.traced).toSeq, wall, cores)
    opt.get("trace-out").filter(_ => traceOn).foreach { f =>
      writeFile(f, Layers.traceJson(tracer, counters, progress, name, seed))
    }

    // Human-readable report (every metric, with its samples), then the
    // machine-readable result as the last stdout line.
    val report = Json.obj(Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString, "cores" -> cores.toString,
      "input_units" -> wl.units.toString, "input_bytes" -> wl.inputBytes.toString,
      "session_s" -> Json.num(sessionS), "warmup_s" -> Json.num(warmS),
      "setup_samples" -> Json.arr(setupS.map(Json.num)),
      "passes" -> good.size.toString, "pass_samples" -> Json.arr(walls.map(Json.num)),
      "batch_samples" -> Json.arr(batches.map(Json.num)),
      "failed_ops_ratio" -> Json.num(failedRatio),
      "failures" -> Json.arr(ops.failures.take(10).map(Json.str).toSeq)) ++
      e2e.map { case (k, u, v) => k -> Json.metric(v, u) } ++
      layers.map { case (k, u, v) => k -> Json.metric(v, u) } ++
      (if (traceOn && name == "flight_etl") Seq("baseline" -> Layers.baselineJson(tracer, wl.units))
       else Nil))
    println("[bench] report " + report)

    spark.stop()
    val metrics = if (traceOn) layers else e2e
    val correct = ops.failed == 0 && good.nonEmpty
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> ops.attempted.toString,
      "failed" -> ops.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, u, v) => k -> Json.metric(v, u) }))))
  }

  /** The session graft.Bench runs on (in-memory catalog, ANSI off, UTC,
    * GraftExtensions, dynamic partition overwrite, one shuffle partition
    * per core), with every scratch location inside the work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-bench")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def writeFile(path: String, text: String): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    Files.write(f.toPath, text.getBytes(StandardCharsets.UTF_8))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it: the
    * (n - 10)-th smallest. Below 21 samples that percentile lies under
    * the median, so the tail falls back to the median. */
  def tail(xs: Seq[Double]): Double =
    if (xs.size < 21) median(xs) else xs.sorted.apply(xs.size - 11)

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def metric(v: Double, unit: String): String = obj(Seq("value" -> num(v), "unit" -> str(unit)))
}
