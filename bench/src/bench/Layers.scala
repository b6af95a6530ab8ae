package bench

/** Per-layer metrics of the traced passes, the trace file, and the
  * flight_etl comparison with BASELINE.md. Every workload reports the
  * full set; a layer a workload never calls reads 0. Each value is the
  * median over the traced passes of its per-pass figure. */
object Layers {
  /** Spans whose per-pass total time is a metric `<span>_s`. */
  val SpanTimes: Seq[String] = Seq(
    "etl.pipeline", "quality.census", "quality.describe", "quality.histogram",
    "quality.consistency", "io.write", "io.readback",
    "dedup.bands", "dedup.candidates", "dedup.verify", "dedup.clusters", "dedup.survivors",
    "index.delete", "index.compact")
  val DedupStages: Seq[String] = Seq("dedup.bands", "dedup.candidates", "dedup.verify", "dedup.clusters")

  /** Counts the workloads record at call boundaries. */
  val Counts: Seq[(String, String)] = Seq(
    "etl.csv_scan_passes" -> "ratio", "io.output_bytes" -> "bytes", "io.output_files" -> "count",
    "dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count",
    "dedup.verify_yield" -> "ratio", "dedup.oversized_buckets" -> "count",
    "index.files_before_compact" -> "count", "index.files_after_compact" -> "count",
    "index.bytes" -> "bytes")

  /** Micro-batch phases from the streaming progress `durationMs`. */
  val StreamPhases: Seq[(String, String)] = Seq(
    "streaming.add_batch_s" -> "addBatch", "streaming.planning_s" -> "queryPlanning",
    "streaming.wal_commit_s" -> "walCommit", "streaming.commit_offsets_s" -> "commitOffsets")

  val SparkCounterUnits: Seq[(String, String)] = Seq(
    "jobs" -> "count", "tasks" -> "count", "executor_run_s" -> "s", "executor_cpu_s" -> "s",
    "gc_s" -> "s", "shuffle_read_bytes" -> "bytes", "shuffle_write_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "input_bytes" -> "bytes", "output_bytes" -> "bytes")

  def metrics(tr: Trace, counters: SparkCounters, progress: StreamProgress,
              traced: Seq[Main.PassRec], untracedWall: Double, cores: Int): Seq[(String, String, Double)] = {
    val ps = traced.map(_.p)
    def perPass(f: Int => Double) = Stats.median(ps.map(f))
    def spansOf(p: Int, n: String) = tr.spans.filter(s => s.pass == p && s.name == n)
    def spanSum(p: Int, n: String) = spansOf(p, n).map(_.seconds).sum
    def batches(p: Int) = progress.of(DedupIngest.query(p))

    val times = SpanTimes.map(n => (n + "_s", "s", perPass(spanSum(_, n)))) :+
      (("dedup.stages_sum_s", "s", perPass(p => DedupStages.map(spanSum(p, _)).sum)))
    val counts = Counts.map { case (n, u) => (n, u, perPass(p => tr.counts.getOrElse((p, n), 0.0))) }

    val allBatches = ps.flatMap(batches)
    val phases = StreamPhases.map { case (n, k) =>
      (n, "s", Stats.median(allBatches.map(_.durations.getOrElse(k, 0L) / 1e3)))
    }
    def perBatch(f: (Span, Map[String, Double]) => Double) = perPass { p =>
      val n = batches(p).size
      spansOf(p, "streaming.ingest").headOption.filter(_ => n > 0)
        .map(s => f(s, counters.within(s.startMs, s.endMs)) / n).getOrElse(0.0)
    }
    val streaming = phases ++ Seq(
      ("streaming.jobs_per_batch", "count", perBatch((_, c) => c("jobs"))),
      ("streaming.driver_gap_s", "s", perBatch((s, c) => s.seconds - c("job_covered_s"))))

    def perPassCounters(f: (Span, Map[String, Double]) => Double) = perPass { p =>
      spansOf(p, "pass").headOption.map(s => f(s, counters.within(s.startMs, s.endMs))).getOrElse(0.0)
    }
    val spark = SparkCounterUnits.map { case (k, u) => ("spark." + k, u, perPassCounters((_, c) => c(k))) } ++ Seq(
      ("spark.driver_gap_s", "s", perPassCounters((s, c) => s.seconds - c("job_covered_s"))),
      ("spark.busy_ratio", "ratio", perPassCounters((s, c) => c("executor_run_s") / (s.seconds * cores))))

    val tracedWall = Stats.median(traced.map(_.seconds))
    val overhead = Seq(
      ("trace.wall_s", "s", tracedWall),
      ("trace.untraced_wall_s", "s", untracedWall),
      ("trace.overhead_s", "s", tracedWall - untracedWall))
    times ++ counts ++ streaming ++ spark ++ overhead
  }

  /** BASELINE.md's per-cell seconds (2,389,217 rows) for the cells each
    * flight_etl span covers. */
  val Baseline: Seq[(String, Double, String)] = Seq(
    ("etl.load", 0.84, "load + preview"),
    ("quality.census", 9.80 + 9.30, "non-null census; null census + count"),
    ("quality.describe", 16.41, "describe() 2008"),
    ("quality.histogram", 47.65, "28 histogram collects"),
    ("quality.consistency", 7.63, "4 consistency groupBy"),
    ("etl.pipeline", 24.17 + 20.54 + 11.10 + 15.10, "dedup suite; 10 validity passes; daily counts; gap join"),
    ("io.write", 0.33 + 28.24, "SizeEstimator; coalesce(1) + parquet write"),
    ("io.readback", 3.40, "parquet read-back"))
  val BaselineRows = 2389217L
  val BaselineComputeS = 242.6

  /** Per-span medians next to BASELINE.md's rows. A report, not a gate:
    * the rows differ unless the run used `--scale` at the reference
    * row count. */
  def baselineJson(tr: Trace, rows: Long): String = {
    val passes = tr.spans.filter(_.name == "pass").map(_.pass).distinct.toSeq
    val cells = Baseline.map { case (span, base, cells) =>
      val ours = Stats.median(passes.map(p => tr.spans.filter(s => s.pass == p && s.name == span).map(_.seconds).sum))
      (span, base, cells, ours)
    }
    val total = cells.map(_._4).sum
    Json.obj(Seq(
      "rows" -> rows.toString, "baseline_rows" -> BaselineRows.toString,
      "total_s" -> Json.num(total),
      "ratio_to_baseline_compute" -> Json.num(total / BaselineComputeS),
      "cells" -> Json.arr(cells.map { case (span, base, cells, ours) =>
        Json.obj(Seq("span" -> Json.str(span), "s" -> Json.num(ours),
          "baseline_s" -> Json.num(base), "ratio" -> Json.num(ours / base),
          "baseline_cells" -> Json.str(cells)))
      })))
  }

  /** Every span with its self time and inclusive Spark counters, the
    * recorded counts, and every micro-batch's progress. */
  def traceJson(tr: Trace, counters: SparkCounters, progress: StreamProgress,
                workload: String, seed: Long): String = {
    val spans = tr.spans.sortBy(_.id).map { s =>
      Json.obj(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "pass" -> s.pass.toString, "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "s" -> Json.num(s.seconds), "self_s" -> Json.num(tr.selfSeconds(s)),
        "fs_read_bytes" -> s.fsReadBytes.toString) ++
        counters.within(s.startMs, s.endMs).toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    }
    val counts = tr.counts.toSeq.sortBy(_._1).map { case ((p, n), v) =>
      Json.obj(Seq("pass" -> p.toString, "name" -> Json.str(n), "value" -> Json.num(v)))
    }
    val batches = progress.events.toArray(Array.empty[Progress]).toSeq.map { b =>
      Json.obj(Seq("query" -> Json.str(b.query), "batch" -> b.batchId.toString,
        "rows" -> b.rows.toString) ++
        b.durations.toSeq.sortBy(_._1).map { case (k, v) => (k + "_ms") -> v.toString })
    }
    Json.obj(Seq("workload" -> Json.str(workload), "seed" -> seed.toString,
      "spans" -> Json.arr(spans.toSeq), "counts" -> Json.arr(counts), "batches" -> Json.arr(batches)))
  }
}
