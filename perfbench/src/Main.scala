package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark process: `perfbench.Main --workload NAME --seed N
  * --seconds S --trace 0|1 --work DIR --data DIR [--spans FILE]`.
  *
  * Prints a human-readable summary, then as its last stdout line one
  * JSON object {correct, attempted, failed, metrics}. With --trace 0 the
  * metrics are the end-to-end set, measured with no listener attached;
  * with --trace 1 they are the per-layer set of [[Layers]], from spans
  * recorded around the library's public calls. Everything the run
  * writes stays under --work. */
object Main {

  val workloads: Map[String, Workload] = Map(
    "lake_daily" -> LakeDaily,
    "text_dedup" -> TextDedup)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val name = need("workload")
    val workload = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") match {
      case "0" => false
      case "1" => true
      case t => sys.error(s"--trace must be 0 or 1, got $t")
    }
    val work = new java.io.File(need("work")).getAbsolutePath
    val data = new java.io.File(need("data")).getAbsolutePath
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val ctx = new Ctx(spark, seed, seconds, traced, work, data, cores, jvmStart)
    val outcome =
      try workload.run(ctx)
      finally {
        for (p <- kv.get("spans") if traced)
          ctx.trace.writeSpans(java.nio.file.Paths.get(p))
      }
    spark.stop()

    val failed = outcome.failed + ctx.failures.size
    val metrics =
      if (!traced) outcome.metrics
      else Layers.complete(
        Layers.spans.flatMap { case (s, cs) => ctx.spanMetrics(s, cs) } ++ outcome.metrics)
    println(s"[perfbench] workload=$name seed=$seed trace=${if (traced) 1 else 0} " +
      s"cores=$cores attempted=${outcome.attempted} failed=$failed " +
      f"error_rate=${failed.toDouble / math.max(outcome.attempted, 1)}%.4f")
    outcome.notes.foreach(n => println(s"[perfbench] $n"))
    metrics.foreach(m => println(f"[perfbench]   ${m.name}%-48s ${m.value}%16.6f ${m.unit}"))
    println(json(failed == 0 && ctx.failures.isEmpty, outcome.attempted, failed, metrics))
  }

  private def json(correct: Boolean, attempted: Int, failed: Int,
                   metrics: Seq[Metric]): String = {
    def num(v: Double) =
      if (v.isNaN || v.isInfinite) sys.error(s"metric value $v is not a number")
      else java.math.BigDecimal.valueOf(v).toPlainString
    val ms = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

/** The per-layer metric set every traced run reports, whichever
  * workload it runs: a layer a workload does not reach reads 0 there
  * (the prediction that it stays unchanged). Span names are the public
  * calls the benchmark wraps, `<layer>.<call>`. */
object Layers {
  private val full = Seq("wall_s", "jobs", "stages", "tasks", "task_cpu_s",
    "task_gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "task_skew", "driver_s")

  val spans: Seq[(String, Seq[String])] = Seq(
    // lake_daily: the real day, then the replay of Pipeline.run's calls
    "Pipeline.day" -> Seq("wall_s", "jobs", "stages", "tasks", "task_cpu_s",
      "shuffle_read_bytes", "task_skew", "driver_s"),
    "Pipeline.replay" -> Seq("wall_s", "self_s"),
    "RawZone.loadRaw" -> Seq("wall_s", "jobs"),
    "Marts.moviesEnrichedDaily" -> Seq("wall_s", "jobs", "task_cpu_s", "driver_s"),
    "Relational.assertQualityAll" -> Seq("wall_s", "jobs", "stages", "task_cpu_s", "driver_s"),
    "LakeZones.exportAll" -> Seq("wall_s", "jobs", "task_cpu_s", "driver_s"),
    "ServingSink.writeBulk" -> Seq("wall_s", "jobs", "driver_s"),
    // text_dedup
    "Dedup.exactJaccardPairs" -> full,
    "Dedup.nearDupPairs" -> Seq("wall_s", "jobs", "task_cpu_s",
      "shuffle_read_bytes", "task_skew", "driver_s"),
    "Dedup.lshCandidates" -> Seq("wall_s", "jobs", "task_cpu_s",
      "shuffle_read_bytes", "task_skew", "driver_s"),
    "Dedup.jaccardOnPairs" -> Seq("wall_s", "jobs", "task_cpu_s",
      "shuffle_read_bytes", "driver_s"),
    "Retrieval.cosineSelfJoin" -> full,
    // incremental curation, traced at the end of the text_dedup run
    "CurateIncremental.daily" -> full)

  /** Rows that are not span counters: byte and file diffs of output
    * directories, ratios, and the tracing overhead. */
  val extras: Seq[(String, String)] = Seq(
    "LakeZones.exportAll.bytes_written" -> "bytes",
    "LakeZones.exportAll.files_written" -> "count",
    "ServingSink.writeBulk.bytes_written" -> "bytes",
    "ServingSink.writeBulk.files_written" -> "count",
    "LakeZones.lake.bytes_per_input_byte" -> "ratio",
    "Dedup.lshCandidates.candidates" -> "count",
    "Dedup.nearDupPairs.lsh_yield" -> "ratio",
    "StateStore.daily.bytes_written" -> "bytes",
    "StateStore.daily.files_written" -> "count",
    "StateStore.state.files_per_bucket" -> "count",
    "StateStore.state.bytes_per_doc" -> "bytes",
    "bench.op_untraced_p50_s" -> "s",
    "bench.op_traced_p50_s" -> "s",
    "bench.trace_overhead_s" -> "s")

  /** `measured` completed to the full per-layer set, in a fixed order. */
  def complete(measured: Seq[Metric]): Seq[Metric] = {
    val byName = measured.map(m => m.name -> m).toMap
    val names = spans.flatMap { case (s, cs) => cs.map(c => s"$s.$c") } ++ extras.map(_._1)
    val unknown = byName.keySet -- names
    require(unknown.isEmpty, s"per-layer metrics outside the declared set: $unknown")
    names.map(n => byName.getOrElse(n, Metric(n, 0.0, unitOf(n))))
  }

  private def unitOf(n: String): String =
    extras.toMap.getOrElse(n, n.split('.').last match {
      case "wall_s" | "self_s" | "task_cpu_s" | "task_gc_s" | "driver_s" => "s"
      case "jobs" | "stages" | "tasks" => "count"
      case "task_skew" => "ratio"
      case _ => "bytes"
    })
}
