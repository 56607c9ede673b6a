package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least 10 samples beyond it: the
    * 11th-largest sample, at percentile 100·(n−10)/n. With 10 or fewer
    * samples there is none; the maximum stands in and the percentile
    * reads 100. Returns (value, percentile, sample count). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n > 10) (s(n - 11), 100.0 * (n - 10) / n, n) else (s.last, 100.0, n)
  }
}

final case class Metric(name: String, value: Double, unit: String)

/** What one run of a workload reports. `attempted` counts timed
  * operations; `failed` counts failed operations plus failed output
  * checks, so failed / attempted is the run's error rate. */
final case class Outcome(attempted: Int, failed: Int, metrics: Seq[Metric],
                         notes: Seq[String] = Nil)

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val traced: Boolean, val work: String, val data: String, val cores: Int,
                val jvmStartMs: Long) {
  val trace = new Trace(spark.sparkContext, f"$seed%d-${System.currentTimeMillis()}%d")
  val failures = mutable.ArrayBuffer[String]()

  def fail(msg: String): Unit = {
    System.err.println(s"[perfbench] FAIL $msg")
    failures += msg
  }

  /** Record an output check. */
  def check(cond: Boolean, msg: => String): Unit = if (!cond) fail(msg)

  /** Seconds from JVM start to now. */
  def sinceStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  private val liveHeap = mutable.ArrayBuffer[Double]()

  /** Heap in use after a full collection at the end of a timed
    * operation, in MB, median over the run's operations: what the
    * program still holds between operations. */
  def liveHeapMb: Double = Stats.median(liveHeap.toSeq)

  /** Run `op(i)` for i = 0, 1, … as a closed loop (the next operation
    * starts when the previous one ends) until `seconds` have passed,
    * and at least `minOps` operations ran. `op` returns its own timed
    * wall in seconds (untimed preparation and checks stay out of it).
    * After each operation, untimed, a full collection runs and the heap
    * still in use is recorded, so every operation also starts on a
    * collected heap. A failed operation counts and the loop goes on. */
  def closedLoop(minOps: Int)(op: Int => Double): (Seq[Double], Int) = {
    val walls = mutable.ArrayBuffer[Double]()
    var failed = 0
    var i = 0
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds || i < minOps) {
      try {
        val w = op(i)
        walls += w
        System.err.println(f"[perfbench] op $i%d $w%.4f s")
      }
      catch {
        case NonFatal(e) =>
          failed += 1
          fail(s"operation $i: $e")
          e.printStackTrace()
      }
      System.gc()
      liveHeap += java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1048576.0
      System.err.println(f"[perfbench] live heap ${liveHeap.last}%.1f MB")
      i += 1
    }
    (walls.toSeq, failed)
  }

  /** Size and count of the regular files under `dir`. */
  def du(dir: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) (0L, 0L)
    else {
      val st = java.nio.file.Files.walk(root)
      try {
        var bytes = 0L; var files = 0L
        st.forEach { p =>
          if (java.nio.file.Files.isRegularFile(p)) {
            bytes += java.nio.file.Files.size(p); files += 1
          }
        }
        (bytes, files)
      } finally st.close()
    }
  }

  /** Timing and counter rows of every span called `name`, as medians
    * over its occurrences: `<name>.<counter>`. */
  def spanMetrics(name: String, counters: Seq[String]): Seq[Metric] = {
    val all = trace.spans
    val counts = trace.spanCounters
    val mine = all.filter(_.name == name)
    val kids = all.groupBy(_.parent)
    def med(f: Trace.Span => Double): Double =
      if (mine.isEmpty) 0.0 else Stats.median(mine.map(f))
    def c(s: Trace.Span) = trace.counters(s, all, counts)
    def selfS(s: Trace.Span): Double = {
      // span wall minus the union of its children's intervals
      val iv = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)).sortBy(_._1)
      var covered = 0L; var reach = s.start
      iv.foreach { case (a, b) =>
        val lo = math.max(a, reach)
        if (b > lo) { covered += b - lo; reach = b }
      }
      (s.end - s.start - covered) / 1e9
    }
    counters.map {
      case "wall_s" => Metric(s"$name.wall_s", med(_.wallS), "s")
      case "self_s" => Metric(s"$name.self_s", med(selfS), "s")
      case "jobs" => Metric(s"$name.jobs", med(c(_).jobs.toDouble), "count")
      case "stages" => Metric(s"$name.stages", med(c(_).stages.toDouble), "count")
      case "tasks" => Metric(s"$name.tasks", med(c(_).tasks.toDouble), "count")
      case "task_cpu_s" => Metric(s"$name.task_cpu_s", med(c(_).taskCpuNs / 1e9), "s")
      case "task_gc_s" => Metric(s"$name.task_gc_s", med(c(_).taskGcMs / 1e3), "s")
      case "shuffle_read_bytes" =>
        Metric(s"$name.shuffle_read_bytes", med(c(_).shuffleRead.toDouble), "bytes")
      case "shuffle_write_bytes" =>
        Metric(s"$name.shuffle_write_bytes", med(c(_).shuffleWrite.toDouble), "bytes")
      case "spill_bytes" => Metric(s"$name.spill_bytes", med(c(_).spill.toDouble), "bytes")
      case "task_skew" => Metric(s"$name.task_skew", med(c(_).taskSkew), "ratio")
      case "driver_s" =>
        Metric(s"$name.driver_s", med(s => s.wallS - c(s).taskRunMs / 1e3 / cores), "s")
      case other => throw new IllegalArgumentException(s"unknown span counter $other")
    }
  }
}

/** One workload: set up (generate inputs, bootstrap, warm up), run the
  * timed closed loop, check outputs, report. */
trait Workload {
  def run(ctx: Ctx): Outcome
}
