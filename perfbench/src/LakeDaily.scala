package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Pipeline
import graft.io.{LakeZones, ServingSink}
import graft.marts.Marts
import graft.ops.Relational
import graft.staging.Staging

/** lake_daily: the paper's traffic. One caller runs `Pipeline.backfill`
  * one snapshot day at a time over a seeded raw zone of 20-movie days;
  * a day's cost is per-job and per-file overhead, not data volume.
  *
  * Untraced: warm-up days, then timed days until the run's seconds pass;
  * the lake is checked against what the generator planted.
  * Traced: timed days run untraced and traced in the order
  * [[Trace.tracedTurn]] gives; the difference of the two medians is the
  * tracing overhead. A traced day
  * runs the real `Pipeline.backfill` under one span, then replays
  * `Pipeline.run`'s public calls in order, each under its own span, into
  * a second lake, and checks the replay wrote what the real day wrote. */
object LakeDaily extends Workload {

  // a fresh process's first day runs ~4x a steady day and days keep
  // getting faster, by ~20% from day 7 to day 13; more warm-up days do
  // not fit the run's time budget
  val WarmupDays = 8

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val cfg = Pipeline.Config(rawRoot = s"${ctx.work}/raw", lakeRoot = s"${ctx.work}/lake",
      servingDir = s"${ctx.work}/serving", snapshotDate = "", runId = "perfbench")
    val replayCfg = cfg.copy(lakeRoot = s"${ctx.work}/lake_replay",
      servingDir = s"${ctx.work}/serving_replay")
    val gen = new LakeGen(ctx.seed, cfg.rawRoot)
    val days = mutable.ArrayBuffer[LakeGen.Day]()

    def realDay(d: LakeGen.Day): Double = {
      val t0 = System.nanoTime()
      Pipeline.backfill(spark, cfg, Seq(d.date), retries = 0)
      (System.nanoTime() - t0) / 1e9
    }
    def nextDay(): LakeGen.Day = { val d = gen.nextDay(); days += d; d }
    // (bytes on disk in the formatted, usage and serving outputs,
    // raw-zone bytes the generator wrote)
    def lakeAndRawBytes(): (Long, Long) = (Seq(s"${cfg.lakeRoot}/formatted",
      s"${cfg.lakeRoot}/usage", cfg.servingDir).map(ctx.du(_)._1).sum, days.map(_.rawBytes).sum)

    (0 until WarmupDays).foreach { i =>
      System.err.println(f"[perfbench] warm-up day $i%d ${realDay(nextDay())}%.4f s")
    }
    val setupS = ctx.sinceStart

    if (!ctx.traced) {
      val (walls, failed) = ctx.closedLoop(minOps = 1)(_ => realDay(nextDay()))
      checkLake(ctx, cfg, days.toSeq)
      val (tail, pct, n) = Stats.tail(walls)
      val (outBytes, rawBytes) = lakeAndRawBytes()
      val measured = days.takeRight(walls.size)
      Outcome(walls.size + failed, failed, Seq(
        Metric("setup_s", setupS, "s"),
        Metric("op_p50_s", Stats.median(walls), "s"),
        Metric("docs_per_s", measured.map(_.nbMovies).sum / walls.sum, "1/s"),
        Metric("live_heap_mb", ctx.liveHeapMb, "MB")),
        Seq(s"day_walls_s=${walls.map(w => f"$w%.4f").mkString(",")}",
          f"day_p50_s=${Stats.median(walls)}%.4f s",
          f"day_tail_s=$tail%.4f s (p$pct%.1f of $n days)",
          f"lake_bytes_per_input_byte=${outBytes.toDouble / rawBytes}%.4f " +
            s"($outBytes lake+serving bytes / $rawBytes raw bytes over ${days.size} days)"))
    } else {
      val untraced = mutable.ArrayBuffer[Double]()
      val traced = mutable.ArrayBuffer[Double]()
      val exportBytes = mutable.ArrayBuffer[(Long, Long)]()
      val serveBytes = mutable.ArrayBuffer[(Long, Long)]()
      val (_, failed) = ctx.closedLoop(minOps = 4) { i =>
        val d = nextDay()
        if (!Trace.tracedTurn(i)) { val w = realDay(d); untraced += w; w }
        else {
          ctx.trace.start()
          val w = ctx.trace.span("Pipeline.day")(realDay(d))
          traced += w
          val (e, s) = replay(ctx, replayCfg.copy(snapshotDate = d.date))
          ctx.trace.stop()
          exportBytes += e; serveBytes += s
          checkReplay(ctx, cfg, replayCfg, d.date)
          w
        }
      }
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      val (outBytes, rawBytes) = lakeAndRawBytes()
      Outcome(untraced.size + traced.size + failed, failed, Seq(
        Metric("LakeZones.exportAll.bytes_written", med(exportBytes.map(_._1.toDouble).toSeq), "bytes"),
        Metric("LakeZones.exportAll.files_written", med(exportBytes.map(_._2.toDouble).toSeq), "count"),
        Metric("ServingSink.writeBulk.bytes_written", med(serveBytes.map(_._1.toDouble).toSeq), "bytes"),
        Metric("ServingSink.writeBulk.files_written", med(serveBytes.map(_._2.toDouble).toSeq), "count"),
        Metric("LakeZones.lake.bytes_per_input_byte", outBytes.toDouble / rawBytes, "ratio"),
        Metric("bench.op_untraced_p50_s", med(untraced.toSeq), "s"),
        Metric("bench.op_traced_p50_s", med(traced.toSeq), "s"),
        Metric("bench.trace_overhead_s", med(traced.toSeq) - med(untraced.toSeq), "s")))
    }
  }

  /** `Pipeline.run`'s public calls, in its order, one span each. The
    * replay runs them one after another (the real day overlaps export
    * and serving) so each layer's jobs and wall are its own; the mart is
    * materialized by its own action so the gates' span holds only the
    * gates. Returns the (bytes, files) each writing span added. */
  private def replay(ctx: Ctx, cfg: Pipeline.Config): ((Long, Long), (Long, Long)) = {
    val t = ctx.trace
    t.span("Pipeline.replay") {
      val (rawPop, rawDet, rawOmdb) =
        t.span("RawZone.loadRaw")(Pipeline.loadRaw(ctx.spark, cfg))
      val stgPop = Staging.stgTmdbPopular(rawPop)
      val stgDet = Staging.stgTmdbDetails(rawDet)
      val stgOmdb = Staging.stgOmdbRatings(rawOmdb)
      val enriched = Marts.moviesEnrichedDaily(stgPop, stgDet, stgOmdb)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        t.span("Marts.moviesEnrichedDaily")(enriched.count())
        val kpi = Marts.kpiDailySummary(enriched)
        t.span("Relational.assertQualityAll")(Relational.assertQualityAll(Seq(
          ("raw_tmdb_popular", rawPop, Seq("tmdb_id"), Seq("snapshot_date", "tmdb_id")),
          ("raw_tmdb_details", rawDet, Seq("tmdb_id"), Seq("snapshot_date", "tmdb_id")),
          ("raw_omdb_ratings", rawOmdb, Seq("imdb_id"), Seq("snapshot_date", "imdb_id")),
          ("movies_enriched_daily", enriched, Seq("snapshot_date", "tmdb_id", "title"),
            Seq("snapshot_date", "tmdb_id")),
          ("kpi_daily_summary", kpi, Seq("snapshot_date", "nb_movies"), Seq("snapshot_date")))))
        val lake0 = ctx.du(cfg.lakeRoot)
        t.span("LakeZones.exportAll")(LakeZones.exportAll(Map(
          "stg_tmdb_popular" -> stgPop, "stg_tmdb_details" -> stgDet,
          "stg_omdb_ratings" -> stgOmdb, "movies_enriched_daily" -> enriched,
          "kpi_daily_summary" -> kpi), cfg.lakeRoot))
        val lake1 = ctx.du(cfg.lakeRoot)
        val serve0 = ctx.du(cfg.servingDir)
        t.span("ServingSink.writeBulk") {
          ServingSink.bootstrapMapping(enriched, cfg.servingDir,
            "movies_enriched_daily", ServingSink.movieFieldSpec)
          ServingSink.writeBulk(enriched, cfg.servingDir,
            "movies_enriched_daily", Seq("snapshot_date", "tmdb_id"))
          ServingSink.bootstrapMapping(kpi, cfg.servingDir,
            "movies_kpis_daily", ServingSink.kpiFieldSpec)
          ServingSink.writeBulk(kpi, cfg.servingDir, "movies_kpis_daily", Seq("snapshot_date"))
        }
        val serve1 = ctx.du(cfg.servingDir)
        ((lake1._1 - lake0._1, lake1._2 - lake0._2),
          (serve1._1 - serve0._1, serve1._2 - serve0._2))
      } finally enriched.unpersist()
    }
  }

  private def tables(ctx: Ctx, cfg: Pipeline.Config): Seq[(String, DataFrame)] =
    LakeZones.exports.values.toSeq.sorted.map { case (zone, name) =>
      s"$zone/$name" -> LakeZones.readTable(ctx.spark, cfg.lakeRoot, zone, name)
    }

  /** The replay's lake rows and serving payload for `date` equal the
    * real day's. */
  private def checkReplay(ctx: Ctx, real: Pipeline.Config, rep: Pipeline.Config,
                          date: String): Unit = {
    tables(ctx, real).zip(tables(ctx, rep)).foreach { case ((name, a), (_, b)) =>
      val da = a.filter(col("snapshot_date") === date)
      val db = b.filter(col("snapshot_date") === date)
      ctx.check(da.exceptAll(db).isEmpty && db.exceptAll(da).isEmpty,
        s"replay of $date differs from Pipeline.run in $name")
    }
    Seq("movies_enriched_daily", "movies_kpis_daily").foreach { idx =>
      ctx.check(bulk(real.servingDir, idx) == bulk(rep.servingDir, idx),
        s"replay of $date differs from Pipeline.run in serving index $idx")
    }
  }

  private def bulk(dir: String, index: String): Seq[String] = {
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, s"$index.bulk"))
    try st.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .flatMap(p => java.nio.file.Files.readAllLines(p).toArray.toSeq.map(_.toString))
      .sorted
    finally st.close()
  }

  /** Every day's KPI row carries the counts the generator planted, each
    * lake table holds the planted rows per day, and the serving payload
    * holds the last day's documents. */
  private def checkLake(ctx: Ctx, cfg: Pipeline.Config, days: Seq[LakeGen.Day]): Unit = {
    val want = days.map(d => d.date -> d).toMap
    val kpi = LakeZones.readTable(ctx.spark, cfg.lakeRoot, "usage", "kpi_daily")
      .select(col("snapshot_date").cast("string"), col("nb_movies"), col("nb_movies_with_omdb"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    ctx.check(kpi.keySet == want.keySet,
      s"kpi_daily has days ${kpi.size}, generator planted ${want.size}")
    for ((date, d) <- want; (nb, withOmdb) <- kpi.get(date)) {
      ctx.check(nb == d.nbMovies, s"$date nb_movies $nb != planted ${d.nbMovies}")
      ctx.check(withOmdb == d.nbWithOmdb,
        s"$date nb_movies_with_omdb $withOmdb != planted ${d.nbWithOmdb}")
    }
    val planted: Map[String, LakeGen.Day => Long] = Map(
      "formatted/tmdb_popular" -> (_.nbMovies.toLong),
      "formatted/tmdb_details" -> (_.nbDetails.toLong),
      "formatted/omdb_ratings" -> (_.nbOmdbRows.toLong),
      "usage/movies_enriched" -> (_.nbMovies.toLong),
      "usage/kpi_daily" -> (_ => 1L))
    tables(ctx, cfg).foreach { case (name, df) =>
      val got = df.groupBy(col("snapshot_date").cast("string")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val exp = want.map { case (date, d) => date -> planted(name)(d) }
      ctx.check(got == exp, s"$name rows per day differ from planted: " +
        (exp.keySet ++ got.keySet).toSeq.sorted
          .filter(k => got.get(k) != exp.get(k)).take(3)
          .map(k => s"$k got ${got.get(k)} want ${exp.get(k)}").mkString("; "))
    }
    val last = days.last
    ctx.check(bulk(cfg.servingDir, "movies_enriched_daily").size == 2 * last.nbMovies,
      s"serving bulk for ${last.date} lacks ${last.nbMovies} action/doc pairs")
    ctx.check(bulk(cfg.servingDir, "movies_kpis_daily").size == 2,
      s"serving kpi bulk for ${last.date} is not one action/doc pair")
  }
}
