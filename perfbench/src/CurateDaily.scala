package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.{Curate, CurateIncremental, Dedup, Sampling, Similarity, Sketches}

/** Incremental curation, traced: the end of the traced text_dedup run.
  * It is not a timed workload of its own (the benchmark's README says
  * why); it gives `CurateIncremental.daily` and the state stores their
  * per-layer numbers.
  *
  * Setup folds DSIR target/raw profiles from a seeded corpus
  * ([[CurateCorpus]]) and bootstraps a `CurateIncremental` state from
  * half of it with the multi-lane recipe — exact-Jaccard entity index on
  * word 3-shingles, DSIR selection, embedding near-dup tables. Then one
  * untraced warm-up delta and [[Deltas]] traced ones, each a fixed-size
  * daily delta (re-crawls, truncations, alias copies, reversed-text
  * embedding twins, novel docs) landed as parquet like a day's crawl and
  * applied through `CurateIncremental.daily`; every delta's survivors
  * are appended, so the state grows. Each delta's bytes and files
  * written are the diff of the state root around it.
  *
  * Check: after the last delta the state's survivors equal one full
  * `Curate.curate` (plus the embedding collapse the bootstrap applies)
  * over the bootstrap half ∪ every delta. Copies are only ever made of
  * target docs already in the state, with larger ids, so the incremental
  * and the batch survivor rules agree on every planted duplicate. */
object CurateDaily {

  val BootstrapDocs = 200
  val DeltaDocs = 40
  val Deltas = 2

  val ecfg = CurateIncremental.EmbedConfig(threshold = 0.99, nPlanes = 8,
    prefixBits = 8, seeds = Seq(42L, 1042L), dim = CurateCorpus.Dim)
  // 4,096 DSIR buckets: the target and raw vocabularies barely collide,
  // so every target doc is kept — the batch check relies on copies'
  // originals surviving
  val HexDigits = 3

  private val sh3: Column => Column = t => {
    val ws = split(trim(t), "\\s+")
    val len = greatest(size(ws) - 2, lit(0))
    zip_with(zip_with(slice(ws, lit(1), len), slice(ws, lit(2), len),
      (a, b) => concat(a, lit(" "), b)), slice(ws, lit(3), len),
      (ab, c) => concat(ab, lit(" "), c))
  }

  def traced(ctx: Ctx): Seq[Metric] = {
    val spark = ctx.spark
    import spark.implicits._
    val root = s"${ctx.work}/curate"
    val state = s"$root/state"
    val corpus = new CurateCorpus(ctx.seed, BootstrapDocs)
    def land(name: String, docs: Seq[CurateCorpus.Doc]): DataFrame = {
      val p = s"$root/landing/$name"
      docs.map(d => (d.id, d.text, s"src${d.src}", d.vec)).toDF("doc_id", "text", "source", "v")
        .coalesce(1).write.parquet(p)
      spark.read.parquet(p)
    }
    val bench = Seq((900000000L, "benchmark holdout phrase matching nothing in this corpus"))
      .toDF("doc_id", "text")

    val boot = land("bootstrap", corpus.bootstrapDocs)
    val isT = regexp_extract(col("source"), "([0-9]+)", 1).cast("int") % 4 === 0
    def fold(p: String, d: DataFrame) =
      Sampling.dsirProfileUpdateState(spark, p, d, "text", "day1", hexDigits = HexDigits)
    fold(s"$root/dsir_t", boot.filter(isT))
    fold(s"$root/dsir_r", boot.filter(!isT))
    val cfg = Curate.Config(nearDupThreshold = 2.0,
      entityExact = Some(Curate.EntityExact(sh3, 2L, 3L)),
      dsir = Some(Curate.Dsir(Sketches.readState(spark, s"$root/dsir_t"),
        Sketches.readState(spark, s"$root/dsir_r"), hexDigits = HexDigits)))
    CurateIncremental.bootstrap(boot.select("doc_id", "text"), bench, "doc_id", "text",
      state, cfg, vecs = Some(boot.select("doc_id", "v")), vecCol = "v", ecfg = ecfg).release()

    val deltas = mutable.ArrayBuffer[DataFrame]()
    def delta(i: Int): (Long, Long) = {
      val d = land(s"delta-$i", corpus.nextDelta(DeltaDocs))
      deltas += d
      val before = ctx.du(state)
      ctx.trace.span("CurateIncremental.daily") {
        CurateIncremental.daily(d.select("doc_id", "text"), bench, "doc_id", "text", state, cfg,
          deltaVecs = Some(d.select("doc_id", "v")), vecCol = "v", ecfg = ecfg).release()
      }
      val after = ctx.du(state)
      (after._1 - before._1, after._2 - before._2)
    }
    delta(0)
    ctx.trace.start()
    val written = (1 to Deltas).map(delta)
    ctx.trace.stop()

    checkAgainstBatch(ctx, boot, deltas.toSeq, bench, cfg, state)
    val liveDocs = CurateIncremental.loadState(spark, state).corpus.count()
    Seq(
      Metric("StateStore.daily.bytes_written", Stats.median(written.map(_._1.toDouble)), "bytes"),
      Metric("StateStore.daily.files_written", Stats.median(written.map(_._2.toDouble)), "count"),
      Metric("StateStore.state.files_per_bucket",
        CurateIncremental.stateFilesPerBucket(spark, state), "count"),
      Metric("StateStore.state.bytes_per_doc", ctx.du(state)._1.toDouble / liveDocs, "bytes"))
  }

  /** The state's survivors equal the batch recipe over everything the
    * run fed it: text stages via `Curate.curate`, then the embedding
    * near-dup collapse over the text survivors' vectors. */
  private def checkAgainstBatch(ctx: Ctx, boot: DataFrame, deltas: Seq[DataFrame],
                                bench: DataFrame, cfg: Curate.Config, state: String): Unit = {
    val all = deltas.foldLeft(boot)(_ unionByName _)
    val r = Curate.curate(all.select("doc_id", "text"), bench, "doc_id", "text", cfg)
    try {
      val vecs = all.select("doc_id", "v").join(r.corpus.select("doc_id"), Seq("doc_id"), "left_semi")
      val pairs = Similarity.embeddingNearDupsQuantized(vecs, "doc_id", "v", ecfg.threshold,
        ecfg.nPlanes, ecfg.prefixBits, ecfg.seeds, ecfg.quantScale, ecfg.dim)
      val want = Dedup.survivorsTransitive(vecs, pairs, "doc_id")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val got = CurateIncremental.loadState(ctx.spark, state).corpus
        .select("doc_id").collect().map(_.getLong(0)).toSet
      ctx.check(got == want, s"incremental survivors differ from the batch recipe: " +
        s"${(got -- want).size} only incremental ${(got -- want).take(5)}, " +
        s"${(want -- got).size} only batch ${(want -- got).take(5)}")
    } finally r.release()
  }
}
