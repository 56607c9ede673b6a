package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Par, Retrieval}

/** text_dedup: three full-corpus, read-only operators over a seeded
  * resample of the sf0.1 `documents` table ([[TextCorpus]]: planted
  * duplicate families, a boilerplate phrase on 20% of the docs, so its
  * shingles are hot tokens) — exact Jaccard ≥ 1/2 on word 3-shingles,
  * MinHash LSH near-dup pairs at 0.5, and the exact tf-cosine self-join
  * at 0.87. One operation is one pass of the three, each collected in
  * full. Their work is tokenize/shingle, candidate generation, verify
  * and shuffle; there is no state and no lake write.
  *
  * Untraced: two warm-up passes, then timed passes until the run's
  * seconds pass. Traced: passes run untraced and traced in the order
  * [[Trace.tracedTurn]] gives; a traced pass makes the same three calls
  * as an untraced one, each under its span, so the difference of the two
  * medians is the tracing overhead. After a traced pass, untimed,
  * `nearDupPairs`' two steps run on their own — `lshCandidates`, kept
  * distributed, then `jaccardOnPairs` on it — for a span each and the
  * LSH yield; their pairs must equal `nearDupPairs`'. The traced run
  * then ends with the traced incremental-curation section,
  * [[CurateDaily]].
  *
  * Every pass is checked: each planted exact copy is found by all three
  * operators, every planted pair whose recomputed Jaccard is ≥ 1/2 is
  * found by the exact operator, and every reported pair's Jaccard or
  * cosine, recomputed here from the raw text, meets the threshold. */
object TextDedup extends Workload {

  val Docs = 600
  // 30 planted docs, 5% of the corpus: the sf0.1 table's own share of
  // near-duplicates (250 of its 5,000 docs)
  val Families = 10
  val LshThreshold = 0.5

  final case class Pass(exact: Seq[Row], lsh: Seq[Row], cosine: Seq[Row],
                        walls: Seq[Double])

  def run(ctx: Ctx): Outcome = {
    import ctx.spark.implicits._
    val corpus = new TextCorpus(ctx.seed,
      TextCorpus.table(s"${ctx.data}/documents_sf0.1.tsv.gz"), Docs, Families)
    val path = s"${ctx.work}/documents"
    corpus.docs.toDF("doc_id", "text").coalesce(1).write.parquet(path)
    val docs = ctx.spark.read.parquet(path)
    // word 3-shingles, as the catalog's exact-pair queries build them;
    // scan parallelism floored before the per-row shingling (Par doc)
    val shingled = Par.ensureMinPartitions(docs)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ws"))
      .withColumn("toks", expr(
        "zip_with(zip_with(slice(ws, 1, greatest(size(ws)-2, 0)), " +
          "slice(ws, 2, greatest(size(ws)-2, 0)), (a, b) -> concat(a, ' ', b)), " +
          "slice(ws, 3, greatest(size(ws)-2, 0)), (ab, c) -> concat(ab, ' ', c))"))
    val texts = corpus.docs.toMap
    val t = ctx.trace

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val x = f; (x, (System.nanoTime() - t0) / 1e9)
    }
    def ids(rows: Seq[Row]) = rows.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    def exact() = t.span("Dedup.exactJaccardPairs")(
      Dedup.exactJaccardPairs(shingled, "doc_id", col("toks"), 1L, 2L).collect().toSeq)
    def cosine() = t.span("Retrieval.cosineSelfJoin")(
      Retrieval.cosineSelfJoin(docs, "doc_id", "text", 87L, 100L).collect().toSeq)
    def nearDup() = t.span("Dedup.nearDupPairs")(
      Dedup.nearDupPairs(docs, "doc_id", "text", LshThreshold,
        shingleN = 3, k = 12, bands = 3, rows = 4).collect().toSeq)
    def pass(): Pass = {
      val (e, we) = timed(exact())
      val (l, wl) = timed(nearDup())
      val (c, wc) = timed(cosine())
      val p = Pass(e, l, c, Seq(we, wl, wc))
      checkPass(ctx, corpus, texts, p.exact, p.lsh, p.cosine)
      p
    }
    // nearDupPairs as its two public steps: (candidates, verified pairs)
    def lshSteps(want: Seq[Row]): (Long, Long) = {
      val cand = t.span("Dedup.lshCandidates") {
        val c = Dedup.lshCandidates(docs, "doc_id", "text", 3, 12, 3, 4).persist()
        c.count()
        c
      }
      try {
        val l = t.span("Dedup.jaccardOnPairs")(
          Dedup.jaccardOnPairs(cand, docs, "doc_id", "text", 3)
            .filter(col("jaccard") >= LshThreshold).collect().toSeq)
        ctx.check(ids(l) == ids(want),
          "lshCandidates then jaccardOnPairs differs from nearDupPairs")
        (cand.count(), l.size.toLong)
      } finally cand.unpersist()
    }

    // the first pass runs ~2x a steady one, the second ~1.2x
    (0 until 2).foreach(_ => System.err.println(s"[perfbench] warm-up pass ${pass().walls}"))
    val setupS = ctx.sinceStart

    if (!ctx.traced) {
      val passes = mutable.ArrayBuffer[Pass]()
      val (walls, failed) = ctx.closedLoop(minOps = 1) { _ =>
        val p = pass()
        passes += p
        System.err.println(s"[perfbench] pass ${p.walls}")
        p.walls.sum
      }
      val (tail, pct, n) = Stats.tail(walls)
      def med(i: Int) = Stats.median(passes.map(_.walls(i)).toSeq)
      Outcome(walls.size + failed, failed, Seq(
        Metric("setup_s", setupS, "s"),
        Metric("op_p50_s", Stats.median(walls), "s"),
        Metric("docs_per_s", Docs * walls.size / walls.sum, "1/s"),
        Metric("live_heap_mb", ctx.liveHeapMb, "MB")),
        Seq(s"pass_walls_s=${walls.map(w => f"$w%.4f").mkString(",")}",
          f"pass_p50_s=${Stats.median(walls)}%.4f s, pass_tail_s=$tail%.4f s " +
          f"(p$pct%.1f of $n passes over $Docs docs)",
          f"exact_jaccard_p50_s=${med(0)}%.4f s",
          f"minhash_lsh_p50_s=${med(1)}%.4f s",
          f"cosine_pairs_p50_s=${med(2)}%.4f s"))
    } else {
      val untraced = mutable.ArrayBuffer[Double]()
      val traced = mutable.ArrayBuffer[Double]()
      val yields = mutable.ArrayBuffer[(Double, Double)]()
      val (_, failed) = ctx.closedLoop(minOps = 4) { i =>
        if (!Trace.tracedTurn(i)) { val w = pass().walls.sum; untraced += w; w }
        else {
          t.start()
          val p = pass()
          val (cand, verified) = lshSteps(p.lsh)
          t.stop()
          traced += p.walls.sum
          yields += ((cand.toDouble, verified.toDouble))
          p.walls.sum
        }
      }
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      Outcome(untraced.size + traced.size + failed, failed, Seq(
        Metric("Dedup.lshCandidates.candidates", med(yields.map(_._1).toSeq), "count"),
        Metric("Dedup.nearDupPairs.lsh_yield",
          med(yields.map { case (c, v) => if (c == 0) 0.0 else v / c }.toSeq), "ratio"),
        Metric("bench.op_untraced_p50_s", med(untraced.toSeq), "s"),
        Metric("bench.op_traced_p50_s", med(traced.toSeq), "s"),
        Metric("bench.trace_overhead_s", med(traced.toSeq) - med(untraced.toSeq), "s")) ++
        CurateDaily.traced(ctx))
    }
  }

  private def shingles(t: String): Set[String] =
    t.split(' ').sliding(3).map(_.mkString(" ")).toSet

  private def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x & y).size.toDouble / (x | y).size
  }

  private def tf(t: String): Map[String, Long] =
    t.split(' ').groupBy(identity).map { case (k, v) => k -> v.length.toLong }

  private def checkPass(ctx: Ctx, corpus: TextCorpus, texts: Map[Long, String],
                        exact: Seq[Row], lsh: Seq[Row], cosine: Seq[Row]): Unit = {
    def ids(rows: Seq[Row]) = rows.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val (ex, ls, co) = (ids(exact), ids(lsh), ids(cosine))
    corpus.planted.foreach { case (b, copy, trunc, alias) =>
      val pair = (math.min(b, copy), math.max(b, copy))
      ctx.check(ex(pair) && ls(pair) && co(pair),
        s"planted exact copy $pair missed: exact=${ex(pair)} lsh=${ls(pair)} cosine=${co(pair)}")
      Seq(trunc, alias).foreach { v =>
        if (jaccard(texts(b), texts(v)) >= 0.5)
          ctx.check(ex((b, v)), s"exact Jaccard missed planted pair ($b, $v)")
      }
    }
    exact.foreach { r =>
      val (a, b) = (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
      val (sa, sb) = (shingles(texts(a)), shingles(texts(b)))
      val o = (sa & sb).size.toLong
      ctx.check(r.getAs[Long]("overlap") == o && r.getAs[Long]("n_a") == sa.size &&
        r.getAs[Long]("n_b") == sb.size && 2 * o >= sa.size + sb.size - o,
        s"exact pair ($a, $b) does not recompute to Jaccard >= 1/2")
    }
    lsh.foreach { r =>
      val (a, b) = (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
      ctx.check(jaccard(texts(a), texts(b)) >= LshThreshold,
        s"LSH pair ($a, $b) recomputes below Jaccard $LshThreshold")
    }
    cosine.foreach { r =>
      val (a, b) = (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
      val (ta, tb) = (tf(texts(a)), tf(texts(b)))
      val dot = ta.map { case (k, v) => v * tb.getOrElse(k, 0L) }.sum
      val (na, nb) = (ta.values.map(v => v * v).sum, tb.values.map(v => v * v).sum)
      ctx.check(BigInt(dot) * dot * 100 * 100 >= BigInt(87) * 87 * na * nb,
        s"cosine pair ($a, $b) recomputes below 0.87")
    }
  }
}
