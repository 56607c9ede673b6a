package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Every generator draws from a
  * SplittableRandom derived from the run seed, so the same seed gives
  * byte-identical inputs; the library only ever sees what they write. */
object Gen {
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  private val onsets = "b c d f g h j k l m n p r s t v z br st tr pl ch sh".split(' ')
  private val vowels = "a e i o u ai ou".split(' ')

  /** `n` distinct pronounceable pseudo-words, none in `avoid`. */
  def words(r: SplittableRandom, n: Int, avoid: Set[String] = Set.empty): Vector[String] = {
    val out = mutable.LinkedHashSet[String]()
    while (out.size < n) {
      val w = (0 until 2 + r.nextInt(2))
        .map(_ => onsets(r.nextInt(onsets.length)) + vowels(r.nextInt(vowels.length)))
        .mkString
      if (!avoid(w)) out += w
    }
    out.toVector
  }

  /** Zipf sampler over `ws` with exponent `s`, rank order as given. */
  final class Zipf(val ws: Vector[String], s: Double = 1.0) {
    private val cum = ws.indices.map(i => math.pow(i + 1.0, -s)).scanLeft(0.0)(_ + _).tail.toArray
    def draw(r: SplittableRandom): String = {
      val x = r.nextDouble() * cum.last
      val i = java.util.Arrays.binarySearch(cum, x)
      ws(if (i >= 0) i else -i - 1)
    }
  }

  def truncate(t: String, frac: Double): String = {
    val ws = t.split(' ')
    ws.take(math.max(3, (ws.length * frac).toInt)).mkString(" ")
  }

  def reverse(t: String): String = t.split(' ').reverse.mkString(" ")

  val AliasSuffix = " alias postscript marker"

  def writeFile(p: Path, s: String): Long = {
    Files.createDirectories(p.getParent)
    val b = s.getBytes(UTF_8)
    Files.write(p, b)
    b.length.toLong
  }
}

/** The paper's raw zone, one snapshot day at a time: a TMDB popular page
  * of 20 movies (the reference fetches one page a day), one details doc
  * per listed movie, one OMDb doc per resolvable imdb_id — in the
  * FIXTURES.md envelope and layout. Consecutive days share 16 of their
  * 20 ids. Each case FIXTURES.md asks a fixture to hold falls on one
  * movie in twenty, by id, for the movie's lifetime: no details doc, a
  * null imdb_id, no OMDb doc, an OMDb `Response:"False"`, an empty
  * release_date, and "N/A" in each of the three OMDb stat fields; vote
  * counts of a thousand or more carry commas. Days are generated in
  * order from one stream, so day d is the same for a seed however many
  * days a run reaches. */
final class LakeGen(seed: Long, rawRoot: String) {
  import LakeGen._

  val PageSize = 20
  val Carry = 16
  private val r = Gen.rng(seed, 1)
  private val titles = Gen.words(Gen.rng(seed, 2), 400)
  private var nextId = 1000L + r.nextInt(1000)
  private var current = Vector.empty[Long]
  private var day = 0

  private def movie(id: Long): Movie = {
    val m = Gen.rng(seed, 1000000L + id)
    val c = (id % 20).toInt
    val omdb = c match {
      case 2 => OmdbMissing
      case 3 => OmdbFalse
      case _ => OmdbTrue
    }
    Movie(id, s"${titles(m.nextInt(titles.size))} ${titles(m.nextInt(titles.size))}",
      if (c == 4) "" else f"${1970 + m.nextInt(56)}-${1 + m.nextInt(12)}%02d-${1 + m.nextInt(28)}%02d",
      detailsDoc = c != 0, if (c == 1) None else Some(f"tt$id%07d"), omdb,
      m.nextInt(60) + 80, Seq("en", "fr", "es", "ja", "ko")(m.nextInt(5)), naField = c - 5)
  }

  /** Write the next day's raw files; returns what was planted. */
  def nextDay(): Day = {
    val date = java.time.LocalDate.of(2026, 1, 1).plusDays(day.toLong).toString
    current =
      if (current.isEmpty) Vector.fill(PageSize) { nextId += 1; nextId }
      else {
        val keep = scala.util.Random.javaRandomToRandom(
          new java.util.Random(r.nextLong())).shuffle(current).take(Carry)
        keep ++ Vector.fill(PageSize - Carry) { nextId += 1 + r.nextInt(3); nextId }
      }
    val movies = current.map(movie)
    val at = s"${date}T06:00:00.000000+00:00"
    def meta(src: String, ep: String) =
      s""""_meta":{"snapshot_date":"$date","run_id":"${date.replace("-", "")}T060000",""" +
        s""""extracted_at_utc":"$at","source":"$src","endpoint":"$ep"}"""
    def dir(src: String, ep: String) = java.nio.file.Paths.get(rawRoot, src, ep, s"date=$date")
    var bytes = 0L

    val results = movies.map { mv =>
      f"""{"id":${mv.id},"title":"${mv.title}","release_date":"${mv.release}",""" +
        f""""popularity":${r.nextInt(20000) / 100.0}%.2f,"vote_average":${r.nextInt(100) / 10.0}%.1f,""" +
        s""""vote_count":${r.nextInt(30000)},"original_language":"${mv.lang}",""" +
        s""""genre_ids":[${Seq.fill(1 + r.nextInt(3))(10 + r.nextInt(90)).mkString(",")}]}"""
    }
    bytes += Gen.writeFile(dir("tmdb", "popular").resolve("popular_movies.json"),
      s"""{${meta("tmdb", "popular")},"data":{"page":1,"results":[${results.mkString(",")}]}}""")

    val withDetails = movies.filter(_.detailsDoc)
    withDetails.foreach { mv =>
      val imdb = mv.imdb.map(i => s""""$i"""").getOrElse("null")
      bytes += Gen.writeFile(dir("tmdb", "details").resolve(s"${mv.id}.json"),
        s"""{${meta("tmdb", "details")},"data":{"id":${mv.id},"imdb_id":$imdb,""" +
          s""""title":"${mv.title}","release_date":"${mv.release}","runtime":${mv.runtime},""" +
          s""""status":"Released","original_language":"${mv.lang}",""" +
          s""""genres":[{"id":18,"name":"Drama"}],""" +
          s""""production_countries":[{"iso_3166_1":"US","name":"United States"}]}}""")
    }

    val omdbDocs = withDetails.flatMap(mv => mv.imdb.map(i => (mv, i)))
      .filter(_._1.omdb != OmdbMissing)
    omdbDocs.foreach { case (mv, imdb) =>
      def na(field: Int)(v: => String) = if (mv.naField == field) "N/A" else v
      val rating = na(0)(f"${10 + r.nextInt(90)}%d".patch(1, ".", 0))
      val votes = na(1) { val v = r.nextInt(2000000); if (v >= 1000) f"${v / 1000},${v % 1000}%03d" else v.toString }
      bytes += Gen.writeFile(dir("omdb", "ratings").resolve(s"$imdb.json"),
        s"""{${meta("omdb", "ratings")},"data":{"Response":"${if (mv.omdb == OmdbTrue) "True" else "False"}",""" +
          s""""Title":"${mv.title}","imdbRating":"$rating","imdbVotes":"$votes",""" +
          s""""Metascore":"${na(2)((20 + r.nextInt(80)).toString)}","Rated":"PG-13","Type":"movie",""" +
          s""""Year":"${mv.release.take(4)}","Country":"USA","Genre":"Drama",""" +
          s""""Director":"D. Rector","Actors":"A. One, B. Two",""" +
          s""""Ratings":[{"Source":"Internet Movie Database","Value":"$rating/10"}]}}""")
    }

    day += 1
    Day(date, movies.size, withDetails.size,
      omdbDocs.count(_._1.omdb == OmdbTrue),
      movies.count(mv => mv.detailsDoc && mv.imdb.nonEmpty && mv.omdb == OmdbTrue),
      bytes)
  }
}

object LakeGen {
  sealed trait Omdb
  case object OmdbTrue extends Omdb
  case object OmdbFalse extends Omdb
  case object OmdbMissing extends Omdb

  /** `naField` 0, 1, 2: that OMDb stat field (rating, votes,
    * metascore) reads "N/A"; any other value: none does. */
  final case class Movie(id: Long, title: String, release: String, detailsDoc: Boolean,
                         imdb: Option[String], omdb: Omdb, runtime: Int, lang: String,
                         naField: Int)

  /** What the generator planted for one day: rows expected in each
    * formatted table, the KPI counts, and the raw bytes written. */
  final case class Day(date: String, nbMovies: Int, nbDetails: Int, nbOmdbRows: Int,
                       nbWithOmdb: Int, rawBytes: Long)
}

/** text_dedup corpus: a seeded resample of the sf0.1 `documents` table,
  * the table the catalog's text queries read (its doc_id and text,
  * committed as perfbench/data/documents_sf0.1.tsv.gz). `nDocs - 3 *
  * families` rows are drawn without replacement and renumbered 0, 1, …;
  * `families` of them get a planted exact copy, an 80% prefix truncation
  * and a " dup"-suffixed alias (the table's own near-duplicate shape),
  * under ids above every base id. A fixed boilerplate phrase is appended
  * to a seed-chosen 20% of the docs, so its shingles are hot tokens. */
final class TextCorpus(seed: Long, table: IndexedSeq[String], nDocs: Int, families: Int) {
  private val r = Gen.rng(seed, 10)
  val Boilerplate = "subscribe to our newsletter for weekly updates"

  private val nBase = nDocs - 3 * families
  require(nBase <= table.size, s"resample of $nBase docs from a ${table.size}-doc table")
  private def shuffled[T](xs: IndexedSeq[T]): IndexedSeq[T] =
    scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong())).shuffle(xs)
  private val base: Vector[(Long, String)] =
    shuffled(table).take(nBase).zipWithIndex.map { case (t, i) =>
      (i.toLong, if (r.nextInt(100) < 20) s"$t $Boilerplate" else t)
    }.toVector
  private val bases: Vector[Long] = shuffled(base.map(_._1)).take(families).sorted.toVector

  /** (base id, exact copy id, truncation id, alias id) per family. */
  val planted: Vector[(Long, Long, Long, Long)] = bases.zipWithIndex.map { case (b, k) =>
    val id = nBase + 3L * k
    (b, id, id + 1, id + 2)
  }

  val docs: Vector[(Long, String)] = base ++ planted.flatMap { case (b, c, t, a) =>
    val text = base(b.toInt)._2
    Seq(c -> text, t -> Gen.truncate(text, 0.8), a -> s"$text dup")
  }
}

object TextCorpus {
  /** The texts of a gzipped `doc_id<TAB>text` file, in file order. */
  def table(path: String): IndexedSeq[String] = {
    val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(path))
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().map(l => l.substring(l.indexOf('\t') + 1)).toVector
    finally src.close()
  }
}

/** Incremental-curation corpus: an endless id-ordered stream of
  * documents, each from one of twelve sources drawn at random. Sources
  * 0, 4 and 8 write the target distribution (a 600-word vocabulary), the
  * rest the raw one (600 other words); both mix in the stopwords. Each doc carries a 64-dim vector in [-1, 1].
  * The bootstrap takes the even ids of the first `2 * bootstrap` docs;
  * the odd ids, then every later id, are the deltas' novel docs. */
final class CurateCorpus(seed: Long, bootstrap: Int) {
  import CurateCorpus._

  private val target = new Gen.Zipf(Gen.words(Gen.rng(seed, 20), 600))
  private val raw = new Gen.Zipf(Gen.words(Gen.rng(seed, 21), 600, target.ws.toSet))
  private val stop = Vector("the", "a", "of", "and", "is")

  def doc(id: Long): Doc = {
    val r = Gen.rng(seed, 100000L + id)
    val src = r.nextInt(12)
    val z = if (isTarget(src)) target else raw
    val text = Seq.fill(25 + r.nextInt(56)) {
      if (r.nextInt(100) < 15) stop(r.nextInt(stop.size)) else z.draw(r)
    }.mkString(" ")
    Doc(id, text, src, Vector.fill(Dim)(math.round((r.nextDouble() * 2 - 1) * 1e4) / 1e4))
  }

  val bootstrapDocs: Vector[Doc] = (0L until 2L * bootstrap by 2).map(doc).toVector

  private var novelNext = 1L
  private var copyNext = CopyIds
  private var day = 0
  // target docs known to be in the state: the only bases copies are made
  // from, so every planted duplicate has a live original with a smaller id
  private val admitted = mutable.ArrayBuffer[Doc](bootstrapDocs.filter(d => isTarget(d.src)): _*)

  /** The next delta: `size` docs — re-crawls, 80% truncations, alias
    * copies and reversed-text embedding twins of admitted target docs,
    * and novel docs. */
  def nextDelta(size: Int): Vector[Doc] = {
    val r = Gen.rng(seed, 500000L + day)
    def base(): Doc = admitted(r.nextInt(admitted.size))
    def copy(text: String, v: Vector[Double]): Doc = {
      copyNext += 1
      Doc(copyNext, text, 0, v)
    }
    val n = size / 8
    val recrawl = Vector.fill(n) { val b = base(); copy(b.text, b.vec) }
    val trunc = Vector.fill(n) { val b = base(); copy(Gen.truncate(b.text, 0.8), b.vec) }
    val alias = Vector.fill(n) { val b = base(); copy(b.text + Gen.AliasSuffix, b.vec) }
    val twins = Vector.fill(n) {
      val b = base(); copy(Gen.reverse(b.text), b.vec.map(_ * TwinScale))
    }
    val novel = Vector.fill(size - 4 * n) {
      if (novelNext < 2L * bootstrap) { val d = doc(novelNext); novelNext += 2; d }
      else { val d = doc(novelNext); novelNext += 1; d }
    }
    admitted ++= novel.filter(d => isTarget(d.src))
    day += 1
    recrawl ++ trunc ++ alias ++ twins ++ novel
  }
}

object CurateCorpus {
  val Dim = 64
  // an exactly representable scale: the twin's quantized vector stays
  // parallel to its original's
  val TwinScale = 1.0009765625
  val CopyIds = 10000000L
  def isTarget(src: Int): Boolean = src % 4 == 0

  final case class Doc(id: Long, text: String, src: Int, vec: Vector[Double])
}
