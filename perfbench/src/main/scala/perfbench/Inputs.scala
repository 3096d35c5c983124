package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.analysis.Analyzer
import graft.index.{IndexBuilder, TranscriptGen, Turn}

/** Seeded input generators. Every input is a pure function of the seeds
  * derived from `--seed`; the engine only ever sees the generated inputs. */
object Inputs {

  /** splitmix64, for deriving independent sub-seeds. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def subSeed(seed: Long, tag: Long): Long = mix(mix(seed) ^ tag)

  final case class Corpus(dir: String, convs: Long, turns: Long, textBytes: Long)

  /** The conversation count whose turns come closest to `turns`. Conversation
    * lengths have a long tail, so a fixed conversation count would let the
    * corpus size vary by seed; a fixed turn count keeps it the same. */
  def convsFor(turns: Long, seed: Long): Long = {
    var n = 0L
    var total = 0L
    var done = false
    while (!done && total < turns) {
      val t = TranscriptGen.turnsFor(n, seed).size
      if (n > 0 && total + t - turns > turns - total) done = true
      else { total += t; n += 1 }
    }
    n
  }

  /** `TranscriptGen.generate(seed)` of about `turns` turns, written as
    * parquet, one file per generator slice. */
  def writeCorpus(spark: SparkSession, turns: Long, seed: Long, dir: String,
      slices: Int): Corpus = {
    val convs = convsFor(turns, seed)
    import spark.implicits._
    TranscriptGen.generate(spark, convs, seed, Some(slices)).write.mode("overwrite").parquet(dir)
    val (n, bytes) = spark.read.parquet(dir)
      .agg(count(lit(1)), coalesce(sum(octet_length($"text")), lit(0L)).cast("long"))
      .as[(Long, Long)].head()
    Corpus(dir, convs, n, bytes)
  }

  /** The generated turn behind a stored (conv_id, turn_idx). */
  final class TurnSource(baseSeed: Long) {
    private val convSeed = mutable.HashMap.empty[Long, Long]
    private val memo = mutable.HashMap.empty[(String, Int), Option[Turn]]

    def assign(conv: Long, seed: Long): Unit = convSeed(conv) = seed

    def turn(convId: String, turnIdx: Int): Option[Turn] =
      memo.getOrElseUpdate((convId, turnIdx), {
        val conv = convId.stripPrefix("conv-").toLong
        TranscriptGen.turnsFor(conv, convSeed.getOrElse(conv, baseSeed))
          .drop(turnIdx).nextOption()
      })
  }

  /** Ingest micro-batches: batch i holds exactly `batchTurns` turns of fresh
    * conversations (ids after the base corpus's), generated with the
    * per-batch seed `subSeed(seed, i)`. */
  final class BatchStream(seed: Long, firstConv: Long, batchTurns: Int, source: TurnSource) {
    private var conv = firstConv

    def batch(i: Int): Seq[Turn] = {
      val s = subSeed(seed, i.toLong)
      val out = ArrayBuffer.empty[Turn]
      while (out.length < batchTurns) {
        source.assign(conv, s)
        out ++= TranscriptGen.turnsFor(conv, s).take(batchTurns - out.length)
        conv += 1
      }
      out.toSeq
    }
  }

  final case class Query(shape: String, q: String)

  val Shapes: Vector[String] =
    Vector("term", "or", "and", "not", "phrase", "prefix", "fq", "zero_hit")

  private val Word = "[a-z][a-z0-9]*".r

  /** Seeded queries of the eight shapes, each call a fresh draw. Terms are
    * drawn by df rank from the index's `terms` table: hot = top 1% of the
    * text vocabulary, mid = the next 19%, rare = the rest. Phrases are
    * adjacent token pairs of sampled corpus turns, so they match. Queries
    * are never replayed: a query repeats only where two draws collide (a
    * hot term, a role filter), so the Searcher's term-stats memo and fq
    * cache miss on every term and filter a Searcher has not seen yet. */
  final class QueryGen(spark: SparkSession, indexDir: String, corpusSeed: Long,
      corpusConvs: Long, seed: Long) {
    import spark.implicits._
    private val vocab = spark.read.parquet(s"$indexDir/terms")
      .where(!$"term".startsWith(IndexBuilder.FieldTermPrefix))
      .select($"term", $"df").as[(String, Long)].collect()
      .sortBy { case (t, df) => (-df, t) }.map(_._1)
    private val words = vocab.filter(Word.matches)
    private val nHot = math.max(8, words.length / 100)
    private val nMid = math.max(8, words.length / 5) - nHot
    private val hot = words.take(nHot)
    private val mid = words.slice(nHot, nHot + nMid)
    private val rare = words.drop(nHot + nMid)
    private val known = vocab.toSet
    private val roles = Array("user", "assistant", "system", "tool")
    private val rng = new scala.util.Random(seed)

    private def pick(band: Array[String]): String = band(rng.nextInt(band.length))
    private def anyBand(): String = pick(Seq(hot, mid, rare)(rng.nextInt(3)))
    private def absent(): String =
      Iterator.continually("zq" + Seq.fill(6)(('a' + rng.nextInt(26)).toChar).mkString)
        .find(t => !known(t)).get
    private def bigram(): String = Iterator.continually {
      val t = TranscriptGen.turnsFor(rng.nextLong(corpusConvs), corpusSeed).toVector
      val toks = Analyzer.default.analyze(t(rng.nextInt(t.length)).text)
      (0 until toks.length - 1).map(i => (toks(i), toks(i + 1)))
        .filter { case (a, b) => Word.matches(a) && Word.matches(b) }
    }.find(_.nonEmpty).map(ps => ps(rng.nextInt(ps.length))).map { case (a, b) => s""""$a $b"""" }.get

    def next(shape: String): Query = Query(shape, shape match {
      case "term" => anyBand()
      case "or" => rng.shuffle(Seq(pick(hot), pick(mid), pick(rare))).mkString(" ")
      case "and" => s"+${pick(hot)} +${pick(if (rng.nextBoolean()) hot else mid)}"
      case "not" => s"${pick(mid)} ${pick(rare)} -${pick(hot)}"
      case "phrase" => bigram()
      case "prefix" =>
        val t = pick(mid)
        s"${t.take(math.max(2, t.length - 1))}* ${pick(hot)}"
      case "fq" => s"${pick(mid)} ${pick(hot)} role:${roles(rng.nextInt(roles.length))}"
      case "zero_hit" => s"${absent()} ${absent()}"
    })

    /** One query of each shape, in shape order. */
    def onePerShape(): Vector[Query] = Shapes.map(next)

    /** Endless closed-loop order in passes: each pass is a fresh seeded
      * shuffle of the eight shapes, each query a fresh draw. */
    def passes(): Iterator[Query] = Iterator.continually(rng.shuffle(Shapes)).flatten.map(next)
  }

  /** Seeded sample of corpus turn texts (non-empty), for the kernel probes. */
  def sampleTexts(corpusSeed: Long, corpusConvs: Long, n: Int, seed: Long): Array[String] = {
    val rng = new scala.util.Random(seed)
    Iterator.continually {
      val turns = TranscriptGen.turnsFor(rng.nextLong(corpusConvs), corpusSeed).toVector
      turns(rng.nextInt(turns.length)).text
    }.filter(_.nonEmpty).take(n).toArray
  }
}
