package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.analysis.Analyzer
import graft.codec.PostingsCodec
import graft.index.PostingRow
import graft.query.QueryParser

/** Single-threaded kernel probes over the workload's own inputs: seeded
  * corpus texts, its index's posting lists, its queries. Each runs warm-up
  * passes, then timed passes for at least `ProbeSeconds`, and reports the
  * median pass. */
object Probes {
  val WarmPasses = 3
  val ProbeSeconds = 0.4

  private def medianPass(work: () => Long): Double = {
    (0 until WarmPasses).foreach(_ => work())
    val perUnit = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (perUnit.length < 5 || (System.nanoTime() - t0) / 1e9 < ProbeSeconds) {
      val s = System.nanoTime()
      val units = work()
      perUnit += (System.nanoTime() - s).toDouble / units
    }
    Stats.median(perUnit.toSeq)
  }

  /** ns per emitted token of `Analyzer.analyze`. */
  def analyzerNsPerToken(texts: Array[String]): Double = {
    val a = Analyzer.default
    medianPass { () =>
      var tokens = 0L
      texts.foreach(t => tokens += a.analyze(t).length)
      tokens
    }
  }

  /** (encode, decode) ns per posting over every posting list of the index
    * at `indexDir`: `PostingsCodec.decodeBlock` over its stored blocks, the
    * WAND cursor's decode path, and `PostingsCodec.encodeFlat`, the encode
    * path of `IndexBuilder`, over the lists decoded from them. */
  def codecNsPerPosting(spark: SparkSession, indexDir: String): (Double, Double) = {
    import spark.implicits._
    val (sidecars, lists) = spark.read.parquet(s"$indexDir/postings").as[PostingRow]
      .collect().partition(_.term == "")
    val n = lists.map(_.blocks.map(_.count.toLong).sum).sum
    val docs = new Array[Long](PostingsCodec.BlockSize)
    val tfs = new Array[Int](PostingsCodec.BlockSize)
    val dec = medianPass { () =>
      lists.foreach(_.blocks.foreach(b => PostingsCodec.decodeBlock(b, docs, tfs, 0)))
      n
    }
    // IndexBuilder's input per list: doc ids, tfs, each doc's norm from its
    // segment's norms sidecar, and the positions concatenated
    val norms = sidecars.map(s => s.segment_id -> s).toMap
    val inputs = lists.map { p =>
      val (d, t) = PostingsCodec.decode(p.blocks)
      val side = norms(p.segment_id)
      val pos = p.blocks.flatMap(b => PostingsCodec.decodePositions(b).flatten)
      (d, t, d.map(x => side.norms((x - side.first_doc).toInt)), if (pos.isEmpty) null else pos)
    }
    val enc = medianPass { () =>
      inputs.foreach { case (d, t, nm, pos) => PostingsCodec.encodeFlat(d, t, nm, pos) }
      n
    }
    (enc, dec)
  }

  /** µs per `QueryParser.parse` call over the query strings. */
  def parseUs(queries: Seq[String]): Double =
    medianPass { () =>
      queries.foreach(q => QueryParser.parse(q))
      queries.length.toLong
    } / 1e3
}
