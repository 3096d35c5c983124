package perfbench

import java.io.File
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import graft.index.{CorpusStats, IndexBuilder, MergePolicy, Turn}
import graft.query.{Hit, Oracle, QueryParser, Searcher}
import graft.streaming.StreamingIndexer
import perfbench.Inputs.{Corpus, Query}
import perfbench.Stats.median

/** A finished operation: its number in the run, its span, and its value
  * (None when it threw). */
final case class Done[T](id: Int, span: Span, value: Option[T]) {
  def ms: Double = span.ms
}

/** One row of a `Searcher.search` page. */
final case class PageRow(rank: Int, docId: Long, score: Float, convId: String,
    turnIdx: Int, role: String, text: String, tool: String, ts: java.sql.Timestamp)

object PageRow {
  def of(r: Row): PageRow = PageRow(r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
    r.getAs[Float]("score"), r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"),
    r.getAs[String]("role"), r.getAs[String]("text"), r.getAs[String]("tool"),
    r.getAs[java.sql.Timestamp]("ts"))
}

/** One workload run: its seeds, its operation count, its failures and the
  * metrics it measured. */
final class Run(val workload: String, val spark: SparkSession, val tracer: Tracer,
    val seed: Long, val seconds: Int, val cores: Int, val work: String) {
  val corpusSeed: Long = Inputs.subSeed(seed, 1)
  val querySeed: Long = Inputs.subSeed(seed, 2)
  val batchSeed: Long = Inputs.subSeed(seed, 3)

  private var ops = 0
  private val failedOps = mutable.LinkedHashMap.empty[Int, String]
  /** The gated end-to-end metrics, named alike on every workload. */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** The same measurements under their workload-specific names, and more. */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, JValue]

  private val t0 = System.nanoTime()
  /** Seconds since the run started, at each named point. */
  def mark(name: String): Unit =
    notes(s"at_$name") = JDouble((System.nanoTime() - t0) / 1e9)

  def attempted: Int = ops
  def failed: Int = failedOps.size
  def failures: Seq[String] = failedOps.values.toSeq

  /** One attempted operation; it fails if it throws. */
  def op[T](name: String)(body: => T): Done[T] = {
    val id = ops
    ops += 1
    val at = tracer.spans.length
    val v = try Some(tracer.span(name)(body)) catch {
      case e: Exception => failedOps(id) = s"$name threw $e"; None
    }
    Done(id, tracer.spans(at), v)
  }

  /** An output check; when it fails (or throws), `ids` count as failed. */
  def check(ids: Seq[Int], what: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Exception => println(s"check '$what' threw $e"); false }
    if (!pass) ids.foreach(failedOps.getOrElseUpdate(_, what))
  }
}

object Workloads {
  // Sizes, set for local[4]; see README.md for how they were chosen.
  val SetupReps = 3
  val K = 10
  val BuildTurns = 160000L
  val WarmBuilds = 2
  val MinBuilds = 3
  val QueryTurns = 40000L
  /** Two passes of the eight shapes. */
  val MinSearches = 16
  val OracleSample = 2
  val IngestBaseTurns = 20000L
  val BatchTurns = 2000
  val MinRounds = 6
  /** Shapes the ingest oracle check draws from: queries that have hits. */
  val ProbeShapes = Seq("term", "and", "phrase", "fq")
  val IngestOracleSample = 1

  def run(r: Run): Unit = r.workload match {
    case "build" => build(r)
    case "query" => query(r)
    case "ingest" => ingest(r)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  // ---- shared pieces ------------------------------------------------------

  private def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def rm(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rm))
    f.delete()
  }
  private def rm(path: String): Unit = rm(new File(path))

  private def parquetBytes(dir: String): Long =
    Option(new File(dir).listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum

  private def indexBytes(dir: String): Long =
    Seq("postings", "docs", "terms").map(t => parquetBytes(s"$dir/$t")).sum

  private def slices(r: Run): Int = 2 * r.cores

  private def docCount(r: Run, dir: String): Long = {
    import r.spark.implicits._
    r.spark.read.parquet(s"$dir/corpus").as[CorpusStats].head().doc_count
  }

  private def searchPage(s: Searcher, q: String): Array[PageRow] =
    s.search(q, K).collect().map(PageRow.of)

  /** A build's lineage step times, read while its index still exists. */
  final case class Built(span: Span, docsMs: Long, postingsMs: Long, statsMs: Long)

  private def built(r: Run, span: Span, dir: String): Built = {
    import r.spark.implicits._
    val steps = r.spark.read.parquet(s"$dir/lineage")
      .select($"step", $"wall_ms").as[(String, Long)].collect()
    def sum(p: String => Boolean) = steps.filter(s => p(s._1)).map(_._2).sum
    Built(span, sum(_ == "docs"), sum(_.startsWith("batch-")), sum(_ == "stats"))
  }

  final case class Setup(seconds: Double, corpus: Corpus, dir: String,
      build: Option[Built], searcher: Option[Searcher])

  /** One set-up: generate and write the corpus, then (unless `corpusOnly`)
    * build its index and open a Searcher on it. */
  private def setUp(r: Run, turns: Long, rep: Int, corpusOnly: Boolean): Setup = {
    val t0 = System.nanoTime()
    val corpus = r.tracer.span("setup.corpus") {
      Inputs.writeCorpus(r.spark, turns, r.corpusSeed, s"${r.work}/corpus-$rep", slices(r))
    }
    if (corpusOnly) Setup(elapsedS(t0), corpus, "", None, None)
    else {
      val dir = s"${r.work}/index-$rep"
      val (span, _) = r.tracer.timed("setup.index.IndexBuilder.build") {
        IndexBuilder.build(r.spark, r.spark.read.parquet(corpus.dir), dir)
      }
      val searcher = r.tracer.span("setup.query.Searcher.open")(new Searcher(r.spark, dir))
      val s = elapsedS(t0)
      Setup(s, corpus, dir, Some(built(r, span, dir)), Some(searcher))
    }
  }

  private def setUps(r: Run, turns: Long, corpusOnly: Boolean): Seq[Setup] = {
    val all = (0 until SetupReps).map(i => setUp(r, turns, i, corpusOnly))
    r.e2e("setup_s") = (median(all.map(_.seconds)), "s")
    r.mark("setup")
    all
  }

  private def discard(s: Setup): Unit = {
    s.searcher.foreach(_.close())
    rm(s.corpus.dir)
    if (s.dir.nonEmpty) rm(s.dir)
  }

  /** Every search page equals its topKHits page in (doc_id, score) order
    * with ranks 1..n, and every row's stored fields equal the generated
    * turn. `expected` is None where no topKHits page applies. */
  private def checkPages(r: Run, pages: Seq[(Query, Done[Array[PageRow]])],
      expected: Query => Option[Array[Hit]], source: Inputs.TurnSource): Unit =
    pages.foreach { case (q, d) =>
      d.value.foreach { rows =>
        expected(q).foreach { hits =>
          r.check(Seq(d.id), s"search page differs from topKHits for ${q.q}") {
            rows.map(p => (p.docId, p.score)).sameElements(hits.map(h => (h.doc_id, h.score))) &&
              rows.map(_.rank).sameElements(1 to rows.length)
          }
        }
        r.check(Seq(d.id), s"stored fields differ from the generated turn for ${q.q}") {
          rows.forall { p =>
            source.turn(p.convId, p.turnIdx).exists(t => t.role == p.role &&
              t.text == p.text && t.tool == p.tool && t.ts.getTime == p.ts.getTime)
          }
        }
      }
    }

  /** The brute-force `Oracle.topK` page of `q` over the index's docs. */
  private def oraclePage(r: Run, searcher: Searcher, q: Query): Array[Hit] =
    r.tracer.span("query.Oracle.topK") {
      Oracle.topK(r.spark, searcher.docs.select("doc_id", "text", "role", "tool"),
        searcher.expand(QueryParser.parse(q.q)), K).collect()
    }

  /** `Searcher.topKHits` is rank- and float-score-identical to the oracle. */
  private def checkOracle(r: Run, searcher: Searcher, q: Query, oracle: => Array[Hit],
      ids: Seq[Int]): Unit =
    r.check(ids, s"topKHits differs from Oracle.topK for ${q.q}") {
      searcher.topKHits(searcher.expand(QueryParser.parse(q.q)), K).collect().sameElements(oracle)
    }

  /** The topKHits page of each query (the expected search page) and the
    * spans of its `reps` timed calls. */
  final case class TopK(hits: Array[Hit], spans: Seq[Span])

  private def topKPages(r: Run, searcher: Searcher, queries: Seq[Query],
      reps: Int): Map[Query, TopK] =
    queries.distinct.map { q =>
      val calls = (0 until reps).map { _ =>
        r.tracer.timed("query.Searcher.topKHits")(searcher.topKHits(q.q, K).collect())
      }
      q -> TopK(calls.head._2, calls.map(_._1))
    }.toMap

  private def shareOfShapes(r: Run, queries: Seq[Query]): Unit =
    r.notes("mix_share") = JObject(Inputs.Shapes.toList.map { s =>
      s -> JDouble(queries.count(_.shape == s).toDouble / queries.length)
    })

  /** The shares of the timed queries' term-stats memo and fq DocSet cache
    * lookups that hit. The Searcher keeps no hit counters, so they are
    * derived from the keys it caches by: a term (after prefix expansion,
    * on `searcher`) or a filter set hits when an earlier query on the same
    * Searcher used it. `epochs` are each Searcher's queries in call order,
    * with whether the call was timed. */
  private def cacheHitShares(r: Run, searcher: Searcher,
      epochs: Seq[Seq[(Query, Boolean)]]): Unit = {
    var termLookups, termHits, fqLookups, fqHits = 0L
    epochs.foreach { calls =>
      val terms = mutable.Set.empty[String]
      val filters = mutable.Set.empty[Seq[String]]
      calls.foreach { case (q, timed) =>
        val p = searcher.expand(QueryParser.parse(q.q))
        val fq = (p.filters.map { case (f, v) => s"$f=$v" } ++
          p.notFilters.map { case (f, v) => s"-$f=$v" }).sorted
        if (timed && !p.isEmpty) {
          termLookups += p.allTerms.length
          termHits += p.allTerms.count(terms)
          if (fq.nonEmpty) { fqLookups += 1; if (filters(fq)) fqHits += 1 }
        }
        terms ++= p.allTerms
        if (fq.nonEmpty) filters += fq
      }
    }
    def share(hits: Long, lookups: Long) = if (lookups == 0) 0.0 else hits.toDouble / lookups
    r.named("term_stats_memo_hit_share") = (share(termHits, termLookups), "ratio")
    r.named("fq_cache_hit_share") = (share(fqHits, fqLookups), "ratio")
  }

  private def latencies(r: Run, prefix: String, xs: Seq[Double]): Unit = {
    r.named(s"${prefix}_p50_ms") = (median(xs), "ms")
    Stats.tail(xs).foreach { case (pct, v) => r.named(s"${prefix}_p${pct}_ms") = (v, "ms") }
    r.named(s"${prefix}_samples") = (xs.length.toDouble, "count")
  }

  private def heap(r: Run, w: HeapMeter.Window): Unit = {
    r.e2e("live_heap_mb") = (w.liveMb, "MB")
    r.named("peak_heap_mb") = (w.peakMb, "MB")
  }

  private def heapAndSize(r: Run, w: HeapMeter.Window, dir: String, textBytes: Long): Unit = {
    heap(r, w)
    r.e2e("index_bytes_per_text_byte") = (indexBytes(dir).toDouble / textBytes, "ratio")
  }

  // ---- build ----------------------------------------------------------------

  def build(r: Run): Unit = {
    import r.spark.implicits._
    val spark = r.spark
    val setups = setUps(r, BuildTurns, corpusOnly = true)
    setups.init.foreach(discard)
    val corpus = setups.last.corpus
    def input = spark.read.parquet(corpus.dir)
    (0 until WarmBuilds).foreach { i =>
      IndexBuilder.build(spark, input, s"${r.work}/warm-$i")
      rm(s"${r.work}/warm-$i")
    }

    val builds = ArrayBuffer.empty[(Done[IndexBuilder.BuildResult], String)]
    r.mark("warm")
    HeapMeter.reset()
    val t0 = System.nanoTime()
    while (builds.length < MinBuilds || elapsedS(t0) < r.seconds) {
      val dir = s"${r.work}/index-${builds.length}"
      builds += r.op("index.IndexBuilder.build")(IndexBuilder.build(spark, input, dir)) -> dir
    }
    val heapWindow = HeapMeter.close()
    r.mark("timed")
    val ok = builds.filter(_._1.value.isDefined)
    require(ok.nonEmpty, "every timed build failed")
    val walls = ok.map(_._1.ms)
    r.named("build_turns_per_s") = (median(walls.map(ms => corpus.turns / (ms / 1e3)).toSeq), "turns/s")
    r.named("build_ms_p50") = (median(walls.toSeq), "ms")
    r.named("builds") = (walls.length.toDouble, "count")
    r.e2e("op_p50_ms") = (median(walls.toSeq), "ms")
    r.e2e("throughput_per_s") = (r.named("build_turns_per_s")._1, "1/s")
    heapAndSize(r, heapWindow, ok.head._2, corpus.textBytes)
    r.named("index_bytes_per_text_byte") = r.e2e("index_bytes_per_text_byte")

    // output checks
    def fingerprint(dir: String): Seq[(Long, Long)] =
      Seq("docs", "postings", "terms", "corpus").map { t =>
        val df = spark.read.parquet(s"$dir/$t")
        df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(df.columns.map(col).toSeq: _*)), lit(0L)))
          .as[(Long, Long)].head()
      }
    val fp0 = fingerprint(ok.head._2)
    ok.foreach { case (d, dir) =>
      r.check(Seq(d.id), "corpus.doc_count differs from the input turn count")(
        d.value.get.docCount == corpus.turns && docCount(r, dir) == corpus.turns)
      r.check(Seq(d.id), "corpus differs from the sums of metrics/") {
        val c = spark.read.parquet(s"$dir/corpus").as[CorpusStats].head()
        val (n, dl) = spark.read.parquet(s"$dir/metrics")
          .agg(sum($"n_docs").cast("long"), sum($"sum_dl").cast("long")).as[(Long, Long)].head()
        c.doc_count == n && c.sum_dl == dl
      }
      r.check(Seq(d.id), "index fingerprint differs between builds of one seed")(fingerprint(dir) == fp0)
    }

    r.mark("checks")
    if (r.tracer.enabled) {
      r.tracer.drain()
      val med = ok.sortBy(_._1.ms).apply((ok.length - 1) / 2)
      Layers.build(r, Seq(built(r, med._1.span, med._2)))
      Layers.index(r, med._2)
      val gen = new Inputs.QueryGen(spark, med._2, r.corpusSeed, corpus.convs, r.querySeed)
      Layers.probes(r, corpus.convs, med._2, gen.onePerShape() ++ gen.onePerShape())
    }
    builds.foreach(b => rm(b._2))
  }

  // ---- query ----------------------------------------------------------------

  def query(r: Run): Unit = {
    val spark = r.spark
    val setups = setUps(r, QueryTurns, corpusOnly = false)
    setups.init.foreach(discard)
    val setup = setups.last
    val searcher = setup.searcher.get
    val gen = new Inputs.QueryGen(spark, setup.dir, r.corpusSeed, setup.corpus.convs, r.querySeed)
    // warm-up, one fresh query per shape: JIT and every search path
    val warm = gen.onePerShape()
    warm.foreach(q => searchPage(searcher, q.q))

    val order = gen.passes()
    val pages = ArrayBuffer.empty[(Query, Done[Array[PageRow]])]
    r.mark("warm")
    HeapMeter.reset()
    val t0 = System.nanoTime()
    // whole passes only, so every shape is sampled equally often
    while (pages.length < MinSearches || elapsedS(t0) < r.seconds ||
        pages.length % Inputs.Shapes.length != 0) {
      val q = order.next()
      pages += q -> r.op("query.Searcher.search")(searchPage(searcher, q.q))
    }
    val wall = elapsedS(t0)
    val heapWindow = HeapMeter.close()
    r.mark("timed")
    val lat = pages.map(_._2.ms).toSeq
    latencies(r, "search", lat)
    r.named("search_qps") = (pages.length / wall, "1/s")
    r.e2e("op_p50_ms") = (median(lat), "ms")
    r.e2e("throughput_per_s") = (r.named("search_qps")._1, "1/s")
    heapAndSize(r, heapWindow, setup.dir, setup.corpus.textBytes)
    shareOfShapes(r, pages.map(_._1).toSeq)
    cacheHitShares(r, searcher, Seq(warm.map(_ -> false) ++ pages.map(_._1 -> true)))

    // output checks
    val source = new Inputs.TurnSource(r.corpusSeed)
    val ran = pages.map(_._1).distinct.toSeq
    val expected = topKPages(r, searcher, ran, if (r.tracer.enabled) 2 else 1)
    checkPages(r, pages.toSeq, q => expected.get(q).map(_.hits), source)
    // a zero-hit page matches the oracle trivially, so the sample skips them
    new scala.util.Random(r.querySeed).shuffle(ran.filter(_.shape != "zero_hit"))
      .take(OracleSample).foreach { q =>
      checkOracle(r, searcher, q, oraclePage(r, searcher, q), pages.filter(_._1 == q).map(_._2.id).toSeq)
    }

    r.mark("checks")
    if (r.tracer.enabled) {
      // a search of one query per shape with the term-stats memo warm, as
      // for its topKHits calls, so the difference is the stored-field fetch
      val fetch = Inputs.Shapes.flatMap(s => ran.find(_.shape == s)).map { q =>
        q -> r.tracer.timed("query.Searcher.search.warm")(searchPage(searcher, q.q))._1
      }
      r.tracer.drain()
      Layers.build(r, setups.flatMap(_.build))
      Layers.index(r, setup.dir)
      Layers.probes(r, setup.corpus.convs, setup.dir, ran)
      Layers.query(r, searcher, pages.toSeq.map { case (q, d) => q -> d.span }, fetch, expected)
      r.layer("query.Searcher.open_ms") =
        (median(r.tracer.named("setup.query.Searcher.open").map(_.ms)), "ms")
    }
    searcher.close()
    discard(setup)
  }

  // ---- ingest ---------------------------------------------------------------

  def ingest(r: Run): Unit = {
    import r.spark.implicits._
    val spark = r.spark
    def batchDf(turns: Seq[Turn]) = spark.createDataset(turns).toDF()
    val setups = setUps(r, IngestBaseTurns, corpusOnly = false)
    setups.init.foreach(discard)
    val setup = setups.last
    val gen = new Inputs.QueryGen(spark, setup.dir, r.corpusSeed, setup.corpus.convs, r.querySeed)

    val source = new Inputs.TurnSource(r.corpusSeed)
    val stream = new Inputs.BatchStream(r.batchSeed, setup.corpus.convs, BatchTurns, source)
    val order = gen.passes()
    var searcher = setup.searcher.get
    val pages = ArrayBuffer.empty[(Query, Done[Array[PageRow]])]
    var appendedTurns = 0L
    var appendedBytes = 0L

    /** One round: append batch `i`, open a new Searcher, search it twice.
      * The first search is always a fresh `term` query, so the round's
      * visibility latency does not depend on which shapes a run's round
      * count happens to sample; the second takes the next query of the
      * shape passes. Returns the append, the ms from the append call until
      * the first search returned, that first search's ms, and the queries. */
    def round(i: Int): (Done[Unit], Double, Double, Seq[Query]) = {
      val turns = stream.batch(i)
      val df = batchDf(turns)
      val v0 = System.nanoTime()
      val a = r.op("streaming.StreamingIndexer.appendBatch") {
        StreamingIndexer.appendBatch(spark, df, setup.dir, i.toLong)
      }
      if (a.value.isDefined) {
        appendedTurns += turns.length
        appendedBytes += turns.map(_.text.getBytes("UTF-8").length.toLong).sum
      }
      searcher.close()
      searcher = r.op("query.Searcher.open")(new Searcher(spark, setup.dir)).value
        .getOrElse(throw new IllegalStateException("cannot open a Searcher after an append"))
      val qs = Seq(gen.next("term"), order.next())
      val ds = qs.map { q =>
        val d = r.op("query.Searcher.search")(searchPage(searcher, q.q))
        pages += q -> d
        d
      }
      (a, (ds.head.span.endNs - v0) / 1e6, ds.head.ms, qs)
    }

    // round 0 is the warm-up: the JVM's first append and Searcher open run
    // about 2x slower; it is checked like every round but not timed
    val (warmAppend, _, _, _) = round(0)
    val appends = ArrayBuffer.empty[Done[Unit]]
    val visible = ArrayBuffer.empty[Double]
    val firstSearch = ArrayBuffer.empty[Double]
    val epochs = ArrayBuffer.empty[Seq[(Query, Boolean)]]
    val warmTurns = appendedTurns
    r.mark("warm")
    HeapMeter.reset()
    val t0 = System.nanoTime()
    var rounds = 0
    while (rounds < MinRounds || elapsedS(t0) < r.seconds) {
      rounds += 1
      val (a, v, f, qs) = round(rounds)
      appends += a
      visible += v
      firstSearch += f
      epochs += qs.map(_ -> true)
    }
    val heapWindow = HeapMeter.close()
    r.mark("timed")
    val appendMs = appends.filter(_.value.isDefined).map(_.ms).toSeq
    require(appendMs.nonEmpty, "every append failed")
    r.named("append_p50_ms") = (median(appendMs), "ms")
    r.named("ingest_turns_per_s") = ((appendedTurns - warmTurns) / (appendMs.sum / 1e3), "turns/s")
    latencies(r, "visible", visible.toSeq)
    r.named("rounds") = (rounds.toDouble, "count")
    r.e2e("op_p50_ms") = (median(visible.toSeq), "ms")
    r.e2e("throughput_per_s") = (r.named("ingest_turns_per_s")._1, "1/s")
    heap(r, heapWindow)
    shareOfShapes(r, pages.map(_._1).toSeq)
    cacheHitShares(r, searcher, epochs.toSeq)

    // after the last append: the oracle-checked queries, then the checks.
    // Each timed search of them follows an untimed one, so both it and its
    // topKHits calls find the term-stats memo warm, on either index.
    val pick = new scala.util.Random(r.querySeed)
    val probe = Seq.fill(IngestOracleSample)(gen.next(ProbeShapes(pick.nextInt(ProbeShapes.length))))
    probe.foreach(q => searchPage(searcher, q.q))
    val before = probe.map(q => q -> r.op("query.search.before_compact")(searchPage(searcher, q.q)))
    val appendIds = (warmAppend +: appends.toSeq).map(_.id)
    r.check(appendIds, "doc_count differs from base plus appended turns")(
      docCount(r, setup.dir) == setup.corpus.turns + appendedTurns)
    checkPages(r, pages.toSeq, _ => None, source)
    val beforeHits = topKPages(r, searcher, probe, if (r.tracer.enabled) 3 else 1)
    checkPages(r, before, q => beforeHits.get(q).map(_.hits), source)
    // compaction keeps every doc, so one oracle page serves both checks
    val oracle = probe.map(q => q -> oraclePage(r, searcher, q))
    oracle.foreach { case (q, o) => checkOracle(r, searcher, q, o, before.filter(_._1 == q).map(_._2.id)) }
    val segmentsFinal = spark.read.parquet(s"${setup.dir}/postings")
      .select(countDistinct($"segment_id")).as[Long].head()
    r.mark("checks")
    if (r.tracer.enabled) {
      r.tracer.drain()
      Layers.index(r, setup.dir)
      Layers.query(r, searcher, pages.toSeq.map { case (q, d) => q -> d.span },
        before.map { case (q, d) => q -> d.span }, beforeHits)
    }
    searcher.close()

    // compaction, then the same queries on the compacted index
    val compacted = s"${r.work}/compacted"
    val target = slices(r)
    val c = r.op("index.MergePolicy.compact")(MergePolicy.compact(spark, setup.dir, compacted, target))
    r.named("compact_s") = (c.ms / 1e3, "s")
    r.check(Seq(c.id), s"compaction did not reach $target segments")(c.value.flatten.exists(_ <= target))
    val after = r.tracer.span("query.Searcher.open.compacted")(new Searcher(spark, compacted))
    probe.foreach(q => searchPage(after, q.q))
    val afterPages = probe.map(q => q -> r.op("query.search.after_compact")(searchPage(after, q.q)))
    r.check(Seq(c.id), "compacted doc_count differs")(
      docCount(r, compacted) == setup.corpus.turns + appendedTurns)
    checkPages(r, afterPages, q => beforeHits.get(q).map(_.hits), source)
    oracle.foreach { case (q, o) => checkOracle(r, after, q, o, afterPages.filter(_._1 == q).map(_._2.id)) }
    r.e2e("index_bytes_per_text_byte") =
      (indexBytes(compacted).toDouble / (setup.corpus.textBytes + appendedBytes), "ratio")

    r.mark("checks")
    if (r.tracer.enabled) {
      r.tracer.drain()
      Layers.build(r, setups.flatMap(_.build))
      Layers.probes(r, setup.corpus.convs, setup.dir, pages.map(_._1).toSeq)
      Layers.ingest(r, appends.toSeq, firstSearch.toSeq, segmentsFinal, c,
        before.map(_._2.ms), afterPages.map(_._2.ms))
    }
    after.close()
    discard(setup)
    rm(compacted)
  }
}
