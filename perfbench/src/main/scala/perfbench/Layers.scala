package perfbench

import org.apache.spark.sql.functions._
import graft.query.{QueryParser, Searcher}
import perfbench.Inputs.Query
import perfbench.Stats.{median, quantile}
import perfbench.Workloads.{Built, TopK}

/** The per-layer metrics of a traced run. Layer names are the engine's
  * modules; `spark` is the scheduler and IO underneath, as the listener
  * sees it. A layer that the workload never calls reports 0. */
object Layers {

  val All: Seq[(String, String)] = Seq(
    "index.IndexBuilder.build_ms" -> "ms",
    "index.IndexBuilder.docs_ms" -> "ms",
    "index.IndexBuilder.postings_ms" -> "ms",
    "index.IndexBuilder.stats_ms" -> "ms",
    "index.IndexBuilder.unattributed_ms" -> "ms",
    "spark.build.task_cpu_s" -> "s",
    "spark.build.gc_s" -> "s",
    "spark.build.spill_bytes" -> "bytes",
    "spark.build.shuffle_write_bytes" -> "bytes",
    "spark.build.input_bytes" -> "bytes",
    "spark.build.output_bytes" -> "bytes",
    "spark.build.jobs" -> "count",
    "spark.build.tasks" -> "count",
    "spark.build.slot_busy_frac" -> "ratio",
    "index.postings_bytes" -> "bytes",
    "index.docs_bytes" -> "bytes",
    "index.terms_bytes" -> "bytes",
    "index.postings_rows" -> "count",
    "index.segments" -> "count",
    "analysis.Analyzer.ns_per_token" -> "ns",
    "codec.PostingsCodec.encode_ns_per_posting" -> "ns",
    "codec.PostingsCodec.decode_ns_per_posting" -> "ns",
    "query.QueryParser.parse_us" -> "us",
    "query.Searcher.expand_ms" -> "ms",
    "query.Searcher.termStats_ms" -> "ms",
    "query.Searcher.topKHits_ms.p50" -> "ms",
    "query.Searcher.topKHits_ms.p95" -> "ms",
    "query.fetch_ms" -> "ms") ++
    Inputs.Shapes.map(s => s"query.$s.search_ms.p50" -> "ms") ++ Seq(
    "spark.search.jobs_per_query" -> "count",
    "spark.search.tasks_per_query" -> "count",
    "spark.search.input_bytes_per_query" -> "bytes",
    "spark.topKHits.jobs_per_query" -> "count",
    "query.Searcher.open_ms" -> "ms",
    "streaming.StreamingIndexer.appendBatch_ms.p50" -> "ms",
    "spark.append.jobs_per_batch" -> "count",
    "spark.append.output_bytes_per_batch" -> "bytes",
    "query.search_after_append_ms.p50" -> "ms",
    "index.segments_final" -> "count",
    "index.MergePolicy.compact_ms" -> "ms",
    "spark.compact.shuffle_write_bytes" -> "bytes",
    "query.search_ms.before_compact" -> "ms",
    "query.search_ms.after_compact" -> "ms")

  private val unitOf = All.toMap

  private def put(r: Run, name: String, v: Double): Unit = {
    require(unitOf.contains(name), s"undeclared layer metric $name")
    r.layer(name) = (v, unitOf(name))
  }

  /** The median build by wall: its lineage step times split its wall, and
    * the listener's totals for its job groups give the Spark side. */
  def build(r: Run, builds: Seq[Built]): Unit = {
    val b = builds.sortBy(_.span.ms).apply((builds.length - 1) / 2)
    val ms = b.span.ms
    put(r, "index.IndexBuilder.build_ms", ms)
    put(r, "index.IndexBuilder.docs_ms", b.docsMs.toDouble)
    put(r, "index.IndexBuilder.postings_ms", b.postingsMs.toDouble)
    put(r, "index.IndexBuilder.stats_ms", b.statsMs.toDouble)
    put(r, "index.IndexBuilder.unattributed_ms", ms - (b.docsMs + b.postingsMs + b.statsMs))
    val t = r.tracer.totals(b.span)
    put(r, "spark.build.task_cpu_s", t.cpuNs / 1e9)
    put(r, "spark.build.gc_s", t.gcMs / 1e3)
    put(r, "spark.build.spill_bytes", t.spillBytes.toDouble)
    put(r, "spark.build.shuffle_write_bytes", t.shuffleWriteBytes.toDouble)
    put(r, "spark.build.input_bytes", t.inputBytes.toDouble)
    put(r, "spark.build.output_bytes", t.outputBytes.toDouble)
    put(r, "spark.build.jobs", t.jobs.toDouble)
    put(r, "spark.build.tasks", t.tasks.toDouble)
    put(r, "spark.build.slot_busy_frac", t.taskMs / (ms * r.cores))
  }

  def index(r: Run, dir: String): Unit = {
    import r.spark.implicits._
    def bytes(t: String) = Option(new java.io.File(s"$dir/$t").listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum.toDouble
    put(r, "index.postings_bytes", bytes("postings"))
    put(r, "index.docs_bytes", bytes("docs"))
    put(r, "index.terms_bytes", bytes("terms"))
    val (rows, segs) = r.spark.read.parquet(s"$dir/postings")
      .agg(count(lit(1)), countDistinct($"segment_id")).as[(Long, Long)].head()
    put(r, "index.postings_rows", rows.toDouble)
    put(r, "index.segments", segs.toDouble)
  }

  /** Kernel probes: the analyzer on a seeded sample of the workload's
    * corpus texts, the codec on its index's posting lists, the parser on
    * its queries. */
  def probes(r: Run, convs: Long, indexDir: String, queries: Seq[Query]): Unit = {
    val texts = Inputs.sampleTexts(r.corpusSeed, convs, 4000, Inputs.subSeed(r.seed, 5))
    put(r, "analysis.Analyzer.ns_per_token", Probes.analyzerNsPerToken(texts))
    val (enc, dec) = Probes.codecNsPerPosting(r.spark, indexDir)
    put(r, "codec.PostingsCodec.encode_ns_per_posting", enc)
    put(r, "codec.PostingsCodec.decode_ns_per_posting", dec)
    put(r, "query.QueryParser.parse_us", Probes.parseUs(queries.map(_.q)))
  }

  private def perQuery(r: Run, spans: Seq[Span], name: String): Unit =
    if (spans.nonEmpty) {
      val t = new StageTotals
      spans.foreach(s => t.add(r.tracer.totals(s)))
      put(r, s"spark.$name.jobs_per_query", t.jobs.toDouble / spans.length)
      if (name == "search") {
        put(r, "spark.search.tasks_per_query", t.tasks.toDouble / spans.length)
        put(r, "spark.search.input_bytes_per_query", t.inputBytes.toDouble / spans.length)
      }
    }

  /** Query-path split. `searches` are the workload's search calls (per-shape
    * latency, Spark cost per query); `fetchSearches` are search calls on the
    * same Searcher as the `topK` calls, so search minus topKHits on one
    * query is the stored-field fetch. */
  def query(r: Run, searcher: Searcher, searches: Seq[(Query, Span)],
      fetchSearches: Seq[(Query, Span)], topK: Map[Query, TopK]): Unit = {
    val prefix = searches.map(_._1).filter(_.shape == "prefix").distinct
      .map(q => QueryParser.parse(q.q))
    val expand = prefix.flatMap(p => (0 until 3).map { _ =>
      r.tracer.timed("query.Searcher.expand")(searcher.expand(p))._1.ms
    })
    if (expand.nonEmpty) put(r, "query.Searcher.expand_ms", median(expand))
    // first lookups of terms no query has used yet: the memo misses, as on
    // a query's first use of a term
    val cold = (0 until 8).map { i =>
      r.tracer.timed("query.Searcher.termStats") {
        searcher.termStats(Seq(s"zzcold${r.seed}a$i", s"zzcold${r.seed}b$i"))
      }._1.ms
    }
    put(r, "query.Searcher.termStats_ms", median(cold))
    val topMs = topK.values.flatMap(_.spans.map(_.ms)).toSeq
    put(r, "query.Searcher.topKHits_ms.p50", median(topMs))
    put(r, "query.Searcher.topKHits_ms.p95", quantile(topMs, 0.95))
    val fetch = fetchSearches.groupBy(_._1).toSeq.flatMap { case (q, ss) =>
      topK.get(q).map(t => median(ss.map(_._2.ms)) - median(t.spans.map(_.ms)))
    }
    if (fetch.nonEmpty) put(r, "query.fetch_ms", median(fetch))
    searches.groupBy(_._1.shape).foreach { case (shape, ss) =>
      put(r, s"query.$shape.search_ms.p50", median(ss.map(_._2.ms)))
    }
    perQuery(r, searches.map(_._2), "search")
    perQuery(r, topK.values.flatMap(_.spans).toSeq, "topKHits")
  }

  def ingest(r: Run, appends: Seq[Done[Unit]], firstSearch: Seq[Double], segmentsFinal: Long,
      compact: Done[Option[Int]], before: Seq[Double], after: Seq[Double]): Unit = {
    val ok = appends.filter(_.value.isDefined)
    val t = new StageTotals
    ok.foreach(a => t.add(r.tracer.totals(a.span)))
    put(r, "streaming.StreamingIndexer.appendBatch_ms.p50", median(ok.map(_.ms)))
    put(r, "spark.append.jobs_per_batch", t.jobs.toDouble / ok.length)
    put(r, "spark.append.output_bytes_per_batch", t.outputBytes.toDouble / ok.length)
    put(r, "query.search_after_append_ms.p50", median(firstSearch))
    put(r, "index.segments_final", segmentsFinal.toDouble)
    put(r, "index.MergePolicy.compact_ms", compact.ms)
    put(r, "spark.compact.shuffle_write_bytes", r.tracer.totals(compact.span).shuffleWriteBytes.toDouble)
    put(r, "query.search_ms.before_compact", median(before))
    put(r, "query.search_ms.after_compact", median(after))
    put(r, "query.Searcher.open_ms", median(r.tracer.named("query.Searcher.open").map(_.ms)))
  }
}
