package graft.query

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, IntegerType, LongType, StructField, StructType}
import graft.analysis.Analyzer
import org.apache.spark.unsafe.types.UTF8String
import graft.index.{CorpusStats, DocRow, IndexBuilder, PostingRow}
import graft.index.IndexBuilder.FieldTermPrefix

/** Distributed top-k query engine over a built index (SURVEY.md §3.1 "Spark
  * shape"): driver parses the query and looks up exact global term stats
  * in the searcher's term dictionary (the ExactStatsCache analogue),
  * executors run block-max WAND per segment
  * (segment = partition = the shard-local search of
  * `solr/core/src/java/org/apache/spark/../SolrIndexSearcher.java` — see SURVEY §3.1),
  * and the per-segment top-k heaps are merged exactly like Solr's
  * distributed priority-queue merge
  * (`solr/core/src/java/org/apache/solr/handler/component/QueryComponent.java:971-1060`)
  * via `orderBy(score desc, doc_id asc).limit(k)` — Spark's
  * TakeOrderedAndProject IS a per-partition heap + driver PQ merge.
  * [[search]] then fetches stored fields for just those ≤k winners with
  * one pruned `doc_id IN (...)` read and ranks the page on the driver
  * (Solr's PURPOSE_GET_FIELDS round-trip).
  *
  * Opening a searcher makes ONE pass over the postings: it materializes the
  * cache and sums the segments' term dictionaries into the searcher's, as
  * Lucene does; term stats, expansion and fq range keys are driver lookups.
  *
  * Execution shape: every query path (top-k, top-k with count, match set,
  * dismax, phrase enumeration) hands a per-segment body to ONE stage
  * builder, [[perSegment]], which alone decides the plan shape. Postings
  * files are written segment-aligned by the builder, so when the cached
  * scan provably keeps every segment inside one partition (`colocated`) the
  * stage is one narrow per-partition pass over the `term IN (...)`-filtered
  * cached postings (the norms sidecar rides along as the `term == ""`
  * rows): no shuffle, and TakeOrdered merges on the driver. When
  * colocation can't be proven the same body runs after an explicit shuffle
  * by segment_id — at 10^12-doc scale with cache=false that shuffle carries
  * only the queried terms' rows (term-predicate pushdown on the term-sorted
  * parquet), which is the plan a real cluster wants anyway.
  *
  * Filter (fq) clauses are postings clauses of that same stage, Lucene's
  * uncached `Occur.FILTER`: a `role:`/`tool:` equality or range reads the
  * `\u0002field:` postings as a non-scoring cursor every hit must sit on,
  * and a negated one joins the MUST_NOT cursors (see [[prepare]]). Filters
  * never score and never change corpus stats.
  */
final class Searcher(
    val spark: SparkSession,
    indexDir: String,
    bm25: Bm25 = Bm25(),
    analyzer: Analyzer = Analyzer.default,
    cache: Boolean = true) extends Serializable {

  import spark.implicits._

  /** An index table read with its row type's schema: no inference job. */
  private def table[T: Encoder](name: String): DataFrame =
    spark.read.schema(implicitly[Encoder[T]].schema).parquet(s"$indexDir/$name")

  val corpus: CorpusStats = table[CorpusStats]("corpus").as[CorpusStats].head()
  val avgdl: Float = bm25.avgdl(corpus.sum_dl, corpus.doc_count)

  // With cache=true the postings persist for the searcher epoch (the
  // queryResult cache role, `solr/.../SolrIndexSearcher.java:164-165`),
  // materialized by the dictionary pass under a scan conf that keeps each
  // segment-aligned postings file whole in one partition (openCost =
  // maxPartitionBytes > largest file). At 10^12-doc scale set cache=false:
  // term pushdown on the term-sorted parquet keeps each query a point read.
  private val (postingsDF, dict, colocated): (DataFrame, Searcher.TermDictionary, Boolean) = {
    val maxFile = IndexBuilder.largestParquetFile(spark, s"$indexDir/postings")
    IndexBuilder.withFilesConf(spark, "maxPartitionBytes" -> math.max(maxFile + 1, 128L << 20),
        "openCostInBytes" -> math.max(maxFile + 1, 4L << 20)) {
      val read = table[PostingRow]("postings")
      val df = if (cache) read.persist() else read
      val (d, disjoint) = Searcher.scanDictionary(df)
      (df, d, cache && disjoint)
    }
  }

  /** Exposed for tests/plan audits: true = one-stage no-shuffle path, iff no
    * segment spans two partitions of the MATERIALIZED cache (never torn). */
  def usesColocatedPath: Boolean = colocated

  /** The stored-fields table: one relation per Searcher epoch, on first
    * use, so a searcher that never fetches never lists its files. */
  lazy val docs: DataFrame = table[DocRow]("docs")

  /** Drop this searcher's cached tables (end of searcher epoch). */
  def close(): Unit = if (cache) {
    postingsDF.unpersist()
    queryResultCache.clear()
  }

  /** Global df of each of `terms` in the index, a dictionary lookup (no
    * Spark job); an absent term gets no entry. */
  def termStats(terms: Seq[String]): Map[String, Long] =
    terms.iterator.flatMap(t => dict.df(t).map(t -> _)).toMap

  /** Top-k (doc_id, score) for a raw query string. */
  def topKHits(q: String, k: Int): Dataset[Hit] = topKHits(QueryParser.parse(q, analyzer), k)

  /** Resolve multi-term clauses (prefix wildcard, fuzzy) against the term
    * dictionary on the driver — Lucene's MultiTermQuery rewrite with the
    * documented SCORING_BOOLEAN_REWRITE (each concrete term scores normally),
    * capped at MaxExpansions (the reference's BooleanQuery limit). */
  def expand(parsed: ParsedQuery): ParsedQuery = {
    if (parsed.multiTerms.isEmpty) return parsed
    var p = parsed
    p.multiTerms.foreach { mt =>
      val expanded = expansions(mt)
      // an expanded term colliding with an already-scored clause accumulates
      // its boost (duplicate clauses sum — QueryParser header doc); a term
      // scored but absent from the map carries implicit weight 1
      val scoredAlready = (p.must ++ p.should ++ p.groups.flatMap(_.terms)).toSet
      val withBoost =
        if (mt.occur == 2) p.boosts // MUST_NOT expansion never scores
        else expanded.foldLeft(p.boosts) { (b, t) =>
          val w = b.getOrElse(t, if (scoredAlready(t)) 1f else 0f) + mt.boost
          if (w == 1f) b - t else b.updated(t, w)
        }
      p = mt.occur match {
        case 0 => p.copy(groups = p.groups :+ Group(expanded), boosts = withBoost)
        case 1 => p.copy(should = (p.should ++ expanded).distinct, boosts = withBoost)
        case _ => p.copy(mustNot = (p.mustNot ++ expanded).distinct, boosts = withBoost)
      }
    }
    p.copy(multiTerms = Vector.empty)
  }

  /** One multi-term clause's terms from the text vocabulary (a fuzzy
    * `roles~2` must not expand into a field term). A prefix is its
    * dictionary range; a general wildcard is its literal prefix's range
    * (Lucene's commonPrefix; a leading wildcard scans the vocabulary)
    * filtered by the glob's regex, Spark's `rlike` test. Both keep the
    * first MaxExpansions in dictionary order; fuzzy, a vocabulary scan by
    * edit distance, keeps the first MaxExpansions in String order. */
  private def expansions(mt: MultiTerm): Vector[String] = mt.kind match {
    case 0 => dict.textTerms(mt.body).take(Searcher.MaxExpansions).toVector
    case 2 =>
      val m = java.util.regex.Pattern.compile(Searcher.globRegex(mt.body)).matcher("")
      dict.textTerms(mt.body.takeWhile(c => c != '*' && c != '?'))
        .filter(t => m.reset(t).find()).take(Searcher.MaxExpansions).toVector
    case _ =>
      dict.textTerms("").filter(t => Searcher.editDistanceAtMost(t, mt.body, mt.maxEdits))
        .toVector.sorted.take(Searcher.MaxExpansions)
  }

  /** Everything a query execution needs: the broadcast metadata and the
    * filtered posting rows. None = the query is provably empty without
    * touching the postings.
    *
    * Filter (fq) clauses become postings clauses. A `role:`/`tool:` value
    * is its `\u0002field:<v>` posting key, and a range is every such key in
    * range, expanded exactly over the dictionary (see [[rangeKeys]]). A
    * positive clause is a non-scoring cursor over its keys, and a negated
    * one adds its keys to the MUST_NOT terms. Two clause kinds have no
    * postings: `conv_id` (never indexed) and a value set holding the empty
    * string (the writers skip ""). Those resolve through one pruned read of
    * `docs` into sorted doc-id arrays broadcast with the metadata: no cache
    * and no cap, so they cost 8 driver bytes per matching doc. */
  private def prepare(parsed0: ParsedQuery):
      Option[(org.apache.spark.broadcast.Broadcast[Searcher.QueryMeta], Dataset[PostingRow])] = {
    val parsed = expand(parsed0)
    if (parsed.isEmpty) return None
    // (keys, negated) per postings fq clause; (predicate, negated) per
    // stored-field clause — a predicate holds on the docs the clause names
    val fieldClauses = Vector.newBuilder[(Vector[String], Boolean)]
    val storedClauses = Vector.newBuilder[(Column, Boolean)]
    def indexed(f: String) = f == "role" || f == "tool"
    (parsed.filters.map((_, false)) ++ parsed.notFilters.map((_, true))).foreach {
      case ((f, v), neg) =>
        if (indexed(f) && v.nonEmpty) fieldClauses += ((Vector(s"$FieldTermPrefix$f:$v"), neg))
        else storedClauses += ((col(f) === lit(v), neg))
    }
    parsed.rangeFilters.foreach { r =>
      // "" lies in [lo TO hi] iff lo is "", and never in {lo TO hi}
      if (indexed(r.field) && !(r.inclusive && r.lo.isEmpty)) fieldClauses += ((rangeKeys(r), r.negated))
      else storedClauses += ((Searcher.inRange(col(r.field), r.lo, r.hi, r.inclusive), r.negated))
    }
    val fieldFilters = fieldClauses.result()
    val dfs = termStats(parsed.allTerms ++ fieldFilters.flatMap(_._1))
    def live(t: String) = dfs.getOrElse(t, 0L) > 0
    // a positive filter with no live key excludes every doc
    if (fieldFilters.exists { case (ks, neg) => !neg && !ks.exists(live) }) return None
    val must = parsed.must.filter(live)
    if (must.length != parsed.must.length) return None // a MUST term is absent from the corpus
    val mustNotSet = parsed.mustNot.toSet
    // occur-class collisions (meta below is keyed by term, so one term gets
    // ONE occur): `+t -t` is unsatisfiable; `+t t` keeps the MUST clause
    // (must-wins — the oracle's single-scoring of a duplicated term agrees);
    // `t -t` lets the exclusion win (an excluded doc can never score t)
    if (must.exists(mustNotSet)) return None
    val mustSet = must.toSet
    val should = parsed.should
      .filter(live)
      .filterNot(t => mustSet(t) || mustNotSet(t))
    // negated filter keys are MUST_NOT terms (namespaced, so they collide
    // with no text term)
    val mustNot = (parsed.mustNot ++ fieldFilters.filter(_._2).flatMap(_._1)).filter(live)
    // a MUST phrase with a corpus-absent member can never match; SHOULD /
    // MUST_NOT phrases with dead members drop out
    val phrasesAlive = parsed.phrases.filter(_.terms.forall(live))
    if (parsed.phrases.exists(p => p.occur == 0 && !phrasesAlive.contains(p))) return None
    // a MUST group (grouped disjunction) needs at least one live member:
    // term members with df>0, phrase members with every term live
    val groupsAlive = parsed.groups
      .map(g => Group(g.terms.filter(live), g.phrases.filter(_.terms.forall(live))))
    if (groupsAlive.exists(g => g.terms.isEmpty && g.phrases.isEmpty)) return None
    // a conjunction group (SHOULD or MUST_NOT) with ANY dead member —
    // term or phrase — can never match; it simply drops out (optional)
    val conjAlive = parsed.conjGroups
      .filter(g => g.terms.forall(live) && g.phrases.forall(_.terms.forall(live)))
    if (must.isEmpty && should.isEmpty && groupsAlive.isEmpty &&
      phrasesAlive.forall(_.occur == 2) && conjAlive.forall(_.occur == 2))
      return None
    val filterKeys = fieldFilters.collect { case (ks, false) => ks.filter(live) }
    val stored = storedClauses.result()
    val docFilters: Vector[(Array[Long], Boolean)] =
      if (stored.isEmpty) Vector.empty
      else {
        // one read for every stored-field clause: doc_id plus one flag per
        // clause, over the rows where any flag holds (null = false)
        val flags = stored.map(c => coalesce(c._1, lit(false)))
        val rows = docs.where(flags.reduce(_ || _)).select(col("doc_id") +: flags: _*).collect()
        stored.indices.map { i =>
          (rows.filter(_.getBoolean(i + 1)).map(_.getLong(0)).sorted, stored(i)._2)
        }.toVector
      }
    if (docFilters.exists { case (ds, neg) => !neg && ds.isEmpty }) return None

    // scoring order = MUST terms, SHOULD terms, then phrases, then groups,
    // each in query order (fixed accumulation order for bit-exact sums)
    val scoring = must ++ should
    val meta: Map[String, (Int, Int)] = // term -> (queryPos, occur 0=must 1=should 2=not)
      (must.zipWithIndex.map { case (t, i) => t -> (i, 0) } ++
        should.zipWithIndex.map { case (t, i) => t -> (must.length + i, 1) } ++
        mustNot.zipWithIndex.map { case (t, i) =>
          t -> (scoring.length + phrasesAlive.length + groupsAlive.length +
            conjAlive.length + i, 2) }).toMap
    // (phrase terms, occur, queryPos, slop) — idf resolved executor-side
    val phraseMeta: Vector[(Vector[String], Int, Int, Int)] =
      phrasesAlive.zipWithIndex.map { case (p, i) =>
        (p.terms, p.occur, scoring.length + i, p.slop)
      }
    val groupMeta: Vector[(Vector[String], Vector[GroupPhrase], Int)] =
      groupsAlive.zipWithIndex.map { case (g, i) =>
        (g.terms, g.phrases, scoring.length + phrasesAlive.length + i)
      }
    // (conj terms, phrase members, occur 1|2, queryPos) — after the MUST
    // groups in order
    val conjMeta: Vector[(Vector[String], Vector[GroupPhrase], Int, Int)] =
      conjAlive.zipWithIndex.map { case (g, i) =>
        (g.terms, g.phrases, g.occur,
          scoring.length + phrasesAlive.length + groupsAlive.length + i)
      }
    val idfs: Map[String, Float] =
      dfs.map { case (t, df) => t -> bm25.idf(corpus.doc_count, df) }
    val nc = bm25.normCache(avgdl)
    val bcMeta = spark.sparkContext.broadcast(
      Searcher.QueryMeta(meta, phraseMeta, groupMeta, idfs, parsed.boosts, nc,
        conjMeta, filterKeys, docFilters))

    val queried = (meta.keys ++ phraseMeta.flatMap(_._1) ++
      groupMeta.flatMap(g => g._1 ++ g._2.flatMap(_.terms)) ++
      conjMeta.flatMap(g => g._1 ++ g._2.flatMap(_.terms)) ++
      filterKeys.flatten).toSeq.distinct
    // the norms sidecar rides along as the term=="" rows: one filtered scan
    // carries everything a segment needs to score itself
    val rows = postingsDF
      .where($"term".isin("" +: queried: _*))
      .as[PostingRow]
    Some((bcMeta, rows))
  }

  /** The `\u0002field:` posting keys of the values in range `r`: a range
    * of the term dictionary in Spark's string order (a shared key prefix
    * keeps the value order). Exact: no MaxExpansions cap, since a truncated
    * filter drops matching docs. Package-visible for the reference test. */
  private[graft] def rangeKeys(r: RangeFilter): Vector[String] = {
    val p = s"$FieldTermPrefix${r.field}:"
    dict.range(p + r.lo, p + r.hi, r.inclusive)
  }

  /** The one per-segment stage every query path runs: `body` gets one
    * segment's rows (sidecar + queried-term rows) and its output is the
    * stage's output. The plan shape is chosen here and nowhere else: a
    * colocated cache is one narrow stage that groups the partition's rows
    * by segment (whole segments per partition, verified above) — no
    * shuffle; anything else shuffles by segment_id.
    * `body` must reference only locals and companion functions so the task
    * closure never serializes the Searcher. */
  private def perSegment[T: Encoder](rows: Dataset[PostingRow])(
      body: Array[PostingRow] => Iterator[T]): Dataset[T] =
    if (colocated) rows.mapPartitions(_.toArray.groupBy(_.segment_id).iterator.flatMap(g => body(g._2)))
    else rows.groupByKey(_.segment_id).flatMapGroups((_, rs) => body(rs.toArray))

  /** @param segmentDocBudget max docs scored per segment before early
    *                         termination with best-so-far (the reference's
    *                         query-limit surface, QueryLimits.java /
    *                         EarlyTerminatingCollector.java — a doc budget
    *                         is the deterministic rendering of timeAllowed)
    * @param timeAllowedMs    wall-clock scoring limit per segment, measured
    *                         from the segment's scoring start (the
    *                         per-shard timer of search/TimeAllowedLimit
    *                         .java; `timeAllowed` request param) — returns
    *                         best-so-far on expiry, non-deterministic by
    *                         nature like the reference's partialResults
    * @param after            cursorMark deep paging (CursorMark.java:46-63)
    *                         over the totally-ordered (score desc, docId
    *                         asc) sort key: only hits strictly after this
    *                         hit — the last of the previous page — are
    *                         returned, with the same k-sized heap as page 1.
    *                         The cursor rides with the query metadata, so
    *                         the plan is the first page's. None = first page. */
  def topKHits(parsed0: ParsedQuery, k: Int, segmentDocBudget: Int = Int.MaxValue,
      timeAllowedMs: Long = Long.MaxValue, after: Option[Hit] = None): Dataset[Hit] = {
    if (k <= 0) return spark.emptyDataset[Hit]
    prepare(parsed0) match {
      case None => spark.emptyDataset[Hit]
      case Some((bcMeta, rows)) =>
        perSegment(rows) { rs =>
          Searcher.scoreGroupCounted(rs, bcMeta.value, k, segmentDocBudget,
            prune = true, timeAllowedMs, after)._1.iterator
        }.orderBy($"score".desc, $"doc_id".asc).limit(k)
    }
  }

  /** queryResult cache: raw query string + k-window -> materialized top
    * hits, the searcher-epoch queryResultCache role
    * (`solr/core/src/java/org/apache/solr/search/SolrIndexSearcher.java:164-165`;
    * windowing = queryResultWindowSize, solrconfig.xml): k rounds up to a
    * window multiple so a k=10 page and a k=18 page share one entry, and a
    * cache hit answers WITHOUT parsing, planning, or running any Spark job
    * (EngineSpec pins zero jobs on the hit path). Bounded at
    * QueryResultCacheMax like the reference's CaffeineCache; lives for the
    * searcher epoch. */
  private val queryResultCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Array[Hit]]()

  def topKCached(q: String, k: Int): Array[Hit] = {
    if (k <= 0) return Array.empty
    if (!cache) return topKHits(q, k).collect()
    val w = Searcher.QueryResultWindow
    val window = ((k + w - 1) / w) * w
    val key = (q, window)
    var hits = queryResultCache.get(key)
    if (hits == null) {
      hits = topKHits(QueryParser.parse(q, analyzer), window).collect()
      // enforce the bound under concurrent misses (size-check-then-put
      // unsynchronized would overshoot and never shrink back)
      queryResultCache.synchronized {
        while (queryResultCache.size >= Searcher.QueryResultCacheMax) {
          val it = queryResultCache.entrySet().iterator()
          if (it.hasNext) { it.next(); it.remove() }
        }
        queryResultCache.put(key, hits)
      }
    }
    hits.take(k)
  }

  /** Top-k with a hit count — the numFound / minExactCount response surface
    * (`solr/core/src/java/org/apache/solr/search/QueryCommand.java:43`,
    * QueryComponent.java:448-452). minExactCount > k asks for an EXACT
    * total: WAND pruning is disabled and every matching doc is counted in
    * the same per-segment pass (what the reference does when
    * minExactCount=Integer.MAX_VALUE). Otherwise the pruned WAND runs and
    * totalHits is a LOWER BOUND (Lucene's GREATER_THAN_OR_EQUAL_TO) — the
    * latency the approximate count buys. Either way the top-k hits
    * themselves are identical (EngineSpec pins this). k <= 0 returns no
    * hits with the count of k = 1 (a count-only request, rows=0). */
  def topKWithCount(parsed0: ParsedQuery, k: Int,
      minExactCount: Int = Int.MaxValue): Searcher.TopDocs = {
    if (k <= 0) return topKWithCount(parsed0, 1, minExactCount).copy(hits = Array.empty)
    val exact = minExactCount > k
    prepare(parsed0) match {
      case None => Searcher.TopDocs(Array.empty, 0L, isExact = true)
      case Some((bcMeta, rows)) =>
        // numSegments results: the driver PQ-merge is exactly Solr's
        // distributed-merge role (QueryComponent.java:971-1060), with the
        // same (score desc, docId asc) tie-break as TakeOrdered
        val seg = perSegment(rows) { rs =>
          val (h, c) = Searcher.scoreGroupCounted(rs, bcMeta.value, k, Int.MaxValue, prune = !exact)
          Iterator.single((h.toSeq, c))
        }.collect()
        val hits = seg.iterator.flatMap(_._1).toArray
          .sortBy(h => (-h.score, h.doc_id)).take(k)
        Searcher.TopDocs(hits, seg.iterator.map(_._2).sum, isExact = exact)
    }
  }

  /** The query's match set (DocSet, SolrIndexSearcher.getDocSet): every
    * internal docId matching the boolean + filter semantics, unscored — the
    * input the facet / stats / grouping components run over. Same plan
    * shapes as [[topKHits]] (one narrow stage when colocated); per-segment
    * enumeration, so the result stays distributed for the downstream
    * groupBy/agg. */
  def matchingDocIds(parsed0: ParsedQuery): Dataset[Long] = {
    prepare(parsed0) match {
      case None => spark.emptyDataset[Long]
      case Some((bcMeta, rows)) =>
        perSegment(rows)(rs => Searcher.matchGroup(rs, bcMeta.value))
    }
  }

  def matchingDocIds(q: String): Dataset[Long] =
    matchingDocIds(QueryParser.parse(q, analyzer))

  /** Exact hit count of a query (numFound with minExactCount = infinity). */
  def numFound(parsed: ParsedQuery): Long =
    topKWithCount(parsed, 1, Int.MaxValue).totalHits

  def numFound(q: String): Long = numFound(QueryParser.parse(q, analyzer))

  /** edismax served by the engine index: each analyzed query term scores as
    * a disjunction-max over the qf FIELDS — "text" uses the text postings
    * with the doc-length norm, other fields use the single-token field
    * postings (`\u0002role:<v>` keying, layout v4) with dl = avgdl = 1 — combined
    * as max + tie·(sum − max) per term and gated by mm matched terms
    * (ExtendedDismaxQParser.java:392-445,994-1036). Runs on the same
    * one-stage colocated path as topKHits.
    *
    * @param qf (field, weight) in qf order; field "text" = the text field */
  def dismaxTopK(q: String, qf: Seq[(String, Float)], tie: Float, mm: Int,
      k: Int): Dataset[Hit] = {
    val empty = spark.emptyDataset[Hit]
    val qterms = analyzer.analyze(q).toVector.distinct
    if (qterms.isEmpty || qf.isEmpty || k <= 0) return empty
    def keyOf(f: String, t: String) =
      if (f == "text") t else graft.index.IndexBuilder.FieldTermPrefix + s"$f:$t"
    val allKeys = for (t <- qterms; (f, _) <- qf) yield keyOf(f, t)
    val dfs = termStats(allKeys.distinct)
    // per term (query order): live (key, weighted idf, isTextField) per
    // field in qf order
    val termFields: Vector[Vector[(String, Float, Boolean)]] = qterms.map { t =>
      qf.toVector.flatMap { case (f, w) =>
        val key = keyOf(f, t)
        dfs.get(key).filter(_ > 0).map(df =>
          (key, w * bm25.idf(corpus.doc_count, df), f == "text"))
      }
    }
    if (termFields.forall(_.isEmpty)) return empty
    val nc = bm25.normCache(avgdl)
    val bcQ = spark.sparkContext.broadcast(
      Searcher.DisMaxMeta(termFields, nc, tie, mm, bm25.k1))
    val queried = termFields.flatten.map(_._1).distinct
    val rows = postingsDF
      .where($"term".isin("" +: queried: _*))
      .as[PostingRow]
    perSegment(rows)(rs => Searcher.scoreDisMaxGroup(rs, bcQ.value, k))
      .orderBy($"score".desc, $"doc_id".asc).limit(k)
  }

  /** Exact-phrase match enumeration: every (internal docId, phraseFreq)
    * with freq >= 1, from the positional postings — the driver-checkable
    * integer artifact of the phrase path (scores are float and gated by
    * EngineSpec instead). */
  def phraseFreqs(terms: Seq[String], slop: Int = 0): DataFrame = {
    val dfs = termStats(terms)
    if (terms.isEmpty || terms.exists(t => dfs.getOrElse(t, 0L) == 0L))
      return spark.emptyDataset[(Long, Long)].toDF("did", "freq")
    val termsV = terms.toVector
    val rows = postingsDF.where($"term".isin(terms: _*)).as[PostingRow]
    perSegment(rows) { ps =>
      val byTerm = ps.map(pr => pr.term -> pr).toMap
      if (!termsV.forall(byTerm.contains)) Iterator.empty
      else {
        val dummy = Array.fill(256)(1f)
        val members = termsV.map(t => new PostingCursor(byTerm(t).blocks, 0f, dummy, 0)).toArray
        val pc = new PhraseCursor(members, 0f, dummy, 0, slop)
        new Iterator[(Long, Long)] {
          def hasNext: Boolean = pc.doc != Long.MaxValue
          def next(): (Long, Long) = {
            val r = (pc.doc, pc.freq.toLong)
            pc.next()
            r
          }
        }
      }
    }.toDF("did", "freq")
  }

  /** Full search, Solr's two phases: collect the top-k hits, fetch their
    * stored fields with one min/max-pruned `doc_id IN (...)` read, and rank
    * the ≤k rows on the driver, dropping hits with no stored row. Columns:
    * rank, doc_id, score, then the stored fields. */
  def search(q: String, k: Int): DataFrame = {
    val hits = topKHits(q, k).collect()
    val fields = docs.select($"doc_id", $"conv_id", $"turn_idx", $"role", $"text", $"tool", $"ts")
    // an empty IN list optimizes to an empty relation: no fetch job
    val stored = fields.where($"doc_id".isin(hits.toSeq.map(_.doc_id): _*))
      .collect().map(r => r.getLong(0) -> r).toMap
    val page = hits.filter(h => stored.contains(h.doc_id)).zipWithIndex.map { case (h, i) =>
      Row.fromSeq(Seq[Any](i + 1, h.doc_id, h.score) ++ stored(h.doc_id).toSeq.tail)
    }
    val head = Seq("rank" -> IntegerType, "doc_id" -> LongType, "score" -> FloatType)
      .map { case (n, t) => StructField(n, t, nullable = false) }
    spark.createDataFrame(java.util.Arrays.asList(page: _*), StructType(head ++ fields.schema.fields.tail))
  }
}

object Searcher {
  /** queryResultCache capacity per searcher epoch (reference: bounded
    * CaffeineCache, solrconfig.xml queryResultCache size). */
  val QueryResultCacheMax = 64

  /** Multi-term expansion cap (the reference's BooleanQuery clause limit
    * role, solrconfig.xml maxBooleanClauses). */
  val MaxExpansions = 128

  /** queryResultCache page-rounding granularity (queryResultWindowSize). */
  val QueryResultWindow = 20

  /** Top-k result page with its hit count — the numFound surface.
    * totalHits is exact when isExact, else a lower bound (Lucene's
    * GREATER_THAN_OR_EQUAL_TO relation under WAND pruning). */
  final case class TopDocs(hits: Array[Hit], totalHits: Long, isExact: Boolean)

  /** Everything a task needs to dismax-score one segment:
    * termFields(t) = (posting key, weighted idf, isTextField) per live
    * field of query term t, both in query/qf order. */
  final case class DisMaxMeta(
      termFields: Vector[Vector[(String, Float, Boolean)]],
      normCache: Array[Float],
      tie: Float,
      mm: Int,
      k1: Float)

  /** Dismax-score one segment's rows (sidecar + queried field/text rows). */
  private[query] def scoreDisMaxGroup(
      rs: Array[PostingRow], dm: DisMaxMeta, k: Int): Iterator[Hit] = {
    val sidecarIdx = rs.indexWhere(_.term.isEmpty)
    if (sidecarIdx < 0) return Iterator.empty
    val sc = rs(sidecarIdx)
    val byTerm = rs.iterator.filter(_.term.nonEmpty).map(pr => pr.term -> pr).toMap
    val cursors: Array[Array[Cursor]] = dm.termFields.map { fields =>
      fields.flatMap { case (key, wIdf, isText) =>
        byTerm.get(key).map { pr =>
          // field terms have dl = avgdl = 1 ⇒ c = k1, independent of the
          // doc's TEXT norm byte delivered at score time
          new PostingCursor(pr.blocks, wIdf, dm.normCache, 0,
            fixedC = if (isText) Float.NaN else dm.k1): Cursor
        }
      }.toArray
    }.toArray
    if (cursors.forall(_.isEmpty)) Iterator.empty
    else Wand.scoreDisMax(cursors, dm.tie, dm.mm, sc.norms, sc.first_doc, k).iterator
  }

  /** Everything a task needs to score one segment: term metadata, phrase /
    * group clauses, idf + boost maps, the norm decode cache, and the
    * query's positive fq clauses (negated field keys ride in `meta` as
    * MUST_NOT terms). */
  final case class QueryMeta(
      meta: Map[String, (Int, Int)], // term -> (queryPos, occur 0=must 1=should 2=not)
      phraseMeta: Vector[(Vector[String], Int, Int, Int)], // (terms, occur, queryPos, slop)
      groupMeta: Vector[(Vector[String], Vector[GroupPhrase], Int)], // (terms, phrase members, queryPos)
      idfs: Map[String, Float],
      boosts: Map[String, Float],
      normCache: Array[Float],
      conjMeta: Vector[(Vector[String], Vector[GroupPhrase], Int, Int)], // (terms, phrase members, occur 1|2, queryPos)
      filters: Vector[Vector[String]], // positive fq clauses: a doc must hold one of each clause's keys
      docFilters: Vector[(Array[Long], Boolean)]) // stored-field fq clauses: (sorted doc ids, negated)

  /** Cursor construction shared by the scoring path and the DocSet
    * (match-enumeration) path: (should, must, not, sidecar, filters), or
    * None when the segment provably matches nothing (no sidecar, or a MUST
    * or positive filter clause absent here). */
  private[query] def buildCursors(rs: Array[PostingRow], qm: QueryMeta):
      Option[(Array[Cursor], Array[Cursor], Array[Cursor], PostingRow, Array[Cursor])] = {
    val sidecarIdx = rs.indexWhere(_.term.isEmpty)
    if (sidecarIdx < 0) return None // no sidecar ⇒ nothing to score
    val sc = rs(sidecarIdx)
    def wIdf(t: String): Float = qm.boosts.getOrElse(t, 1f) * qm.idfs(t)
    val byTerm = rs.iterator.filter(_.term.nonEmpty).map(pr => pr.term -> pr).toMap
    val nc = qm.normCache
    // fresh member cursors (cursors are stateful; a term used both
    // standalone and inside a phrase needs independent iterators); phrase
    // idf = plain sum of member idfs in member order (boosts apply to term
    // clauses, not phrase members)
    def phraseCursor(terms: Vector[String], qpos: Int, slop: Int): Cursor = {
      val members = terms.map(t =>
        new PostingCursor(byTerm(t).blocks, qm.idfs(t), nc, 0)).toArray
      var idfSum = 0f
      terms.foreach(t => idfSum += qm.idfs(t))
      new PhraseCursor(members, idfSum, nc, qpos, slop)
    }
    val mustCur = scala.collection.mutable.ArrayBuffer.empty[Cursor]
    val shouldCur = scala.collection.mutable.ArrayBuffer.empty[Cursor]
    val notCur = scala.collection.mutable.ArrayBuffer.empty[Cursor]
    var missingMust = false
    qm.meta.foreach { case (term, (qpos, occ)) =>
      byTerm.get(term) match {
        case Some(pr) =>
          val cur = new PostingCursor(pr.blocks, wIdf(term), nc, qpos)
          occ match {
            case 0 => mustCur += cur
            case 1 => shouldCur += cur
            case _ => notCur += cur
          }
        case None => if (occ == 0) missingMust = true
      }
    }
    qm.phraseMeta.foreach { case (terms, occ, qpos, slop) =>
      if (terms.forall(byTerm.contains)) {
        val pc = phraseCursor(terms, qpos, slop)
        occ match {
          case 0 => mustCur += pc
          case 1 => shouldCur += pc
          case _ => notCur += pc
        }
      } else if (occ == 0) missingMust = true
    }
    qm.groupMeta.foreach { case (terms, phrases, qpos) =>
      // member order: terms first, then phrase members — the score sums
      // matching members in this order (fixed float accumulation)
      val present = terms.filter(byTerm.contains)
      val termCursors: Vector[Cursor] = present.map(t =>
        new PostingCursor(byTerm(t).blocks, wIdf(t), nc, 0))
      val phraseCursors: Vector[Cursor] = phrases
        .filter(_.terms.forall(byTerm.contains))
        .map(gp => phraseCursor(gp.terms, 0, gp.slop))
      val all = (termCursors ++ phraseCursors).toArray
      if (all.isEmpty) missingMust = true // MUST group can't match here
      else mustCur += new DisjunctionCursor(all, qpos)
    }
    qm.conjMeta.foreach { case (terms, phrases, occ, qpos) =>
      // a conjunction group needs EVERY member in this segment; with any
      // absent (term or phrase term) it matches nothing here — no cursor
      // (it is optional). Member order: terms first, then phrase members —
      // score(norm) sums members in this fixed order
      if (terms.forall(byTerm.contains) &&
        phrases.forall(_.terms.forall(byTerm.contains))) {
        val termCursors: Vector[Cursor] = terms.map(t =>
          new PostingCursor(byTerm(t).blocks, wIdf(t), nc, 0))
        val phraseCursors: Vector[Cursor] = phrases.map(gp => phraseCursor(gp.terms, 0, gp.slop))
        val cc = new ConjunctionCursor((termCursors ++ phraseCursors).toArray, qpos)
        if (occ == 1) shouldCur += cc else notCur += cc
      }
    }
    // positive fq clauses: one non-scoring cursor each, over the clause's
    // keys present in this segment; a clause with none matches nothing here
    val filterCur = scala.collection.mutable.ArrayBuffer.empty[Cursor]
    qm.filters.foreach { keys =>
      keys.flatMap(byTerm.get).map(pr => new PostingCursor(pr.blocks, 0f, nc, 0): Cursor) match {
        case Vector() => missingMust = true
        case Vector(c) => filterCur += c
        case cs => filterCur += new DisjunctionCursor(cs.toArray, 0)
      }
    }
    qm.docFilters.foreach { case (docs, negated) =>
      val c = new DocArrayCursor(docs)
      if (negated) notCur += c else filterCur += c
    }
    if (missingMust) None // a MUST or filter clause can't match here
    else Some((shouldCur.sortBy(_.queryPos).toArray,
      mustCur.sortBy(_.queryPos).toArray,
      notCur.toArray, sc, filterCur.toArray))
  }

  /** Score one segment's rows (sidecar row + queried-term rows): its top-k
    * hits plus its scored-doc count; prune = false disables WAND pruning so
    * the count is the segment's exact numFound. Static so task closures
    * don't capture the Searcher.
    *
    * @param timeAllowedMs wall-clock scoring limit PER SEGMENT, measured
    *                      from this segment's scoring start (the per-shard
    *                      timer of search/TimeAllowedLimit.java); best-
    *                      so-far results on expiry, like the reference's
    *                      partialResults
    * @param after         searchAfter cursor (None = first page) — see TopK */
  private[query] def scoreGroupCounted(
      rs: Array[PostingRow], qm: QueryMeta, k: Int, docBudget: Int,
      prune: Boolean, timeAllowedMs: Long = Long.MaxValue,
      after: Option[Hit] = None): (Array[Hit], Long) =
    buildCursors(rs, qm) match {
      case None => (Array.empty, 0L)
      case Some((should, must, not, sc, filters)) =>
        val deadlineNs =
          if (timeAllowedMs == Long.MaxValue) Long.MaxValue
          else System.nanoTime() + timeAllowedMs * 1000000L
        Wand.scoreSegmentCounted(should, must, not,
          sc.norms, sc.first_doc, filters, k, docBudget, prune, deadlineNs,
          after.fold(Float.NaN)(_.score), after.fold(-1L)(_.doc_id))
    }

  /** The segment's match set (DocSet): every docId matching the boolean +
    * filter semantics, unscored — what facet/stats/grouping components
    * consume (SolrIndexSearcher.getDocSet). */
  private[query] def matchGroup(rs: Array[PostingRow], qm: QueryMeta): Iterator[Long] =
    buildCursors(rs, qm) match {
      case None => Iterator.empty
      case Some((should, must, not, _, filters)) =>
        Wand.enumerateMatches(should, must, not, filters)
    }

  /** The index's term dictionary: every term but the "" norms rows, sorted
    * in Spark's string order (UTF-8 bytes, `UTF8String.compareTo`), beside
    * its global df. Immutable, so concurrent queries share it. */
  final class TermDictionary(terms: Array[String], dfs: Array[Long]) extends Serializable {
    /** Index of the first term >= `key` in Spark's string order. */
    private def lowerBound(key: String): Int = {
      val k = UTF8String.fromString(key)
      var (lo, hi) = (0, terms.length)
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (UTF8String.fromString(terms(mid)).compareTo(k) < 0) lo = mid + 1 else hi = mid
      }
      lo
    }

    def df(t: String): Option[Long] =
      Some(lowerBound(t)).filter(i => i < terms.length && terms(i) == t).map(dfs)

    /** The terms starting with `prefix`, in order, minus the `\u0002` field
      * keys (one contiguous block): the text vocabulary's. */
    def textTerms(prefix: String): Iterator[String] =
      Iterator.range(lowerBound(prefix), terms.length).map(terms)
        .takeWhile(_.startsWith(prefix)).filterNot(_.startsWith(FieldTermPrefix))

    /** The terms in [lo, hi] (inclusive) or (lo, hi), in order. */
    def range(lo: String, hi: String, inclusive: Boolean): Vector[String] = {
      val end = lowerBound(hi) + (if (inclusive && df(hi).isDefined) 1 else 0)
      (lowerBound(lo) until end).map(terms).filter(inclusive || _ != lo).toVector
    }
  }

  /** The open pass, one job over `postings`: each partition returns its
    * (term, Σ doc_count) pairs (none if it has no rows) and segment ids.
    * The driver sums the pairs into the [[TermDictionary]]; the flag is
    * true iff no segment id shows up in two partitions. */
  private def scanDictionary(postings: DataFrame): (TermDictionary, Boolean) = {
    import postings.sparkSession.implicits._
    val parts = postings.select($"term", $"segment_id", $"doc_count").as[(String, Int, Int)]
      .mapPartitions { it =>
        val dfs = scala.collection.mutable.HashMap.empty[String, Long]
        val segs = scala.collection.mutable.HashSet.empty[Int]
        it.foreach { case (t, seg, n) =>
          segs += seg
          if (t.nonEmpty) dfs(t) = dfs.getOrElse(t, 0L) + n
        }
        val (ts, ds) = dfs.toArray.unzip
        Iterator.single((ts, ds, segs.toArray))
      }.collect()
    val sorted = parts.flatMap { case (ts, ds, _) => ts.zip(ds) }.groupMapReduce(_._1)(_._2)(_ + _)
      .toArray.map(e => (UTF8String.fromString(e._1), e)).sortBy(_._1).map(_._2)
    val segs = parts.flatMap(_._3)
    (new TermDictionary(sorted.map(_._1), sorted.map(_._2)), segs.length == segs.distinct.length)
  }

  /** `c` in [lo, hi] (inclusive) or (lo, hi), in Spark's string order. */
  private[query] def inRange(c: Column, lo: String, hi: String, inclusive: Boolean): Column =
    if (inclusive) c >= lit(lo) && c <= lit(hi) else c > lit(lo) && c < lit(hi)

  /** Anchored Java regex equivalent of a Lucene wildcard glob: `*` = any
    * run, `?` = any single char, everything else literal. */
  def globRegex(glob: String): String = {
    val sb = new StringBuilder("^")
    glob.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append('.')
      case c => sb.append(java.util.regex.Pattern.quote(c.toString))
    }
    sb.append('$').toString
  }

  /** Banded Levenshtein: true iff editDistance(a, b) <= maxEdits. Standard
    * DP with early exit; matches DuckDB's levenshtein() definition
    * (unit-cost insert/delete/substitute). */
  def editDistanceAtMost(a: String, b: String, maxEdits: Int): Boolean = {
    if (math.abs(a.length - b.length) > maxEdits) return false
    var prev = Array.tabulate(b.length + 1)(identity)
    var cur = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      var rowMin = cur(0)
      var j = 1
      while (j <= b.length) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        if (cur(j) < rowMin) rowMin = cur(j)
        j += 1
      }
      if (rowMin > maxEdits) return false
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(b.length) <= maxEdits
  }
}
