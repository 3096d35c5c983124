package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.index.{IndexBuilder, TranscriptGen}
import graft.query.{Bm25, Oracle, QueryParser, Searcher}

/** End-to-end rank-identity suite: engine (block-max WAND over the built
  * index) vs the brute-force DataFrame oracle, on a deterministic seeded
  * corpus — the translation of the reference's golden-fixture +
  * control-vs-distributed test style (SURVEY.md §5). */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ~200 conversations ≈ 4-5k turns: big enough for multi-block postings of
  // hot terms, small enough to brute-force.
  private lazy val corpus = {
    val t = TranscriptGen.generate(spark, 200).toDF().persist()
    t.count()
    t
  }

  private lazy val indexDir = {
    val dir = TestSpark.tmpDir("idx-n")
    IndexBuilder.build(spark, corpus, dir, IndexBuilder.Config(numSegments = 7))
    dir
  }
  private lazy val searcher = new Searcher(spark, indexDir)
  // cache = false: the groupByKey plan, shared by the cross-path tests
  private lazy val fallback = new Searcher(spark, indexDir, cache = false)

  // FIXTURES.md §3 golden query set (q01-q10 categories)
  private val goldenQueries = Seq(
    "the",                     // q01 hot term (vocab rank 1)
    "deploy",                  // q02 rarer term
    "spark shuffle",           // q03 two-term OR
    "spark AND shuffle",       // q04 two-term AND
    "qzxqzx",                  // q05 absent term
    "Spark",                   // q07 mixed case
    "w4930",                   // q08 very rare: k > matches
    "the a to",                // q09 tie-heavy hot terms
    "role:user spark index",   // q10 filtered
    "error -timeout",          // NOT
    "+query merge index",      // mixed MUST/SHOULD
    "\"test build\" run",      // SHOULD phrase + term
    "\"the data\"",            // pure phrase (hot bigram)
    "+\"error retry\" timeout", // MUST phrase + SHOULD term
    "data -\"merge shuffle\"", // MUST_NOT phrase
    "\"the a to\"",            // 3-term phrase
    "\"qzxqzx data\"",         // phrase with an absent member
    "東京 café",               // unicode
    "error failed retry timeout commit", // wider OR
    "data^2 query",            // boosted term
    "+(error retry) the",      // MUST-grouped disjunction
    "(spark scala) test",      // bare group flattens to SHOULD
    "-(timeout error) retry",  // negated group flattens to MUST_NOT
    "par* data",               // prefix wildcard (partition, parquet, ...)
    "errer~1 data",            // fuzzy -> error
    "role:[system TO user] data", // lexicographic range filter
    "data -role:system",       // negated filter: exclude role=system
    "error -role:[system TO user]", // negated range filter
    "-role:assistant role:[assistant TO user] data", // mixed pos/neg filters
    "+data data",              // occur collision: MUST wins over SHOULD dup
    "data data^2 query",       // duplicate clauses: boosts sum (1+2 = 3x)
    "dat* data",               // wildcard expansion colliding with a scored term
    "data -data",              // occur collision: exclusion wins (empty)
    "+data -data query",       // occur collision: unsatisfiable MUST/NOT
    "\"error retry\"~2 timeout", // sloppy phrase, SHOULD
    "+\"the data\"~1",         // sloppy phrase, MUST
    "data -\"merge shuffle\"~3", // sloppy phrase, MUST_NOT
    "err*r data",              // general wildcard: infix *
    "s??rk shuffle",           // general wildcard: ?
    "*tion the",               // general wildcard: leading *
    "error OR (data AND query)", // SHOULD conjunction group (nested bool)
    "the (data AND query)",    // bare conj group stays optional
    "-(data AND query) error", // MUST_NOT conj: exclude only both-match docs
    "(data AND qzxqzx) error", // conj with dead member drops out
    "retry AND (data AND query)", // AND-promoted group still distributes
    "(data AND query) AND retry", // AND binds its LEFT group operand too
    "the (error retry) AND data", // group-then-AND: promotes the GROUP, not 'the'
    "error OR (data AND \"merge group\")", // conj group with a phrase member
    "retry -(data AND \"merge group\")", // NOT conj with a phrase member
    "data par* AND retry",     // AND binds the WILDCARD left operand (expanded
                               // group promotes to MUST; data stays optional)
    "the errer~1 AND data",    // AND binds the FUZZY left operand
    "data role:user AND retry" // AND after a filter: nothing scoring promotes
  )

  private def assertRankIdentical(q: String, k: Int): Unit = {
    // multi-term clauses (wildcard/fuzzy) expand against the terms table;
    // the oracle consumes the same expansion (the expansion itself is
    // pinned by the dedicated wildcard/fuzzy test)
    val parsed = searcher.expand(QueryParser.parse(q))
    val engine = searcher.topKHits(parsed, k).collect()
    // oracle scores the same docId-addressed corpus from scratch (the
    // per-turn text equality test separately pins docs == source corpus)
    val oracle = Oracle.topK(spark,
      searcher.docs.select($"doc_id", $"text", $"role", $"tool"), parsed, k).collect()
    assert(engine.length == oracle.length, s"[$q] result sizes differ")
    engine.zip(oracle).zipWithIndex.foreach { case ((e, o), i) =>
      assert(e.doc_id == o.doc_id, s"[$q] rank $i docId: engine=${e.doc_id} oracle=${o.doc_id}")
      assert(e.score == o.score, s"[$q] rank $i score: engine=${e.score} oracle=${o.score} (doc ${e.doc_id})")
    }
  }

  test("per-turn text equality under stable (conv_id, turn_idx) ordering (input_hint invariant)") {
    val src = corpus.select($"conv_id", $"turn_idx", $"text")
    val idx = searcher.docs.select($"conv_id", $"turn_idx", $"text")
    assert(src.count() == idx.count())
    assert(src.except(idx).isEmpty && idx.except(src).isEmpty)
    // docIds are dense 0..N-1 and follow (conv_id, turn_idx) order
    val docs = searcher.docs.orderBy($"doc_id").select($"doc_id", $"conv_id", $"turn_idx").collect()
    docs.zipWithIndex.foreach { case (r, i) => assert(r.getLong(0) == i.toLong) }
    val sortedPairs = docs.map(r => (r.getString(1), r.getInt(2)))
    assert(sortedPairs.toSeq == sortedPairs.toSeq.sorted)
  }

  test("golden queries: engine == oracle, rank and score, k=10") {
    goldenQueries.foreach(q => assertRankIdentical(q, 10))
  }

  test("top-k(k) is a prefix of top-k(k+m)") {
    for (q <- Seq("spark shuffle", "the", "error failed retry")) {
      val k10 = searcher.topKHits(q, 10).collect()
      val k25 = searcher.topKHits(q, 25).collect()
      assert(k25.take(k10.length).map(h => (h.doc_id, h.score)).toSeq ==
        k10.map(h => (h.doc_id, h.score)).toSeq, s"[$q] prefix property")
    }
  }

  test("control vs distributed: 1 segment == 7 segments (rank and score)") {
    val dir1 = TestSpark.tmpDir("idx-1")
    IndexBuilder.build(spark, corpus, dir1, IndexBuilder.Config(numSegments = 1))
    val s1 = new Searcher(spark, dir1)
    assert(s1.corpus.doc_count == searcher.corpus.doc_count)
    assert(s1.corpus.sum_dl == searcher.corpus.sum_dl)
    for (q <- Seq("the", "spark shuffle", "spark AND shuffle", "error -timeout", "role:user spark")) {
      val a = s1.topKHits(q, 15).collect().map(h => (h.doc_id, h.score)).toSeq
      val b = searcher.topKHits(q, 15).collect().map(h => (h.doc_id, h.score)).toSeq
      assert(a == b, s"[$q] 1-vs-7 segment equivalence")
    }
  }

  test("stats match brute force") {
    val anal = graft.analysis.Analyzer.default
    val analyzeUdf = udf((s: String) => anal.analyze(s))
    val toks = corpus.select(explode(analyzeUdf($"text")).as("t"))
    val expectedSumDl = toks.count()
    assert(searcher.corpus.sum_dl == expectedSumDl)
    assert(searcher.corpus.doc_count == corpus.count())
    val dfSpark = toks.groupBy($"t").agg(count(lit(1))).count() // distinct terms
    // exclude the layout-v4 structured field terms (\u0002-prefixed) —
    // they are not text vocabulary
    val termsTable = spark.read.parquet(s"$indexDir/terms")
      .where(!col("term").startsWith(IndexBuilder.FieldTermPrefix))
    assert(termsTable.count() == dfSpark)
    // spot-check df of one hot term
    val dfThe = corpus.where(array_contains(analyzeUdf($"text"), "the")).count()
    assert(searcher.termStats(Seq("the"))("the") == dfThe)
  }

  /** `body`'s result and the Spark jobs it launched on this thread (counted
    * by a job group, so other threads' jobs never count). */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try {
      val r = body
      Thread.sleep(1000) // let the job-start events drain
      (r, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  private val pageSchema = {
    import org.apache.spark.sql.types._
    Seq("rank" -> IntegerType, "doc_id" -> LongType, "score" -> FloatType,
      "conv_id" -> StringType, "turn_idx" -> IntegerType, "role" -> StringType,
      "text" -> StringType, "tool" -> StringType, "ts" -> TimestampType)
  }

  test("search() returns ranked stored fields") {
    val res = searcher.search("spark shuffle", 5).collect()
    assert(res.length == 5)
    assert(res.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4, 5))
    assert(res.forall(r => r.getString(6) != null)) // text present
    // the page == the topKHits page with ranks 1..n and the docs rows'
    // stored fields, on several shapes
    val stored = searcher.docs.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    for (q <- Seq("spark shuffle", "role:user spark index", "\"the data\"", "par* data")) {
      val page = searcher.search(q, 10)
      assert(page.schema.map(f => f.name -> f.dataType) == pageSchema, s"[$q] schema")
      val rows = page.collect()
      val hits = searcher.topKHits(q, 10).collect()
      assert(rows.nonEmpty, s"[$q] expected hits")
      assert(rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Float]("score"))).toSeq ==
        hits.map(h => (h.doc_id, h.score)).toSeq, s"[$q] page != topKHits")
      assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length), s"[$q] ranks")
      rows.foreach { r =>
        val d = stored(r.getAs[Long]("doc_id"))
        Seq("conv_id", "turn_idx", "role", "text", "tool", "ts").foreach { c =>
          assert(r.getAs[Any](c) == d.getAs[Any](c), s"[$q] doc ${d.getAs[Long]("doc_id")} $c")
        }
      }
    }
    // k > numFound returns numFound rows; k <= 0 an empty page, same schema
    val rare = "w4930"
    val n = searcher.numFound(rare)
    assert(n > 0 && n < 10, s"'$rare' should match a few docs, matched $n")
    assert(searcher.search(rare, 10).count() == n)
    for (k <- Seq(0, -3)) {
      val empty = searcher.search("spark shuffle", k)
      assert(empty.schema.map(f => f.name -> f.dataType) == pageSchema)
      assert(empty.collect().isEmpty)
    }
  }

  test("search() job count: topKHits' jobs + 1 with hits, ZERO for a zero-hit or all-stopword query") {
    val q = "error retry data"
    searcher.search(q, 10).collect() // warm the term-stats memo
    val (hits, topJobs) = jobsOf(searcher.topKHits(q, 10).collect())
    val (page, searchJobs) = jobsOf(searcher.search(q, 10).collect())
    assert(hits.nonEmpty && page.length == hits.length)
    assert(searchJobs == topJobs + 1, s"search ran $searchJobs jobs, topKHits $topJobs")
    val absent = "qzxqzx zqxzqx"
    searcher.search(absent, 10) // memoize the absent terms as df = 0
    val (none, zeroJobs) = jobsOf(searcher.search(absent, 10).collect())
    assert(none.isEmpty && zeroJobs == 0, s"zero-hit search ran $zeroJobs jobs")
    // a filter this searcher has not run before, its key's df memoized,
    // costs exactly the unfiltered topKHits' jobs: it is a postings clause
    searcher.termStats(Seq(IndexBuilder.FieldTermPrefix + "tool:bash"))
    val (filtered, fqJobs) = jobsOf(searcher.topKHits(s"tool:bash $q", 10).collect())
    assert(filtered.nonEmpty && fqJobs == topJobs, s"fq topKHits ran $fqJobs jobs, topKHits $topJobs")
    val noRole = "role:nosuchrole data"
    searcher.topKHits(noRole, 10).collect() // memoize the absent key as df = 0
    val (noneRole, noRoleJobs) = jobsOf(searcher.topKHits(noRole, 10).collect())
    assert(noneRole.isEmpty && noRoleJobs == 0, s"absent-filter topKHits ran $noRoleJobs jobs")
    val stop = new Searcher(spark, indexDir, cache = false,
      analyzer = new graft.analysis.Analyzer(Set("the", "a", "to")))
    stop.search("the a to", 10) // resolve this epoch's docs relation
    val (stopPage, stopJobs) = jobsOf {
      val df = stop.search("the a to", 10)
      (df.schema.map(f => f.name -> f.dataType), df.collect())
    }
    assert(stopPage._1 == pageSchema && stopPage._2.isEmpty)
    assert(stopJobs == 0, s"all-stopword search ran $stopJobs jobs")
  }

  test("resume: interrupted build completes to an identical index") {
    // per table: row count and bit_xor(xxhash64(row)); metrics without its
    // wall-clock finished_ts
    def fingerprint(dir: String): Seq[(String, Long, Long)] =
      Seq("postings", "docs", "terms", "corpus", "metrics").map { t =>
        val df = spark.read.parquet(s"$dir/$t").drop("finished_ts")
        val (n, x) = df.agg(count(lit(1)),
          coalesce(bit_xor(xxhash64(df.columns.map(col).toSeq: _*)), lit(0L)))
          .as[(Long, Long)].head()
        (t, n, x)
      }
    val queries = Seq("the", "spark shuffle", "error -timeout")
    def pages(s: Searcher) = queries.map(q => s.topKHits(q, 10).collect().map(h => (h.doc_id, h.score)).toSeq)
    def pagesOf(dir: String) = {
      val s = new Searcher(spark, dir)
      try pages(s) finally s.close()
    }
    // a build killed after promoting later batches' postings (and even after
    // writing the stats tables) but before their lineage rows: keep only the
    // `keep` rows, leave every file in place
    def cutLineage(dir: String, keep: Set[String]): Unit = {
      val rows = spark.read.parquet(s"$dir/lineage").as[graft.index.LineageRow]
        .collect().filter(r => keep(r.step)).toSeq
      rows.toDS().write.mode("overwrite").parquet(s"$dir/lineage")
    }

    val fs = new org.apache.hadoop.fs.Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // case 1: three batches, cut after batch-0
    val dir3 = TestSpark.tmpDir("idx-resume")
    val cfg3 = IndexBuilder.Config(numSegments = 6, batches = 3)
    IndexBuilder.build(spark, corpus, dir3, cfg3)
    val (fp3, pages3) = (fingerprint(dir3), pagesOf(dir3))
    // batched slicing answers as the shared single-batch index does
    assert(pages3 == pages(searcher))
    cutLineage(dir3, Set("docs", "batch-0"))
    // a changed batch plan fails loudly: batches = 1 plans batch-0 as
    // [0, 6), but the committed batch-0 covers [0, 2) only
    val e = intercept[IllegalStateException](
      IndexBuilder.build(spark, corpus, dir3, cfg3.copy(batches = 1)))
    assert(Seq("batch-0", "[0, 2)", "[0, 6)").forall(e.getMessage.contains), e.getMessage)
    val r3 = IndexBuilder.build(spark, corpus, dir3, cfg3)
    assert(r3.resumedSteps == 2) // docs + batch-0
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir3/staging")))
    assert(fingerprint(dir3) == fp3)
    assert(pagesOf(dir3) == pages3)
    // re-running a complete build skips every step and changes nothing
    val again = IndexBuilder.build(spark, corpus, dir3, cfg3)
    assert(again.resumedSteps == 5) // docs + 3 batches + stats
    assert(fingerprint(dir3) == fp3)

    // case 2: the default single batch (a copy of the shared index), cut
    // after docs
    val dir1 = TestSpark.tmpDir("idx-resume-1") + "/idx"
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(indexDir), fs,
      new org.apache.hadoop.fs.Path(dir1), false, spark.sparkContext.hadoopConfiguration)
    cutLineage(dir1, Set("docs"))
    val r1 = IndexBuilder.build(spark, corpus, dir1, IndexBuilder.Config(numSegments = 7))
    assert(r1.resumedSteps == 1) // docs
    assert(fingerprint(dir1) == fingerprint(indexDir))
    assert(pagesOf(dir1) == pages(searcher))
  }

  test("sorted-input fast path: zero-shuffle build == shuffle build; unsorted input falls back") {
    // range-disjoint, internally-sorted files (the Iceberg-clustered layout
    // the fast path verifies) vs the same rows hash-scattered across files
    val srcSorted = TestSpark.tmpDir("fp-src-sorted")
    TranscriptGen.generate(spark, 200, slices = Some(4)).toDF()
      .write.mode("overwrite").parquet(srcSorted)
    val srcShuffled = TestSpark.tmpDir("fp-src-shuffled")
    spark.read.parquet(srcSorted).repartition(4, $"turn_idx")
      .write.mode("overwrite").parquet(srcShuffled)
    val dirFast = TestSpark.tmpDir("fp-idx-fast")
    val dirSlow = TestSpark.tmpDir("fp-idx-slow")
    val rFast = IndexBuilder.build(spark, spark.read.parquet(srcSorted), dirFast,
      IndexBuilder.Config(numSegments = 7))
    val rSlow = IndexBuilder.build(spark, spark.read.parquet(srcShuffled), dirSlow,
      IndexBuilder.Config(numSegments = 7))
    // the sorted input took the fast path (one segment per verified split,
    // not the configured 7); the scattered input fell back to the shuffle
    assert(rFast.numSegments == 4, s"fast path not taken: ${rFast.numSegments} segments")
    assert(rSlow.numSegments == 7, s"fallback not taken: ${rSlow.numSegments} segments")
    assert(rFast.docCount == rSlow.docCount && rFast.sumDl == rSlow.sumDl)
    // doc_id = global (conv_id, turn_idx) rank either way: full row identity
    val cols = Seq("doc_id", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    val a = spark.read.parquet(s"$dirFast/docs").select(cols.map(col): _*)
    val b = spark.read.parquet(s"$dirSlow/docs").select(cols.map(col): _*)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "fast-path and shuffle-path doc rows differ")
    // and the two indexes answer rank-identically
    val sFast = new Searcher(spark, dirFast)
    val sSlow = new Searcher(spark, dirSlow)
    for (q <- Seq("the", "spark shuffle", "\"test build\" run", "error -timeout")) {
      val x = sFast.topKHits(q, 10).collect().map(h => (h.doc_id, h.score)).toSeq
      val y = sSlow.topKHits(q, 10).collect().map(h => (h.doc_id, h.score)).toSeq
      assert(x == y, s"[$q] fast-path vs shuffle-path top-k differ")
    }
  }

  test("sorted-input fast path: shuffle volume scales with vocabulary, not corpus (no corpus exchange)") {
    // the only exchange left in a fast-path build is the global term-stats
    // aggregation — vocabulary-sized. Build a 4x-rows corpus over the SAME
    // fixed vocabulary and assert shuffle bytes stay ~flat (a corpus
    // shuffle would grow 4x).
    def shuffledBytes(convs: Long, tag: String): Long = {
      val src = TestSpark.tmpDir(s"fp-sh-src-$tag")
      TranscriptGen.generate(spark, convs, slices = Some(4)).toDF()
        .write.mode("overwrite").parquet(src)
      val counter = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null)
            counter.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val r = IndexBuilder.build(spark, spark.read.parquet(src),
          TestSpark.tmpDir(s"fp-sh-idx-$tag"), IndexBuilder.Config(numSegments = 5))
        assert(r.numSegments == 4, "fast path not taken") // one per verified split
        Thread.sleep(1500) // listener delivery is async
        counter.get()
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val small = shuffledBytes(300, "small")
    val large = shuffledBytes(1200, "large") // ~4x the turns, same vocabulary
    assert(large < small * 3 / 2,
      s"shuffle grew with the corpus (small=$small, large=$large): the build is exchanging rows")
  }

  test("phraseFreqs equals a brute-force positional count") {
    val anal = graft.analysis.Analyzer.default
    val freqUdf = udf((text: String) => {
      val (ts, ps) = anal.analyzeWithPositions(text)
      val posOf = ts.zip(ps).groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSet }
      val a = posOf.getOrElse("the", Set.empty[Int])
      val b = posOf.getOrElse("data", Set.empty[Int])
      a.count(p => b.contains(p + 1))
    })
    val want = searcher.docs.select($"doc_id", freqUdf($"text").as("freq"))
      .where($"freq" > 0)
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong)).toSet
    val got = searcher.phraseFreqs(Seq("the", "data"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, "phrase frequency enumeration diverged from brute force")
    assert(want.nonEmpty, "test corpus unexpectedly lacks the phrase")
  }

  test("multi-term expansion: wildcard and fuzzy resolve against the vocabulary") {
    val w = searcher.expand(QueryParser.parse("par*"))
    assert(w.multiTerms.isEmpty)
    assert(w.should.contains("partition") && w.should.contains("parquet"),
      s"prefix expansion missing expected terms: ${w.should}")
    assert(w.should.forall(_.startsWith("par")))
    val f = searcher.expand(QueryParser.parse("errer~1"))
    assert(f.should.contains("error"), s"fuzzy expansion: ${f.should}")
    assert(f.should.forall(t => graft.query.Searcher.editDistanceAtMost(t, "errer", 1)))
    // MUST multi-term becomes a grouped disjunction
    val m = searcher.expand(QueryParser.parse("+par* data"))
    assert(m.groups.length == 1 && m.groups.head.terms.contains("partition"))
  }

  test("boost changes ranking in the boosted term's favour") {
    val plain = searcher.topKHits("data query", 10).collect()
    val boosted = searcher.topKHits("data^3 query", 10).collect()
    assert(plain.nonEmpty && boosted.nonEmpty)
    // boosting must not change the MATCH set semantics, only scores;
    // spot-check: the boosted top-1 has a data-heavy text
    assert(boosted.head.score > plain.head.score * 0.99f)
  }

  test("query-time synonyms expand like the hand-written query") {
    val syn = Map("error" -> Seq("timeout"))
    val p = QueryParser.parseWithSynonyms("error retry", syn)
    assert(p.should == Vector("error", "timeout", "retry"))
    val pm = QueryParser.parseWithSynonyms("+error retry", syn)
    assert(pm.groups == Vector(graft.query.Group(Vector("error", "timeout"))))
    val a = searcher.topKHits(p, 10).collect().toSeq
    val b = searcher.topKHits(QueryParser.parse("error timeout retry"), 10).collect().toSeq
    assert(a == b, "synonym expansion diverged from the hand-expanded query")
  }

  test("multi-token synonym becomes a Phrase clause, not flattened terms") {
    val syn = Map("error" -> Seq("merge group"))
    val p = QueryParser.parseWithSynonyms("error retry", syn)
    assert(p.should == Vector("error", "retry"),
      "multi-token expansion must NOT leak into the flat term list")
    assert(p.phrases == Vector(graft.query.Phrase(Vector("merge", "group"), occur = 1)))
    // matches the hand-written query with an explicit quoted phrase
    val a = searcher.topKHits(p, 10).collect().toSeq
    val b = searcher.topKHits(QueryParser.parse("error retry \"merge group\""), 10).collect().toSeq
    assert(a == b, "synonym phrase diverged from the hand-quoted phrase query")
    // MUST term: single-token expansions group as terms, multi-token
    // becomes a phrase MEMBER of the same group — the exact nested
    // (term OR syn OR "multi syn") requirement; MUST_NOT excludes via phrase
    val pm = QueryParser.parseWithSynonyms("+error", Map("error" -> Seq("timeout", "merge group")))
    assert(pm.groups == Vector(graft.query.Group(Vector("error", "timeout"),
      Vector(graft.query.GroupPhrase(Vector("merge", "group"))))))
    assert(pm.phrases.isEmpty)
    val pn = QueryParser.parseWithSynonyms("retry -error", Map("error" -> Seq("merge group")))
    assert(pn.phrases == Vector(graft.query.Phrase(Vector("merge", "group"), occur = 2)))
  }

  test("conjunction groups: AND left-binding and phrase members (parser shape)") {
    // "(a AND b) AND c" is Lucene's +(+a +b) +c == +a +b +c — the group
    // before the AND is a MUST operand, not an optional leftover
    val p1 = QueryParser.parse("(data AND query) AND retry")
    assert(p1.must.toSet == Set("data", "query", "retry"), p1.toString)
    assert(p1.conjGroups.isEmpty && p1.should.isEmpty)
    // a group followed by AND promotes the GROUP itself; an earlier,
    // unrelated clause must stay optional
    val p2 = QueryParser.parse("the (error retry) AND data")
    assert(p2.should == Vector("the"), p2.toString)
    assert(p2.groups == Vector(graft.query.Group(Vector("error", "retry"))))
    assert(p2.must == Vector("data"))
    // a quoted member of a SHOULD/NOT conjunction stays INSIDE the group
    // (hoisting it would over-include / over-exclude — De Morgan)
    val p3 = QueryParser.parse("error OR (data AND \"merge group\")")
    assert(p3.should == Vector("error"))
    assert(p3.conjGroups == Vector(graft.query.ConjGroup(Vector("data"), 1,
      Vector(graft.query.GroupPhrase(Vector("merge", "group"))))), p3.toString)
    assert(p3.phrases.isEmpty)
    val p4 = QueryParser.parse("retry -(data AND \"merge group\")")
    assert(p4.conjGroups == Vector(graft.query.ConjGroup(Vector("data"), 2,
      Vector(graft.query.GroupPhrase(Vector("merge", "group"))))), p4.toString)
    assert(p4.phrases.isEmpty)
  }

  test("conjunction-group semantics: exact numFound set identities") {
    def nf(q: String): Long =
      searcher.topKWithCount(QueryParser.parse(q), 10).totalHits
    // exclusion: |retry| - |retry \ (data ∩ "merge group")| = |retry ∩ data ∩ phrase|
    assert(nf("retry -(data AND \"merge group\")") ==
      nf("retry") - nf("+retry +data +\"merge group\""),
      "MUST_NOT conj must exclude exactly the docs matching ALL members")
    // inclusion-exclusion: |error ∪ (data ∩ phrase)|
    assert(nf("error OR (data AND \"merge group\")") ==
      nf("error") + nf("+data +\"merge group\"") - nf("+error +data +\"merge group\""),
      "SHOULD conj must match exactly the all-members docs")
    // left-binding: "(data AND query) AND retry" == +data +query +retry
    assert(nf("(data AND query) AND retry") == nf("+data +query +retry"))
    assert(nf("(data AND query) AND retry") < nf("retry"),
      "docs matching only 'retry' must NOT match")
  }

  test("group with a phrase member: engine == oracle (synonym-MUST and quoted member)") {
    // (1) via the synonym rewrite of a MUST term
    val pm = QueryParser.parseWithSynonyms("+error retry",
      Map("error" -> Seq("timeout", "merge group")))
    // (2) via the grammar: a quoted member inside a MUST group
    val pg = QueryParser.parse("+(error \"merge group\") retry")
    assert(pg.groups == Vector(graft.query.Group(Vector("error"),
      Vector(graft.query.GroupPhrase(Vector("merge", "group"))))))
    for (parsed <- Seq(pm, pg)) {
      val engine = searcher.topKHits(parsed, 10).collect()
      val oracle = Oracle.topK(spark,
        searcher.docs.select($"doc_id", $"text", $"role", $"tool"), parsed, 10).collect()
      assert(engine.length == oracle.length && engine.nonEmpty)
      engine.zip(oracle).foreach { case (e, o) =>
        assert(e.doc_id == o.doc_id && e.score == o.score,
          s"group-phrase diverged: $e vs $o")
      }
    }
    // a doc matching ONLY the phrase member satisfies the MUST: the match
    // set must be a superset of the term-only group's
    val termOnly = QueryParser.parseWithSynonyms("+error", Map("error" -> Seq("timeout")))
    val withPhrase = QueryParser.parseWithSynonyms("+error",
      Map("error" -> Seq("timeout", "merge group")))
    val a = searcher.topKHits(termOnly, 200).collect().map(_.doc_id).toSet
    val b = searcher.topKHits(withPhrase, 200).collect().map(_.doc_id).toSet
    assert(a.subsetOf(b), "phrase member must widen the MUST match set")
  }

  test("sloppy phrase member: parse shape, engine == oracle, widens the exact member") {
    // `+(x "b c"~2)` keeps the member's slop (it used to silently degrade
    // to flat analyzed terms INCLUDING the slop digits, so a doc with the
    // token '2' could satisfy the MUST group)
    val ps = QueryParser.parse("+(error \"merge group\"~2) retry")
    assert(ps.groups == Vector(graft.query.Group(Vector("error"),
      Vector(graft.query.GroupPhrase(Vector("merge", "group"), 2)))), ps.toString)
    // same for a SHOULD-level conjunction member
    val pc = QueryParser.parse("retry OR (data AND \"merge group\"~1)")
    assert(pc.conjGroups == Vector(graft.query.ConjGroup(Vector("data"), 1,
      Vector(graft.query.GroupPhrase(Vector("merge", "group"), 1)))), pc.toString)
    for (parsed <- Seq(ps, pc)) {
      val engine = searcher.topKHits(parsed, 10).collect()
      val oracle = Oracle.topK(spark,
        searcher.docs.select($"doc_id", $"text", $"role", $"tool"), parsed, 10).collect()
      assert(engine.length == oracle.length && engine.nonEmpty)
      engine.zip(oracle).foreach { case (e, o) =>
        assert(e.doc_id == o.doc_id && e.score == o.score,
          s"sloppy group-phrase diverged: $e vs $o")
      }
    }
    // slop widens (or equals) the exact member's match set
    val exact = QueryParser.parse("+(error \"merge group\")")
    val sloppy = QueryParser.parse("+(error \"merge group\"~3)")
    val ea = searcher.topKHits(exact, 500).collect().map(_.doc_id).toSet
    val sa = searcher.topKHits(sloppy, 500).collect().map(_.doc_id).toSet
    assert(ea.subsetOf(sa), "slop must widen the member's match set")
  }

  test("early termination: unlimited budget == exact; small budget is a valid partial") {
    for (q <- Seq("the data", "spark shuffle partition", "+query merge")) {
      val parsed = QueryParser.parse(q)
      val exact = searcher.topKHits(parsed, 10).collect().map(h => (h.doc_id, h.score)).toSeq
      val unl = searcher.topKHits(parsed, 10, segmentDocBudget = Int.MaxValue)
        .collect().map(h => (h.doc_id, h.score)).toSeq
      assert(unl == exact, s"[$q] unlimited budget must be exact")
      val part = searcher.topKHits(parsed, 10, segmentDocBudget = 5).collect()
      assert(part.length <= 10)
      // partial results are real scored docs: every hit appears in the
      // exact full ranking of ALL matching docs with the same score
      val full = searcher.topKHits(parsed, 100000).collect()
        .map(h => h.doc_id -> h.score).toMap
      part.foreach(h => assert(full.get(h.doc_id).contains(h.score),
        s"[$q] partial hit ${h.doc_id} not a genuine scored doc"))
      // deterministic: same budget twice -> same result
      val part2 = searcher.topKHits(parsed, 10, segmentDocBudget = 5).collect()
      assert(part.map(h => (h.doc_id, h.score)).toSeq ==
        part2.map(h => (h.doc_id, h.score)).toSeq)
    }
  }

  test("colocated one-stage path == groupByKey fallback on the golden set") {
    // the cached searcher must actually prove colocation (else every query
    // silently pays a shuffle — a performance regression, not a bug)
    assert(searcher.usesColocatedPath,
      "cached searcher failed to verify segment/partition colocation")
    // cache=false forces the shuffle fallback; both paths run the same
    // per-segment bodies but differ in partitioning, filter-map delivery,
    // and merge shape —
    // identical (doc_id, score) ranking is the contract
    assert(!fallback.usesColocatedPath)
    for (q <- goldenQueries) {
      val parsed = searcher.expand(QueryParser.parse(q))
      val a = searcher.topKHits(parsed, 12).collect().map(h => (h.doc_id, h.score)).toSeq
      val b = fallback.topKHits(parsed, 12).collect().map(h => (h.doc_id, h.score)).toSeq
      assert(a == b, s"[$q] colocated vs fallback ranking diverged")
      assertSameCollectors(searcher, fallback, parsed, q)
    }
    for (terms <- Seq(Seq("the", "data"), Seq("error", "retry")); slop <- Seq(0, 2))
      assert(phraseFreqSet(searcher, terms, slop) == phraseFreqSet(fallback, terms, slop),
        s"[$terms~$slop] colocated vs fallback phraseFreqs diverged")
    val qf = Seq("text" -> 1f, "role" -> 2f)
    for (q <- Seq("user data error", "assistant spark shuffle", "tool the")) {
      val a = searcher.dismaxTopK(q, qf, 0.1f, 1, 12).collect().map(h => (h.doc_id, h.score)).toSeq
      val b = fallback.dismaxTopK(q, qf, 0.1f, 1, 12).collect().map(h => (h.doc_id, h.score)).toSeq
      assert(a == b, s"[$q] colocated vs fallback dismax diverged")
    }
    // plan shapes: every collector is one narrow stage when colocated and
    // one groupByKey exchange on the fallback
    val parsed = QueryParser.parse("the data")
    def plans(s: Searcher) = Seq(s.topKHits(parsed, 12), s.matchingDocIds(parsed),
      s.phraseFreqs(Seq("the", "data")), s.dismaxTopK("user data error", qf, 0.1f, 1, 12))
    plans(searcher).foreach(ds => assert(!hasExchange(ds), ds.queryExecution.executedPlan))
    plans(fallback).foreach(ds => assert(hasExchange(ds), ds.queryExecution.executedPlan))
  }

  private def hasExchange(ds: org.apache.spark.sql.Dataset[_]): Boolean =
    ds.queryExecution.executedPlan.toString.contains("Exchange")

  private def phraseFreqSet(s: Searcher, terms: Seq[String], slop: Int): Set[(Long, Long)] =
    s.phraseFreqs(terms, slop).collect().map(r => r.getLong(0) -> r.getLong(1)).toSet

  /** topKWithCount (exact and pruned) and matchingDocIds agree on two
    * searchers whose plan shapes differ. */
  private def assertSameCollectors(a: Searcher, b: Searcher,
      parsed: graft.query.ParsedQuery, q: String): Unit = {
    for (minExact <- Seq(Int.MaxValue, 5)) {
      val x = a.topKWithCount(parsed, 12, minExact)
      val y = b.topKWithCount(parsed, 12, minExact)
      assert(x.hits.map(h => (h.doc_id, h.score)).toSeq == y.hits.map(h => (h.doc_id, h.score)).toSeq &&
        x.totalHits == y.totalHits && x.isExact == y.isExact, s"[$q] topKWithCount($minExact) diverged")
    }
    assert(a.matchingDocIds(parsed).collect().toSet == b.matchingDocIds(parsed).collect().toSet,
      s"[$q] matchingDocIds diverged")
  }

  test("phrase slop: parser reads the suffix; freq is monotone in slop; slop 0 == exact") {
    val p = QueryParser.parse("\"error retry\"~2 data")
    assert(p.phrases == Vector(graft.query.Phrase(Vector("error", "retry"), 1, 2)))
    assert(QueryParser.parse("\"error retry\" data").phrases.head.slop == 0)
    def freqs(slop: Int): Map[Long, Long] =
      searcher.phraseFreqs(Seq("the", "data"), slop)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val f0 = freqs(0)
    val f2 = freqs(2)
    assert(f0.nonEmpty)
    // every exact match is also a slop-2 match with at least that freq
    f0.foreach { case (d, f) => assert(f2.getOrElse(d, 0L) >= f, s"doc $d") }
    assert(f2.keySet.size >= f0.keySet.size)
    // slop-2 catches "the X data" bigrams that exact misses
    val brute = {
      val anal = graft.analysis.Analyzer.default
      val fUdf = udf((text: String) => {
        val (ts, ps) = anal.analyzeWithPositions(text)
        val a = ts.zip(ps).filter(_._1 == "the").map(_._2).sorted
        val b = ts.zip(ps).filter(_._1 == "data").map(_._2).sorted
        a.count(p => b.exists(q => q > p && q <= p + 3))
      })
      searcher.docs.select($"doc_id", fUdf($"text").as("f")).where($"f" > 0)
        .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    }
    assert(f2 == brute, "slop-2 phrase freqs diverged from brute force")
  }

  /** Brute-force dismax: every (doc_id, score) with at least mm matched
    * terms, replicating the engine's float math exactly: same formulas
    * (shared Bm25), same accumulation order (fields in qf order inside a
    * term, terms in query order). */
  private def bruteDismax(q: String, qf: Seq[(String, Float)], tie: Float,
      mm: Int): Seq[(Long, Float)] = {
    val bm25 = Bm25()
    val anal = graft.analysis.Analyzer.default
    val rows = searcher.docs.select($"doc_id", $"role", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1), anal.analyze(r.getString(2))))
    val n = searcher.corpus.doc_count
    val avgdl = searcher.avgdl
    val nc = bm25.normCache(avgdl)
    val qterms = anal.analyze(q).toVector.distinct
    def dfText(t: String) = rows.count(_._3.contains(t)).toLong
    def dfRole(t: String) = rows.count(_._2 == t).toLong
    val wIdf: Map[(String, String), Float] = (for {
      t <- qterms
      (f, w) <- qf
      df = if (f == "text") dfText(t) else dfRole(t)
      if df > 0
    } yield (f, t) -> (w * bm25.idf(n, df))).toMap
    rows.toSeq.flatMap { case (docId, role, toks) =>
      val norm = graft.codec.SmallFloat.intToByte4(toks.length)
      var acc = 0f
      var matched = 0
      qterms.foreach { t =>
        var mx = 0f
        var sum = 0f
        var any = false
        qf.foreach { case (f, _) =>
          wIdf.get((f, t)).foreach { wi =>
            if (f == "text") {
              val tf = toks.count(_ == t)
              if (tf > 0) {
                val s = bm25.scoreCached(tf, norm, wi, nc)
                any = true; sum += s; if (s > mx) mx = s
              }
            } else if (role == t) {
              val s = wi * (1f / (1f + bm25.k1))
              any = true; sum += s; if (s > mx) mx = s
            }
          }
        }
        if (any) { matched += 1; acc += mx + tie * (sum - mx) }
      }
      if (matched >= mm) Some((docId, acc)) else None
    }
  }

  test("dismax multi-field engine == driver-side brute force (qf text^1 role^2, tie, mm)") {
    val qf = Seq("text" -> 1f, "role" -> 2f)
    val (tie, mm) = (0.1f, 1)
    for (q <- Seq("user data error", "assistant spark shuffle", "tool the")) {
      val got = searcher.dismaxTopK(q, qf, tie, mm, 10)
        .collect().map(h => (h.doc_id, h.score)).toSeq
      val want = bruteDismax(q, qf, tie, mm).sortBy { case (d, s) => (-s, d) }.take(10)
      assert(got == want, s"[$q] engine dismax diverged from brute force")
      assert(got.nonEmpty, s"[$q] dismax returned nothing")
    }
  }

  test("edismax k-boundary tie: the doubling page fetch ranks a straddling tie by external id") {
    // external id = -internal, so the engine's internal tie-break keeps
    // exactly the wrong members of a tie straddling the cut
    val qf = Seq("text" -> 1f, "role" -> 2f)
    val (q, tie, mm) = ("user data error", 0.1f, 1)
    val ranked = bruteDismax(q, qf, tie, mm).map { case (d, s) => (-d, s) }
      .sortBy { case (d, s) => (-s, d) }
    // the first cut of at least 20 that falls inside a score tie
    val n = (20 until ranked.length).find(i => ranked(i - 1)._2 == ranked(i)._2)
      .getOrElse(fail(s"[$q] no score tie straddles any cut >= 20"))
    def page(k: Int): Array[graft.query.Hit] =
      searcher.dismaxTopK(q, qf, tie, mm, k).collect().map(h => h.copy(doc_id = -h.doc_id))
    val want = ranked.take(n)
    val single = page(n).sortBy(h => (-h.score, h.doc_id)).map(h => (h.doc_id, h.score)).toSeq
    assert(single != want, s"[$q] cut $n: a single page already ranks right; the tie is not exercised")
    val got = graft.ops.FtsOps.topNTieSafe(n)(page).map(h => (h.doc_id, h.score)).toSeq
    assert(got == want, s"[$q] cut $n: tie-safe top-n diverged from brute force")
  }

  test("numFound: exact count matches brute force; pruned top-k == exact top-k") {
    for (q <- Seq("the data", "error failed retry timeout commit", "+query merge",
        "role:user spark index", "data -timeout")) {
      val parsed = searcher.expand(QueryParser.parse(q))
      val exact = searcher.topKWithCount(parsed, 10, minExactCount = Int.MaxValue)
      assert(exact.isExact)
      // brute-force hit count = the oracle's full ranking length
      val oracleHits = Oracle.topK(spark,
        searcher.docs.select($"doc_id", $"text", $"role", $"tool"), parsed, 1000000)
        .collect()
      assert(exact.totalHits == oracleHits.length, s"[$q] numFound")
      // exact-path top-k identical to the standard pruned WAND path
      val wand = searcher.topKHits(parsed, 10).collect()
      assert(exact.hits.map(h => (h.doc_id, h.score)).toSeq ==
        wand.map(h => (h.doc_id, h.score)).toSeq, s"[$q] exact-path top-k")
      // pruned counted path: same top-k, count is a valid lower bound
      val pruned = searcher.topKWithCount(parsed, 10, minExactCount = 5)
      assert(!pruned.isExact)
      assert(pruned.hits.map(h => (h.doc_id, h.score)).toSeq ==
        exact.hits.map(h => (h.doc_id, h.score)).toSeq, s"[$q] pruned-path top-k")
      assert(pruned.totalHits <= exact.totalHits && pruned.totalHits >= pruned.hits.length)
      // k = 0: no hits, the count k = 1 gives
      val zero = searcher.topKWithCount(parsed, 0)
      assert(zero.hits.isEmpty && zero.totalHits == exact.totalHits, s"[$q] k = 0")
    }
  }

  test("fq clauses are postings: cached == cache=false == oracle") {
    // role/tool filters run as non-scoring cursors over the field postings,
    // conv_id filters over a stored-field doc-id read; both plan shapes
    // must agree with each other AND the oracle
    val convs = searcher.docs.select($"conv_id").distinct().orderBy($"conv_id").as[String].collect()
    val c0 = searcher.search("data", 1).collect().head.getAs[String]("conv_id")
    val c1 = convs(math.min(convs.indexOf(c0) + 5, convs.length - 1))
    val filtered = Seq(
      "role:user spark index",          // ~50% selectivity filter
      "role:assistant error retry",
      "role:[system TO user] data",     // range filter (matches most docs)
      "role:user tool:grep data",       // conjunctive filters
      "role:nosuchrole data",           // filter matches nothing
      "data -role:system",              // negated filter
      "error -role:[system TO user]",   // negated range filter
      "role:{assistant TO user} data",  // exclusive range filter
      s"conv_id:$c0 data",              // stored-field filter
      s"data -conv_id:$c0",             // negated stored-field filter
      s"conv_id:[$c0 TO $c1] data")     // stored-field range filter
    for (q <- filtered) {
      val parsed = QueryParser.parse(q)
      val a = searcher.topKHits(parsed, 12).collect().map(h => (h.doc_id, h.score)).toSeq
      val b = fallback.topKHits(parsed, 12).collect().map(h => (h.doc_id, h.score)).toSeq
      assert(a == b, s"[$q] cached fq path diverged from the cache=false path")
      val oracle = Oracle.topK(spark,
        searcher.docs.select($"doc_id", $"text", $"role", $"tool", $"conv_id"), parsed, 12)
        .collect().map(h => (h.doc_id, h.score)).toSeq
      assert(a == oracle, s"[$q] fq path diverged from oracle")
      if (q.startsWith("conv_id")) assert(a.nonEmpty, s"[$q] expected hits")
      assertSameCollectors(searcher, fallback, parsed, q)
    }
    // a filtered query keeps the one narrow stage on the cached searcher
    for (q <- Seq("role:user spark index", s"conv_id:$c0 data")) {
      val parsed = QueryParser.parse(q)
      for (ds <- Seq(searcher.topKHits(parsed, 12), searcher.matchingDocIds(parsed)))
        assert(!hasExchange(ds), ds.queryExecution.executedPlan)
    }
  }

  test("general wildcard: ?/infix-*/leading-* expansion matches brute force; rank-identical") {
    val anal = graft.analysis.Analyzer.default
    val analyzeUdf = udf((s: String) => anal.analyze(s))
    val vocab = corpus.select(explode(analyzeUdf($"text")).as("t")).distinct()
      .as[String].collect().toSet
    def brute(glob: String): Set[String] = {
      val rx = graft.query.Searcher.globRegex(glob).r
      vocab.filter(t => rx.matches(t)).toSeq.sorted.take(Searcher.MaxExpansions).toSet
    }
    for (glob <- Seq("pa?quet", "err*r", "*tion", "s??rk", "?he", "d*a")) {
      val p = searcher.expand(QueryParser.parse(glob))
      assert(p.multiTerms.isEmpty, s"[$glob] unexpanded multi-term left")
      assert(p.should.toSet == brute(glob), s"[$glob] expansion: ${p.should}")
      assert(brute(glob).nonEmpty, s"[$glob] test glob matched nothing in the corpus")
    }
    // occur classes: MUST wildcard becomes a grouped disjunction,
    // MUST_NOT excludes every expansion
    val m = searcher.expand(QueryParser.parse("+err*r data"))
    assert(m.groups.exists(_.terms.contains("error")))
    val n = searcher.expand(QueryParser.parse("data -err*r"))
    assert(n.mustNot.contains("error"))
    // trailing-star with an embedded ? routes through the general path
    val g = searcher.expand(QueryParser.parse("pa?q*"))
    assert(g.should.contains("parquet"), s"got ${g.should}")
    // end-to-end rank identity via the oracle on wildcard-bearing queries
    Seq("err*r data", "*tion the", "s??rk shuffle").foreach(q => assertRankIdentical(q, 10))
  }

  test("searchAfter cursor paging: concatenated pages == one-shot top-k") {
    for (q <- Seq("the data", "error failed retry timeout commit", "the a to",
        "role:user spark index", "+query merge", "\"the data\" query")) {
      val parsed = searcher.expand(QueryParser.parse(q))
      val full = searcher.topKHits(parsed, 20).collect().toSeq
      var pages = Vector.empty[graft.query.Hit]
      var after: Option[graft.query.Hit] = None
      var continue = true
      while (continue && pages.length < 20) {
        val page = searcher.topKHits(parsed, 5, after = after).collect().toSeq
        assert(page.length <= 5, s"[$q] page overflow")
        if (page.isEmpty) continue = false
        else { pages ++= page; after = Some(page.last) }
      }
      assert(pages.map(h => (h.doc_id, h.score)) == full.map(h => (h.doc_id, h.score)),
        s"[$q] cursor pages diverged from one-shot ranking")
    }
  }

  test("timeAllowed: generous deadline == exact; expired deadline yields a valid partial") {
    val parsed = QueryParser.parse("the data error")
    val exact = searcher.topKHits(parsed, 10).collect().map(h => (h.doc_id, h.score)).toSeq
    val generous = searcher.topKHits(parsed, 10, timeAllowedMs = 60000L)
      .collect().map(h => (h.doc_id, h.score)).toSeq
    assert(generous == exact, "a 60s deadline must not alter results on a 5k-turn corpus")
    // expired-at-start deadline: best-so-far (usually empty) partials, no error
    val expired = searcher.topKHits(parsed, 10, timeAllowedMs = 0L).collect()
    assert(expired.length <= 10)
    val full = searcher.topKHits(parsed, 100000).collect().map(h => h.doc_id -> h.score).toMap
    expired.foreach(h => assert(full.get(h.doc_id).contains(h.score),
      s"partial hit ${h.doc_id} not a genuine scored doc"))
  }

  test("DocSet enumeration: matchingDocIds == oracle match set; |DocSet| == numFound") {
    for (q <- Seq("the data", "+query merge", "error -timeout", "role:user spark index",
        "\"the data\"", "+(error retry) the", "data -\"merge shuffle\"")) {
      val parsed = searcher.expand(QueryParser.parse(q))
      val got = searcher.matchingDocIds(parsed).collect().toSet
      val oracle = Oracle.topK(spark,
        searcher.docs.select($"doc_id", $"text", $"role", $"tool"), parsed, 1000000)
        .collect().map(_.doc_id).toSet
      assert(got == oracle, s"[$q] DocSet diverged from oracle match set")
      assert(got.size.toLong == searcher.numFound(parsed), s"[$q] |DocSet| vs numFound")
    }
  }

  test("queryResultCache: hit == miss results; the hit path runs ZERO Spark jobs") {
    val q = "error retry data"
    val direct = searcher.topKHits(q, 10).collect().map(h => (h.doc_id, h.score)).toSeq
    val miss = searcher.topKCached(q, 10).map(h => (h.doc_id, h.score)).toSeq
    assert(miss == direct)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val hit = searcher.topKCached(q, 10).map(h => (h.doc_id, h.score)).toSeq
      // k=18 shares the k<=20 window entry (queryResultWindowSize rounding)
      val hit18 = searcher.topKCached(q, 18).map(h => (h.doc_id, h.score)).toSeq
      Thread.sleep(1000) // let any (unexpected) job-start events drain
      assert(hit == direct)
      assert(hit18.take(10) == direct)
      assert(jobs.get() == 0, s"cache hit ran ${jobs.get()} Spark jobs")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("clauses glued to a closing quote survive (review finding: suffix was dropped)") {
    // `"a b"-c` is legal Lucene: phrase + MUST_NOT term, no space needed
    val p1 = QueryParser.parse("\"error retry\"-timeout")
    assert(p1.phrases == Vector(graft.query.Phrase(Vector("error", "retry"), 1, 0)))
    assert(p1.mustNot == Vector("timeout"), s"glued exclusion lost: $p1")
    // glued SHOULD term after slop digits
    val p2 = QueryParser.parse("\"error retry\"~2data")
    assert(p2.phrases.head.slop == 2 && p2.should == Vector("data"))
    // back-to-back phrases in one token
    val p3 = QueryParser.parse("\"the data\"\"error retry\"")
    assert(p3.phrases.map(_.terms) ==
      Vector(Vector("the", "data"), Vector("error", "retry")))
    // rank identity: glued form == spaced form
    val a = searcher.topKHits(QueryParser.parse("\"error retry\"-timeout"), 10)
      .collect().map(h => (h.doc_id, h.score)).toSeq
    val b = searcher.topKHits(QueryParser.parse("\"error retry\" -timeout"), 10)
      .collect().map(h => (h.doc_id, h.score)).toSeq
    assert(a == b)
  }

  test("parser fuzz: 300 seeded random query strings never crash parse -> expand -> topK") {
    // the reference survives arbitrary user query strings (SyntaxError ->
    // 400, not a crash); our parser is total — worst case an empty result
    val rnd = new scala.util.Random(777)
    val atoms = Seq("the", "data", "spark", "error", "qzx", "role:user", "role:",
      "\"the data\"", "\"a b\"~2", "par*", "d?t*", "*", "?", "errer~1", "x~9",
      "+", "-", "AND", "OR", "NOT", "(", ")", "^2", "data^x", "[a TO b]",
      "role:[a TO", "\"unclosed", "~", "^", ":", "+-", "()", "a:b:c", "東京")
    for (i <- 0 until 300) {
      val n = 1 + rnd.nextInt(6)
      val q = Seq.fill(n)(atoms(rnd.nextInt(atoms.length))).mkString(" ")
      try {
        val parsed = searcher.expand(QueryParser.parse(q))
        val hits = searcher.topKHits(parsed, 5).collect()
        assert(hits.length <= 5)
      } catch {
        case e: Throwable => fail(s"query #$i crashed: <$q> -> ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
  }

  test("concurrent queries on one searcher epoch == sequential (8 threads, mixed shapes)") {
    // the reference's SolrIndexSearcher is shared by all request threads;
    // our epoch caches (postings persist, dfMemo, queryResultCache)
    // must tolerate the same concurrency
    val qs = Seq("the data", "+query merge", "error -timeout", "role:user spark index",
      "\"the data\"", "par* data", "errer~1 data", "timeout retry commit")
    val expected = qs.map(q => q ->
      searcher.topKHits(searcher.expand(QueryParser.parse(q)), 10)
        .collect().map(h => (h.doc_id, h.score)).toSeq).toMap
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(java.util.concurrent.Executors.newFixedThreadPool(8))
    val futs = (1 to 3).flatMap(_ => qs).map { q =>
      Future(q -> searcher.topKHits(searcher.expand(QueryParser.parse(q)), 10)
        .collect().map(h => (h.doc_id, h.score)).toSeq)
    }
    val results = Await.result(Future.sequence(futs), 120.seconds)
    results.foreach { case (q, got) =>
      assert(got == expected(q), s"[$q] concurrent result diverged")
    }
  }

  test("randomized queries: engine == oracle on 80 seeded random term sets") {
    val rnd = new scala.util.Random(4242)
    // text vocabulary only: the v4 field-term namespace (\u0002-prefixed)
    // is not queryable as bare terms
    val terms = spark.read.parquet(s"$indexDir/terms")
      .where(!col("term").startsWith(IndexBuilder.FieldTermPrefix))
      .orderBy(desc("df")).limit(300).select("term").as[String].collect()
    for (_ <- 0 until 80) {
      val n = 1 + rnd.nextInt(4)
      val qTerms = Seq.fill(n)(terms(rnd.nextInt(terms.length))).distinct
      val op = rnd.nextInt(10)
      val roles = Seq("system", "user", "assistant")
      val q = op match {
        case 0 => qTerms.mkString(" ")
        case 1 => qTerms.mkString(" AND ")
        case 2 if qTerms.length > 1 => qTerms.head + " -" + qTerms.last
        case 3 if qTerms.length > 2 =>
          s"${qTerms.head} OR (${qTerms(1)} AND ${qTerms(2)})" // SHOULD conj group
        case 4 if qTerms.length > 1 =>
          s"(${qTerms.head} AND ${qTerms(1)}) AND ${qTerms.last}" // left-bound group
        case 5 => // random boosts on a disjunction
          qTerms.map(t => s"$t^${1 + rnd.nextInt(3)}").mkString(" ")
        case 6 if qTerms.length > 1 => // random exact/sloppy phrase + a term
          s""""${qTerms.head} ${qTerms(1)}"~${rnd.nextInt(3)} ${qTerms.last}"""
        case 7 => // positive or negated role filter over a scored tail
          val neg = if (rnd.nextBoolean()) "-" else ""
          s"${qTerms.mkString(" ")} ${neg}role:${roles(rnd.nextInt(roles.length))}"
        case 8 if qTerms.length > 1 => // MUST group with a phrase member
          s"""+(${qTerms.head} "${qTerms(1)} ${qTerms.head}") ${qTerms.last}"""
        case 9 if qTerms.length > 1 => // AND binds a WILDCARD left operand
          s"${qTerms.head} ${qTerms(1).take(3)}* AND ${qTerms.last}"
        case _ => qTerms.mkString(" ")
      }
      assertRankIdentical(q, 10)
    }
  }

  test("adversarial skew: a 2000-turn conversation and an every-doc term still build balanced segments") {
    import java.sql.Timestamp
    // hot-term skew: "data" in EVERY doc; long-conversation skew: one conv
    // holds ~87% of the corpus. The range partitioner cuts on the FULL
    // (conv_id, turn_idx) key, so the giant conversation must split across
    // segments instead of pinning one (the north rule's salting clause: no
    // per-conversation partition may form)
    val ts = new Timestamp(1700000000000L)
    val big = (0 until 2000).map(i =>
      graft.index.Turn("conv-big", i, if (i % 2 == 0) "user" else "assistant",
        s"data turn $i retry error", null, ts))
    val small = (0 until 100).flatMap(c => (0 until 3).map(i =>
      graft.index.Turn(f"conv-s$c%03d", i, "user", s"data query $c window", null, ts)))
    val dir = TestSpark.tmpDir("idx-skew")
    IndexBuilder.build(spark, (big ++ small).toDF(), dir,
      IndexBuilder.Config(numSegments = 8))
    val m = spark.read.parquet(s"$dir/metrics")
      .select($"segment_id", $"n_docs").as[(Int, Long)].collect().toMap
    assert(m.keySet.size == 8, s"segments: ${m.keySet}")
    val mean = m.values.sum.toDouble / m.size
    assert(m.values.max <= (mean * 1.5).ceil.toLong,
      s"segment imbalance under skew: ${m.values.toSeq.sorted} (mean $mean)")
    // hot-term posting lists are segment-bounded by construction: the
    // per-segment doc_count of the every-doc term equals that segment's size
    val hot = spark.read.parquet(s"$dir/postings")
      .where($"term" === "data")
      .select($"segment_id", $"doc_count").as[(Int, Int)].collect().toMap
    assert(hot.keySet == m.keySet)
    hot.foreach { case (seg, dc) => assert(dc.toLong == m(seg), s"segment $seg") }
    // and the skewed index still answers rank-identically to the oracle
    val s = new Searcher(spark, dir)
    Seq("data", "retry error", "\"data turn\"", "data -role:assistant").foreach { q =>
      val parsed = s.expand(QueryParser.parse(q))
      val engine = s.topKHits(parsed, 10).collect().toSeq
      val oracle = Oracle.topK(spark,
        s.docs.select($"doc_id", $"text", $"role", $"tool"), parsed, 10).collect().toSeq
      assert(engine == oracle, s"query '$q' diverged on the skew corpus")
    }
    s.close()
  }

  test("metrics table: per-segment rows reconcile exactly with docs and corpus stats") {
    val m = spark.read.parquet(s"$indexDir/metrics")
      .select($"segment_id", $"n_docs", $"sum_dl", $"n_terms", $"n_postings")
      .collect()
    val fromDocs = searcher.docs.groupBy($"segment_id")
      .agg(count(lit(1)).as("n")).as[(Int, Long)].collect().toMap
    assert(m.map(_.getInt(0)).toSet == fromDocs.keySet)
    m.foreach { r =>
      assert(r.getLong(1) == fromDocs(r.getInt(0)), s"segment ${r.getInt(0)} n_docs")
      assert(r.getLong(4) >= r.getLong(3) && r.getLong(3) > 0)
    }
    assert(m.map(_.getLong(1)).sum == searcher.corpus.doc_count)
    assert(m.map(_.getLong(2)).sum == searcher.corpus.sum_dl)
  }

  test("v4 namespace: a literal text token `role:assistant` never collides with the role-field posting") {
    import java.sql.Timestamp
    // UAX#29 keeps `role:assistant` one token (MidLetter colon) — under the
    // v3 layout this doc's text posting and the role-field posting shared a
    // key, interleaving two writers on one list; v4 namespaces field keys
    val ts = new Timestamp(0L)
    val turns = Seq(
      graft.index.Turn("c0", 0, "assistant", "the deploy emitted role:assistant twice role:assistant", null, ts),
      graft.index.Turn("c0", 1, "user", "plain text without the marker", null, ts),
      graft.index.Turn("c1", 0, "assistant", "another assistant turn about deploy", null, ts),
      graft.index.Turn("c1", 1, "system", "role:assistant appears in system text", null, ts),
      // an empty role gets no field posting: its filters take the
      // stored-field route
      graft.index.Turn("c2", 0, "", "deploy notes under an empty role", null, ts))
    val dir = TestSpark.tmpDir("idx-collide")
    IndexBuilder.build(spark, turns.toDF(), dir, IndexBuilder.Config(numSegments = 2))
    val s = new Searcher(spark, dir)
    // terms table holds BOTH keys, disjoint namespaces, correct dfs
    val t = spark.read.parquet(s"$dir/terms")
      .select($"term", $"df").as[(String, Long)].collect().toMap
    assert(t("role:assistant") == 2L) // text token in docs 0 and 3
    assert(t(IndexBuilder.FieldTermPrefix + "role:assistant") == 2L) // role value docs 0, 2
    // a group member `role:assistant` is a TEXT term (scored from text
    // postings) and stays rank-identical to the brute-force oracle
    val parsed = s.expand(QueryParser.parse("(role:assistant deploy)"))
    val engine = s.topKHits(parsed, 10).collect()
    val oracle = Oracle.topK(spark,
      s.docs.select($"doc_id", $"text", $"role", $"tool"), parsed, 10).collect()
    assert(engine.length == oracle.length && engine.length == 4) // docs 0, 2, 3, 4
    engine.zip(oracle).foreach { case (e, o) =>
      assert(e.doc_id == o.doc_id && e.score == o.score)
    }
    // `role:` filters on the empty value: keep only doc 4, or drop it
    for ((q, n) <- Seq("role: deploy" -> 1, "deploy -role:" -> 2)) {
      val p = QueryParser.parse(q)
      val got = s.topKHits(p, 10).collect()
      val want = Oracle.topK(spark, s.docs.select($"doc_id", $"text", $"role", $"tool"), p, 10).collect()
      assert(got.length == n && got.toSeq == want.toSeq, s"[$q] engine != oracle")
    }
    // the dismax qf path still reaches the FIELD posting via the namespace
    val dm = s.dismaxTopK("assistant", Seq("role" -> 1f), tie = 0f, mm = 1, k = 10).collect()
    assert(dm.map(_.doc_id).toSet == Set(0L, 2L))
    s.close()
  }
}
