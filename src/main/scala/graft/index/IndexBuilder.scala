package graft.index

import java.sql.Timestamp
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.analysis.Analyzer
import graft.codec.SmallFloat

/** Builds the inverted index over a transcript table.
  *
  * Shape (SURVEY.md §3.4 "Spark shape"): range-partition the corpus on the
  * stable key (conv_id, turn_idx) — one partition = one *segment* owning a
  * dense, contiguous docId range (the Lucene segment model,
  * `solr/core/src/java/org/apache/solr/update/SolrIndexWriter.java:57-155`).
  * Posting lists are then built **inside each segment partition** with an
  * in-memory term map flushed as compressed PostingRows — the Spark
  * rendering of Lucene's RAM-buffer indexing path (`ramBufferSizeMB`,
  * `solr/core/src/java/org/apache/solr/update/SolrIndexConfig.java:102`):
  * no shuffle ever moves raw token rows, a hot term's posting list is
  * bounded by segment size by construction (skew capped), and the only
  * shuffled data are the finished per-term stats aggregations.
  *
  * Output layout under `indexDir/`:
  *   docs/      DocRow parquet, sorted by doc_id (stored fields)
  *   postings/  PostingRow parquet; rows with term=="" are the per-segment
  *              norms sidecar (norms blob in `norms`, dl sum in `ttf`)
  *   terms/     TermStats parquet (exact global df/ttf); read by ops and
  *              perfbench, not by the Searcher, which sums postings' doc_count
  *   corpus/    single CorpusStats row
  *   metrics/   MetricsRow parquet — per-segment build metrics (docs, dl
  *              sum, vocabulary, posting entries; north-rule metrics table)
  *   lineage/   LineageRow parquet — completed steps, for resume
  *   staging/   a step's output before it is promoted (empty once committed)
  *
  * Resumability (north rule): the build is decomposed into steps
  * ("docs", "batch-<b>", "stats"), each committed by appending its lineage
  * row; re-running `build` skips steps already in lineage — the tlog-replay
  * analogue (`solr/core/src/java/org/apache/solr/update/UpdateLog.java:1401-1443`).
  * "docs" and "stats" overwrite their tables, so a re-run replaces them. A
  * postings batch commits by the streaming appender's rule (Lucene's commit
  * point: files no lineage row references are garbage): it writes to
  * `staging/batch-<b>/`, [[promote]]s the files into postings/ under the
  * `batch-<b>-` prefix, then appends its row; `staging/` is cleared after
  * the last batch. A resume first clears the prefix of every batch it
  * re-runs, so a build killed between promote and row resumes to an
  * identical index instead of doubling that batch's postings. A completed
  * batch whose recorded segment range is not the one this run plans for it
  * fails the build (IllegalStateException) rather than leave segments
  * without postings.
  */
object IndexBuilder {

  case class Config(
      numSegments: Int = 32,
      batches: Int = 1,
      stopwords: Set[String] = Set.empty)

  case class BuildResult(docCount: Long, sumDl: Long, numSegments: Int, resumedSteps: Int)

  /** Case-sensitive set of finished lineage steps (empty if no index yet). */
  def completedSteps(spark: SparkSession, dir: String): Set[String] =
    lineageRows(spark, dir).map(_.step).toSet

  private def lineageRows(spark: SparkSession, dir: String): Array[LineageRow] = {
    import spark.implicits._
    val p = new Path(s"$dir/lineage")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) Array.empty
    else spark.read.parquet(p.toString).as[LineageRow].collect()
  }

  /** On-disk layout version; bump on PostingRow/Block schema changes. An
    * index without the current marker is STALE (e.g. pre-positions blocks)
    * and gets wiped + rebuilt instead of resumed — resuming across a
    * schema change would poison every reader with FIELD_NOT_FOUND.
    * v3: postings carry single-token FIELD terms (`role:<v>`, `tool:<v>`)
    * (the copyField + per-field postings role of DocumentBuilder.java:99-123);
    * they serve both qf scoring (dismax) and fq (role/tool filter clauses
    * run as non-scoring cursors over them). Empty or null values get no
    * posting.
    * v4: field-term keys are namespaced `\u0002field:value` instead of the
    * bare `field:value` — the analyzer can legally emit a colon-joined TEXT
    * token like `role:system` (UAX#29 WB6/7 MidLetter), and under v3 that
    * token shared a postings key with the role-field term, interleaving two
    * writers on one list (duplicate docIds = corrupt postings) and scoring
    * field postings for what the query parsed as a text term. U+0002 is a
    * control char the analyzer can never emit, so the namespaces are
    * disjoint by construction (same convention as the U+0001 sentinels).
    * v5: adds the metrics/ table (per-segment build metrics) to the layout;
    * a v4 index resumed under v5 code would skip the stats step and leave
    * readers of metrics/ with FileNotFound, so it rebuilds instead. */
  val LayoutVersion = 5

  /** Key prefix of field-term postings rows (layout v4): postings/terms rows
    * whose term starts with this are structured `field:value` terms (dismax
    * qf scoring and fq clauses), not text vocabulary. */
  val FieldTermPrefix = "\u0002"

  /** Index-store parquet codec. zstd, not the Spark default snappy: the
    * snappy write path collapses under write-task concurrency on this host
    * (measured: the same shuffled corpus written as parquet costs 357
    * CPU-sec at 16 slots under snappy vs 152 under zstd, with matching
    * wall; at 4 slots they tie) — and zstd also compresses the postings
    * blocks ~25% smaller, which matters when scans are page-fault-bound. */
  val Zstd = "zstd"

  def build(spark: SparkSession, turns: DataFrame, dir: String, cfg: Config = Config()): BuildResult = {
    import spark.implicits._
    val fsRoot = new Path(dir)
    val fs = fsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(s"$dir/layout-v$LayoutVersion")
    if (fs.exists(fsRoot) && !fs.exists(marker)) fs.delete(fsRoot, true)
    fs.mkdirs(fsRoot)
    if (!fs.exists(marker)) fs.create(marker).close()
    val lineage = lineageRows(spark, dir)
    val done = lineage.map(_.step).toSet
    var skipped = 0

    // ---- step 1: docId assignment (two-pass, no global window, no cache) -
    //
    // Explicit deterministic range partitioning: one fused SKETCH pass over
    // the (conv_id, turn_idx) key columns yields both the exact row count
    // and a deterministic bottom-k sample (the k keys with the smallest
    // murmur3 hashes — a partitioning-independent uniform sample, so cuts
    // don't depend on input layout) -> numSegments-1 cut points; segment =
    // cut-range index. Pass A aggregates EXACT per-segment counts (only
    // counts shuffle); pass B range-shuffles the corpus once on the segment
    // index, sorts within partitions, and assigns doc_id = offset(seg) +
    // local rank per segment. doc_ids are independent of the sampled cuts
    // (the sequence is the global (conv_id, turn_idx) rank for ANY
    // contiguous cut set), so builds are reproducible at any parallelism —
    // asserted by EngineSpec's control-vs-distributed suite.
    def mark(t0: Long, what: String): Long = {
      val t = System.nanoTime()
      if (sys.env.contains("GRAFT_BUILD_TIMING"))
        println(f"[graft-build] $what%-14s ${(t - t0) / 1e9}%7.2fs")
      t
    }

    if (done("docs")) skipped += 1
    else {
      val t0 = System.nanoTime()
      var tm = t0
      val src = turns.select($"conv_id", $"turn_idx", $"role", $"text", $"tool", $"ts")
      val srcBytes = turns.inputFiles.headOption.map { _ =>
        turns.inputFiles.map { f =>
          val p = new Path(f)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .getFileStatus(p).getLen
        }.sum
      }.getOrElse(0L)

      // ---- step 1 fast path: verified pre-sorted input, zero shuffle -----
      //
      // A corpus that is ALREADY range-partitioned and sorted on the stable
      // key — the normal layout of an Iceberg/warehouse table clustered on
      // (conv_id, turn_idx), and of anything this engine itself wrote — does
      // not need the range shuffle at all: each file split is a contiguous
      // key run, so doc_id = (rows in splits with smaller keys) + local
      // rank, computed from one cheap key-stats pass. The property is
      // VERIFIED, never assumed: the stats pass proves every split strictly
      // ascending in UTF8-binary key order (the same order Spark's sort
      // gives) and split ranges pairwise disjoint; any violation — unsorted
      // input, duplicate keys at a boundary, packed out-of-order small
      // files — falls back to the shuffle path below. doc_ids are identical
      // either way (global key rank), so the choice is invisible to every
      // reader; at the 10^12-turn target this turns ingest of a sorted
      // table into a pure map job (no 100-TB exchange), which is also why
      // its per-stage cost scales near-linearly with executors.
      val fastSegs: Option[(Int, Long)] =
        if (srcBytes <= 0) None
        else {
          // split sizing targets segment count (≈ max(numSegments, 2 slots/
          // core) one-file-per-task postings parallelism), not shuffle spill
          val target = srcBytes /
            math.max(cfg.numSegments.toLong, 2L * spark.sparkContext.defaultParallelism)
          val split = math.min(128L << 20, math.max(16L << 20, target))
          // openCost = split: never pack two files into one split (packing
          // order is size-desc, which would break within-split sortedness)
          withFilesConf(spark, "maxPartitionBytes" -> split, "openCostInBytes" -> split) {
            try buildDocsSorted(spark, src, dir)
            catch {
              case e: Exception if messageChain(e).exists(_.contains(FastPathMismatch)) =>
                // nondeterministic source plan between the two passes: fall
                // back to the shuffle path (which re-overwrites docs/)
                None
            }
          }
        }
      fastSegs.foreach { case (segs, nDocs) =>
        tm = mark(tm, "fast-docs")
        appendLineage(spark, dir, LineageRow("docs", 0, segs, nDocs, 0L,
          (System.nanoTime() - t0) / 1000000, now()))
      }

      if (fastSegs.isEmpty) {
      // Split the source scan fine enough that pass B's shuffle-map tasks
      // never spill: with default 128MB splits a 16-slot run holds ~430MB
      // of unsafe rows per task against a ~300MB execution-memory budget
      // and spills ~2x the corpus to spark.local.dir — on this
      // virtualized host concurrent tmpfs page allocation degenerates
      // into kernel-contended fault storms (measured: the spilling map
      // stage burns 12x more CPU at 16 slots than at 4, >90% system
      // time; with no spill the stage is linear). Target ~8 map tasks
      // per shuffle slot, clamped to [16MB, 128MB] so huge corpora don't
      // explode into millions of tasks and tiny ones keep one split.
      val split = math.min(128L << 20,
        math.max(16L << 20, srcBytes / (8L * spark.sparkContext.defaultParallelism)))
      withFilesConf(spark, Seq("maxPartitionBytes" -> split).filter(_ => srcBytes > 0): _*) {
      val sketchK = cfg.numSegments * 200
      val sketches: Array[PartitionSketch] =
        src.select($"conv_id", $"turn_idx").as[(String, Int)]
          .mapPartitions { it =>
            var n = 0L
            // bottom-k by hash: max-heap of size k, evict the largest
            val ord = Ordering.by[SketchKey, Int](_.h).reverse
            val pq = new java.util.PriorityQueue[SketchKey](64, ord)
            it.foreach { case (c, t) =>
              n += 1
              val h = scala.util.hashing.MurmurHash3.productHash((c, t))
              if (pq.size < sketchK) pq.add(SketchKey(h, c, t))
              else if (h < pq.peek().h) { pq.poll(); pq.add(SketchKey(h, c, t)) }
            }
            Iterator.single(PartitionSketch(n, pq.toArray(new Array[SketchKey](0))))
          }.collect()
      tm = mark(tm, "sketch")
      val sample: Array[(String, Int)] = sketches.iterator.flatMap(_.keys).toArray
        .sortBy(_.h).take(sketchK).map(x => (x.conv_id, x.turn_idx)).sorted
      val cuts: Array[(String, Int)] =
        if (sample.isEmpty) Array.empty
        else Array.tabulate(cfg.numSegments - 1) { i =>
          sample(((i + 1).toLong * sample.length / cfg.numSegments).toInt
            .min(sample.length - 1))
        }
      val bcCuts = spark.sparkContext.broadcast(cuts)
      def segOf(conv: String, turn: Int, cs: Array[(String, Int)]): Int = {
        // first cut > key, via binary search on the (conv, turn) total order
        var lo = 0
        var hi = cs.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          val c = cs(mid)
          val cmp = {
            val x = conv.compareTo(c._1)
            if (x != 0) x else Integer.compare(turn, c._2)
          }
          if (cmp < 0) hi = mid else lo = mid + 1
        }
        lo
      }
      // pass A: exact per-segment counts (shuffles one count per segment)
      val counts = src.select($"conv_id", $"turn_idx").as[(String, Int)]
        .mapPartitions { it =>
          val cs = bcCuts.value
          val local = new Array[Long](cs.length + 1)
          it.foreach { case (c, t) => local(segOf(c, t, cs)) += 1 }
          Iterator.tabulate(local.length)(i => (i, local(i)))
        }
        .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
        .collect().toMap
      tm = mark(tm, "passA-counts")
      val offsets = new Array[Long](cfg.numSegments)
      var acc = 0L
      for (p <- 0 until cfg.numSegments) {
        offsets(p) = acc
        acc += counts.getOrElse(p, 0L)
      }
      val bcOffsets = spark.sparkContext.broadcast(offsets)
      // pass B: one corpus shuffle, sort within partitions, assign ids.
      // HASH-repartition on the precomputed segment index, NOT
      // repartitionByRange: a RangePartitioner would run one more full
      // sampling scan of the corpus to learn boundaries we already know.
      // 4x partitions keeps hash collisions (two segments in one partition)
      // rare; a multi-segment partition is still correct everywhere — seg
      // is monotone in (conv_id, turn_idx), so the sort keeps segments
      // contiguous, per-seg rank counters are keyed by seg, and each
      // written file still holds only whole segments.
      // capture the (tiny) cuts array ITSELF in the closure, not the
      // broadcast handle: Broadcast.value is a synchronized method holding
      // a SoftReference, and a per-row .value from N shuffle-map threads
      // serializes on that one monitor — measured as the map stage burning
      // 12x CPU (>90% system time, futex) at 16 slots vs 4. Under GC
      // pressure the SoftReference also clears mid-stage, re-reading and
      // re-decompressing the block arbitrarily often.
      val cutsLocal = cuts
      val segUdf = udf((c: String, t: Int) => segOf(c, t, cutsLocal))
      src.withColumn("seg", segUdf($"conv_id", $"turn_idx"))
        .repartition(4 * cfg.numSegments, $"seg")
        .sortWithinPartitions($"conv_id", $"turn_idx")
        .as[SegTurn]
        .mapPartitions { it =>
          val off = bcOffsets.value
          val next = new java.util.HashMap[Integer, Long]()
          it.map { r =>
            val cur = next.getOrDefault(r.seg, off(r.seg))
            next.put(r.seg, cur + 1)
            DocRow(cur, r.seg, r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts)
          }
        }
        .write.mode("overwrite").option("compression", Zstd).parquet(s"$dir/docs")
      tm = mark(tm, "passB-docs")
      appendLineage(spark, dir, LineageRow("docs", 0, cfg.numSegments, acc, 0L,
        (System.nanoTime() - t0) / 1000000, now()))
      }
      }
    }

    // Effective segment-id space: the fast path writes one segment per
    // verified split (recorded in the docs lineage row); the shuffle path
    // uses cfg.numSegments. Everything downstream (batch slicing, corpus
    // stats, streaming append ids) keys off this, not the config.
    val segSpace: Int = {
      val rows = spark.read.parquet(s"$dir/lineage")
        .where($"step" === "docs").select("segment_hi").as[Int].collect()
      if (rows.nonEmpty) rows.max else cfg.numSegments
    }

    // ---- step 2: postings, one batch of segments at a time --------------
    // Each batch runs the shared segment writer over the committed docs and
    // commits under its `batch-<b>-` prefix (see the header).
    val perBatch = math.max(1, math.ceil(segSpace.toDouble / cfg.batches).toInt)
    val plan: Map[String, (Int, Int)] = (0 until cfg.batches).map { b =>
      val lo = b * perBatch
      s"batch-$b" -> ((lo, math.min(segSpace, lo + perBatch)))
    }.filter { case (_, (lo, hi)) => lo < hi }.toMap
    lineage.filter(_.step.startsWith("batch-")).foreach { r =>
      val planned = plan.get(r.step)
      if (!planned.contains((r.segment_lo, r.segment_hi)))
        throw new IllegalStateException(s"$dir: completed step ${r.step} covers segments " +
          s"[${r.segment_lo}, ${r.segment_hi}) but this build plans " +
          planned.fold("no such batch") { case (lo, hi) => s"[$lo, $hi)" } +
          " for it; rebuild into a fresh directory")
    }
    val analyzer = new Analyzer(cfg.stopwords)
    val postingsDir = new Path(s"$dir/postings")
    for (b <- 0 until cfg.batches; (lo, hi) <- plan.get(s"batch-$b")) {
      if (done(s"batch-$b")) skipped += 1
      else {
        val t0 = System.nanoTime()
        val prefix = s"batch-$b-"
        val staged = new Path(s"$dir/staging/batch-$b")
        deletePrefixed(fs, postingsDir, prefix)
        writeSegments(spark, s"$dir/docs", staged.toString, analyzer, lo, hi)
        promote(fs, staged, postingsDir, prefix)
        appendLineage(spark, dir, LineageRow(s"batch-$b", lo, hi, 0L, 0L,
          (System.nanoTime() - t0) / 1000000, now()))
      }
    }
    // promote leaves each batch's non-data files behind, and a build killed
    // after a batch's row leaves its whole staged dir: clear them all here
    fs.delete(new Path(s"$dir/staging"), true)

    // ---- step 3: exact global stats --------------------------------------
    if (done("stats")) skipped += 1
    else {
      val t0 = System.nanoTime()
      val postings = spark.read.parquet(s"$dir/postings")
        .select($"segment_id", $"term", $"doc_count", $"ttf").persist()
      // per-partition metrics table (north rule) off the SAME cached scan
      segmentMetrics(postings, now()).write.mode("overwrite").parquet(s"$dir/metrics")
      postings.where($"term" =!= "")
        .groupBy($"term")
        .agg(sum($"doc_count").cast("long").as("df"), sum($"ttf").as("ttf"))
        .as[TermStats]
        .sortWithinPartitions($"term") // tight row-group stats for point reads
        .write.mode("overwrite").option("compression", Zstd).parquet(s"$dir/terms")
      val c = postings.where($"term" === "")
        .agg(sum($"doc_count").cast("long"), sum($"ttf").cast("long"))
        .as[(Long, Long)].head()
      postings.unpersist()
      // num_segments records the segment ID SPACE (cfg.numSegments), not the
      // count of non-empty segments — streaming appends allocate the next
      // segment id as corpus.num_segments, which must never collide
      Seq(CorpusStats(c._1, c._2, segSpace)).toDS()
        .write.mode("overwrite").parquet(s"$dir/corpus")
      appendLineage(spark, dir, LineageRow("stats", 0, segSpace, c._1, 0L,
        (System.nanoTime() - t0) / 1000000, now()))
    }

    val c = spark.read.parquet(s"$dir/corpus").as[CorpusStats].head()
    BuildResult(c.doc_count, c.sum_dl, c.num_segments, skipped)
  }

  /** Marker string for cross-pass planning-drift failures inside the sorted
    * fast path; build() catches it (by message) and falls back to shuffle. */
  private val FastPathMismatch = "graft-fastpath-mismatch"

  private def messageChain(e: Throwable): Iterator[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .map(t => if (t.getMessage == null) "" else t.getMessage)

  /** Strict (conv, turn) key order under UTF8-BINARY string comparison —
    * the order Spark's sort gives a string column, so the fast path's
    * sortedness proof certifies the exact order the shuffle path produces. */
  private def keyLt(c1: String, t1: Int, c2: String, t2: Int): Boolean = {
    val x = org.apache.spark.unsafe.types.UTF8String.fromString(c1)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(c2))
    x < 0 || (x == 0 && t1 < t2)
  }

  /** Zero-shuffle docId assignment over a verifiably sorted source (see the
    * fast-path comment in [[build]]). Pass 1 collects per-split key stats
    * (first/last key, count, strictly-ascending flag) reading only the two
    * key columns; the driver checks every split sorted and split ranges
    * pairwise disjoint, orders splits by first key, and prefix-sums counts
    * into per-split doc_id offsets. Pass 2 re-reads the full source under
    * the SAME split planning and writes DocRows with doc_id = offset +
    * local rank — one task per split, one output file per task, one segment
    * per file (the invariant the postings stage needs). Planning drift
    * between the passes is caught by first-key and count asserts.
    *
    * Returns Some((segmentCount, docCount)) on success; None if the input is
    * not verifiably sorted (caller falls back to the range-shuffle path). */
  private def buildDocsSorted(spark: SparkSession, src: DataFrame, dir: String): Option[(Int, Long)] = {
    import spark.implicits._
    val stats: Array[SplitStat] =
      src.select($"conv_id", $"turn_idx").as[(String, Int)]
        .mapPartitions { it =>
          val pid = TaskContext.getPartitionId()
          if (!it.hasNext) Iterator.single(SplitStat(pid, 0L, null, 0, null, 0, sorted = true))
          else {
            val (c0, t0) = it.next()
            var n = 1L
            var sorted = true
            var prevC = c0
            var prevT = t0
            while (it.hasNext && sorted) {
              val (c, t) = it.next()
              if (!keyLt(prevC, prevT, c, t)) sorted = false
              prevC = c; prevT = t; n += 1
            }
            while (it.hasNext) { it.next(); n += 1 } // finish count for detail
            Iterator.single(SplitStat(pid, n, c0, t0, prevC, prevT, sorted))
          }
        }.collect()
    val nonEmpty = stats.filter(_.n > 0)
    if (nonEmpty.isEmpty || nonEmpty.exists(!_.sorted)) return None
    val ordered = nonEmpty.sortWith((a, b) => keyLt(a.firstConv, a.firstTurn, b.firstConv, b.firstTurn))
    val disjoint = ordered.iterator.sliding(2).withPartial(false).forall { w =>
      keyLt(w(0).lastConv, w(0).lastTurn, w(1).firstConv, w(1).firstTurn)
    }
    if (!disjoint) return None
    // pid -> (segment id in key order, doc_id offset, expected n, first key)
    var acc = 0L
    val meta: Map[Int, (Int, Long, Long, String, Int)] =
      ordered.zipWithIndex.map { case (s, seg) =>
        val off = acc
        acc += s.n
        s.pid -> ((seg, off, s.n, s.firstConv, s.firstTurn))
      }.toMap
    // Pass 2 is a PURE PROJECTION (whole-stage codegen, no per-row Scala
    // objects): monotonically_increasing_id() is (partitionId << 33) | local
    // row ordinal, so doc_id = offset(pid) + ordinal and segment_id =
    // segOf(pid) are constant-array lookups. A typed-iterator variant of
    // this pass spent a third of the stage's CPU (and most of its GC)
    // materializing Turn/DocRow instances; the per-row planning-drift
    // asserts it carried are replaced by the post-write verification below.
    val maxPid = stats.map(_.pid).max
    val offByPid = Array.fill(maxPid + 1)(-1L)
    val segByPid = Array.fill(maxPid + 1)(-1)
    meta.foreach { case (pid, (seg, off, _, _, _)) =>
      offByPid(pid) = off
      segByPid(pid) = seg
    }
    val mid = monotonically_increasing_id()
    val pid1 = shiftright(mid, 33).cast("int") + lit(1) // element_at is 1-based
    src
      .withColumn("doc_id", element_at(typedLit(offByPid), pid1) +
        mid.bitwiseAND(lit((1L << 33) - 1)))
      .withColumn("segment_id", element_at(typedLit(segByPid), pid1))
      .select($"doc_id", $"segment_id", $"conv_id", $"turn_idx", $"role",
        $"text", $"tool", $"ts")
      .write.mode("overwrite").option("compression", Zstd).parquet(s"$dir/docs")
    // Post-write verification: per-segment (count, min, max) of doc_id from
    // the written parquet must equal the stats-pass prediction. Split
    // planning that drifted between the passes (different boundaries, extra
    // partitions, reordered packing) perturbs per-segment counts/ranges in
    // any non-pathological way; combined with pass 1's per-split sortedness
    // proof this gives the same guarantee the per-row asserts did, for one
    // cheap two-column scan. A mismatch throws; build() falls back to the
    // shuffle path, which overwrites docs/.
    val ver = spark.read.parquet(s"$dir/docs")
      .groupBy($"segment_id")
      .agg(count(lit(1)).as("n"), min($"doc_id").as("lo"), max($"doc_id").as("hi"))
      .collect()
      .map(r => (if (r.isNullAt(0)) -1 else r.getInt(0)) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    if (ver.size != ordered.length) throw new IllegalStateException(
      s"$FastPathMismatch: wrote ${ver.size} segments, stats pass predicted ${ordered.length}")
    ordered.zipWithIndex.foreach { case (s, seg) =>
      val off = meta(s.pid)._2
      val (n, lo, hi) = ver.getOrElse(seg, (-1L, -1L, -1L))
      if (n != s.n || lo != off || hi != off + s.n - 1)
        throw new IllegalStateException(
          s"$FastPathMismatch: segment $seg wrote (n=$n, lo=$lo, hi=$hi), " +
            s"stats pass predicted (n=${s.n}, lo=$off, hi=${off + s.n - 1})")
    }
    Some((ordered.length, acc))
  }

  /** The one segment writer, shared by the build and the streaming appender:
    * one analysis + in-segment posting-build pass over the DocRow parquet in
    * `docsDir`, segments [lo, hi) only (a build batch's slice; an append
    * passes its one new segment), written to `outDir` as PostingRows sorted
    * by (term, segment). A per-partition
    * term -> PostingsBuf map (plus the "" norms-sidecar entry per segment) is
    * flushed through [[PostingsAggregator.finish]] with no exchange — every
    * (segment, term) key is complete inside its partition.
    *
    * That holds only while no task reads a FRAGMENT of a segment (it would
    * emit duplicate (segment, term) rows and a torn norms sidecar). Both
    * writers of docs parquet keep segments whole per file (the build's pass B
    * partitions on the segment, the fast path writes one segment per split,
    * an append one file per batch), so the guard caps parquet split
    * size at the largest docs file: Spark can never split one file across
    * tasks, and one task ≈ one file keeps parallelism = segment count. (The
    * r1 build re-shuffled the whole corpus here — the dominant non-compute
    * cost in the scaling bench.) Reading the committed parquet rather than
    * reusing the in-memory pass-B plan is deliberate: the latter is a
    * measured 5x pessimization — every downstream task closure then drags
    * the cached upstream lineage (with per-relation serialized Hadoop
    * Configurations) through (de)serialization. */
  private[graft] def writeSegments(spark: SparkSession, docsDir: String, outDir: String,
      analyzer: Analyzer, lo: Int, hi: Int): Unit = {
    import spark.implicits._
    val bound = largestParquetFile(spark, docsDir) + 1
    // openCost = split cap: otherwise Spark PACKS 2+ small docs files into
    // one task (measured: 128 segment files -> 64 tasks -> 4 uneven waves
    // at 16 slots, ~28% idle tail on the dominant stage)
    withFilesConf(spark, "maxPartitionBytes" -> bound, "openCostInBytes" -> bound) {
      val rows: Dataset[PostingRow] = spark.read.parquet(docsDir)
        .where($"segment_id" >= lo && $"segment_id" < hi)
        .select($"doc_id", $"segment_id", $"text", $"role", $"tool")
        .as[(Long, Int, String, String, String)]
        .mapPartitions { it =>
          // Allocation-rate discipline (the postings stage is GC-bound at 16
          // slots — measured 70s GC / 410s task time before this shape, and
          // still 51s/250s with String-keyed interning): terms intern to
          // DENSE PER-TASK INT IDS via slice probes that allocate NO String
          // per occurrence (TokenDict — each distinct term materializes once
          // per task), and each segment holds a flat id-indexed PostingsBuf
          // array — no Tuple2 key, no per-(doc, term) scratch buffer, no
          // per-doc HashMap, no per-token String: occurrences append
          // incrementally (PostingsBuf.addOcc).
          val dict = new graft.analysis.TokenDict()
          val sink = new graft.analysis.TokenSink()
          val emitter = new analyzer.IdEmitter(dict, sink)
          def idOf(t: String): Int = dict.idOf(t)
          // per-segment id-indexed buffers; tasks see one segment in practice
          // (one task per segment-aligned docs file), so the outer map is hit
          // through a single-entry cache
          val segBufs = new java.util.HashMap[Integer, java.util.ArrayList[PostingsBuf]]()
          var curSeg = Int.MinValue
          var curArr: java.util.ArrayList[PostingsBuf] = null
          def buf(seg: Int, id: Int): PostingsBuf = {
            if (seg != curSeg) {
              curArr = segBufs.get(seg)
              if (curArr == null) { curArr = new java.util.ArrayList[PostingsBuf](); segBufs.put(seg, curArr) }
              curSeg = seg
            }
            while (curArr.size() <= id) curArr.add(null)
            var b = curArr.get(id)
            if (b == null) { b = new PostingsBuf(); curArr.set(id, b) }
            b
          }
          val one = SmallFloat.intToByte4(1) // field norm: single-token dl
          val lenId = idOf("") // norms sidecar = id 0
          // role/tool field-term ids memoized per VALUE (skips the per-doc
          // string concat + dict probe; role/tool cardinality is tiny)
          val roleIds = new java.util.HashMap[String, Integer]()
          val toolIds = new java.util.HashMap[String, Integer]()
          def fieldId(cache: java.util.HashMap[String, Integer], field: String, v: String): Int = {
            val got = cache.get(v)
            if (got != null) got.intValue()
            else {
              val id = idOf(FieldTermPrefix + field + ":" + v)
              cache.put(v, Integer.valueOf(id))
              id
            }
          }
          it.foreach { case (docId, seg, text, role, tool) =>
            analyzer.analyzeIdsInto(text, emitter)
            val dl = sink.n
            val norm = SmallFloat.intToByte4(dl)
            val lenBuf = buf(seg, lenId)
            lenBuf.isLenRow = true
            lenBuf.add(docId, dl, norm)
            // single-token field postings (`role:user` keying): tf = 1,
            // norm = dl 1 — scored with the field's own stats (qf), read
            // unscored by fq clauses; no positions (no phrases on fields)
            if (role != null && role.nonEmpty)
              buf(seg, fieldId(roleIds, "role", role)).add(docId, 1, one)
            if (tool != null && tool.nonEmpty)
              buf(seg, fieldId(toolIds, "tool", tool)).add(docId, 1, one)
            var i = 0
            while (i < sink.n) {
              buf(seg, sink.ids(i)).addOcc(docId, norm, sink.poss(i))
              i += 1
            }
          }
          // emit in (term, segment) order SORTED IN-TASK: rows flow straight to
          // the parquet writer with tight row-group stats for term pushdown,
          // WITHOUT a sortWithinPartitions — Spark's sorter would buffer a
          // second, full copy of the compressed segment per task (measured as
          // half the postings stage's live heap at local[16]). Each buf is
          // dropped from its slot as it is consumed, so peak memory is the raw
          // accumulation buffers alone.
          val keys = {
            val ks = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)] // (seg, id)
            val si = segBufs.entrySet().iterator()
            while (si.hasNext) {
              val e = si.next()
              val arr = e.getValue
              var id = 0
              while (id < arr.size()) {
                if (arr.get(id) != null) ks += ((e.getKey.intValue(), id))
                id += 1
              }
            }
            ks.toArray
          }
          java.util.Arrays.sort(keys, Ordering.by((k: (Int, Int)) => (dict.term(k._2), k._1)))
          new Iterator[PostingRow] {
            var i = 0
            def hasNext = i < keys.length
            def next() = {
              val (seg, id) = keys(i)
              i += 1
              val arr = segBufs.get(seg)
              val b = arr.get(id)
              arr.set(id, null)
              PostingsAggregator.finish(b).withKey(seg, dict.term(id))
            }
          }
        }
      rows.write.mode("overwrite").option("compression", Zstd).parquet(outDir)
    }
  }

  /** Byte length of the largest parquet file directly under `dir` (0 if
    * none), listed through the FileSystem of `dir`'s URI. */
  private[graft] def largestParquetFile(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).foldLeft(0L)(math.max)
  }

  /** Runs `body` with the given `spark.sql.files.<name>` byte confs set,
    * then restores each to the value it had. */
  private[graft] def withFilesConf[T](spark: SparkSession, confs: (String, Long)*)(body: => T): T = {
    val keys = confs.map { case (k, v) => (s"spark.sql.files.$k", v) }
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v.toString) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Per-segment metrics rows (north-rule metrics table) from postings rows
    * with `segment_id`, `term`, `doc_count` and `ttf`: norms rows
    * (term == "") carry a segment's doc count and dl sum, real rows its
    * vocabulary and posting-entry counts. One row per segment present. */
  private[graft] def segmentMetrics(postings: DataFrame, ts: Timestamp): Dataset[MetricsRow] = {
    import postings.sparkSession.implicits._
    postings
      .groupBy($"segment_id")
      .agg(
        sum(when($"term" === "", $"doc_count").otherwise(0L)).cast("long").as("n_docs"),
        sum(when($"term" === "", $"ttf").otherwise(0L)).cast("long").as("sum_dl"),
        sum(when($"term" =!= "", 1L).otherwise(0L)).cast("long").as("n_terms"),
        sum(when($"term" =!= "", $"doc_count").otherwise(0L)).cast("long").as("n_postings"))
      .withColumn("finished_ts", lit(ts))
      .as[MetricsRow]
  }

  /** Commit-rule step: move a staged parquet dir's data files into `dst`
    * under `<prefix><original-name>` — deterministic names, so files an
    * interrupted commit promoted are found again by prefix. */
  private[graft] def promote(fs: FileSystem, src: Path, dst: Path, prefix: String): Unit = {
    fs.mkdirs(dst)
    fs.listStatus(src).foreach { st =>
      val n = st.getPath.getName
      if (n.endsWith(".parquet"))
        fs.rename(st.getPath, new Path(dst, prefix + n))
    }
  }

  /** Commit-rule cleanup: delete `dir`'s files promoted under `prefix`. */
  private[graft] def deletePrefixed(fs: FileSystem, dir: Path, prefix: String): Unit =
    if (fs.exists(dir))
      fs.listStatus(dir).foreach { st =>
        if (st.getPath.getName.startsWith(prefix)) fs.delete(st.getPath, false)
      }

  private def now() = new Timestamp(System.currentTimeMillis())

  private def appendLineage(spark: SparkSession, dir: String, row: LineageRow): Unit = {
    import spark.implicits._
    Seq(row).toDS().write.mode("append").parquet(s"$dir/lineage")
  }
}
