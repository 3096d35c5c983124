package graft.streaming

import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row
import graft.analysis.Analyzer
import graft.index._

/** Incremental index maintenance over a transcript stream — the engine's
  * rendering of the reference's update path (SURVEY.md §2.8):
  *
  *   - each micro-batch becomes one NEW immutable segment appended to the
  *     index — Lucene's RAM-buffer flush / soft-commit model
  *     (`solr/server/solr/configsets/_default/conf/solrconfig.xml:240-252`:
  *     commit visibility = here, the promote of a batch's staged files);
  *   - docIds continue densely from the current corpus count in arrival
  *     order — matching Lucene/Solr append semantics;
  *   - the segment's postings and metrics row come from the build's own
  *     segment writer ([[IndexBuilder.writeSegments]]) and metrics
  *     aggregation ([[IndexBuilder.segmentMetrics]]), run over the staged
  *     batch docs — one indexing chain for build and append;
  *   - exact global term stats are refreshed per batch by merging the
  *     batch's DELTA df/ttf into the terms table (ExactStatsCache
  *     semantics) — an O(vocabulary) job, independent of index size;
  *   - resume/recovery is Structured Streaming's checkpointLocation — the
  *     tlog-replay analogue (`solr/core/src/java/org/apache/solr/update/UpdateLog.java:1401-1443`).
  *
  * Exactly-once under replay (crash at ANY point):
  *   1. batch output is computed in `staging/<batchId>/` and promoted into
  *      docs/, postings/ and metrics/ under deterministic `b<batchId>-` file
  *      names (the build's commit rule, [[IndexBuilder.promote]]);
  *   2. before merging stats, the pre-batch terms/ and corpus/ dirs are
  *      renamed to `*.base.<batchId>` snapshots; the merged tables are
  *      written fresh, then the lineage row commits the batch;
  *   3. a replay of an incomplete batch first RESTORES the snapshots and
  *      deletes any `b<batchId>-` files — returning the index to its exact
  *      pre-batch state — then redoes the batch from scratch.
  */
object StreamingIndexer {

  /** Index one micro-batch as a new segment (idempotent per batchId). */
  def appendBatch(spark: SparkSession, batch: DataFrame, indexDir: String,
      batchId: Long, analyzer: Analyzer = Analyzer.default): Unit = {
    import spark.implicits._
    val step = s"stream-batch-$batchId"
    val prefix = s"b$batchId-"
    val fs = new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val termsBase = new Path(s"$indexDir/terms.base.$batchId")
    val corpusBase = new Path(s"$indexDir/corpus.base.$batchId")
    val staging = new Path(s"$indexDir/staging/$batchId")
    if (IndexBuilder.completedSteps(spark, indexDir).contains(step)) {
      // completed batch replay: only garbage-collect leftover snapshots
      fs.delete(termsBase, true); fs.delete(corpusBase, true); fs.delete(staging, true)
      return
    }
    val t0 = System.nanoTime()

    // ---- replay cleanup: restore exact pre-batch state ------------------
    if (fs.exists(termsBase)) {
      fs.delete(new Path(s"$indexDir/terms"), true)
      fs.rename(termsBase, new Path(s"$indexDir/terms"))
    }
    if (fs.exists(corpusBase)) {
      fs.delete(new Path(s"$indexDir/corpus"), true)
      fs.rename(corpusBase, new Path(s"$indexDir/corpus"))
    }
    val tables = Seq("docs", "postings", "metrics")
    tables.foreach(t => IndexBuilder.deletePrefixed(fs, new Path(s"$indexDir/$t"), prefix))
    fs.delete(staging, true)

    val hasIndex = fs.exists(new Path(s"$indexDir/corpus"))
    val marker = new Path(s"$indexDir/layout-v${IndexBuilder.LayoutVersion}")
    if (hasIndex && !fs.exists(marker))
      throw new IllegalStateException(
        s"$indexDir has a stale index layout; rebuild before streaming appends")
    if (!fs.exists(marker)) { fs.mkdirs(new Path(indexDir)); fs.create(marker).close() }
    val (baseDoc, baseSeg) =
      if (!hasIndex) (0L, 0)
      else {
        // segments are dense 0..n-1 by construction (offline build, merge,
        // and this append all maintain it), so num_segments IS the next id —
        // no O(postings) max() scan per batch
        val c = spark.read.parquet(s"$indexDir/corpus").as[CorpusStats].head()
        (c.doc_count, c.num_segments)
      }

    // ---- stage docs: one segment per micro-batch ------------------------
    // (coalesce(1): a micro-batch is small by construction; a large backfill
    // arrives pre-partitioned and would map partitions->segments instead)
    batch.select($"conv_id", $"turn_idx", $"role", $"text", $"tool", $"ts")
      .coalesce(1).as[Turn]
      .mapPartitions { it =>
        var next = baseDoc
        it.map { t =>
          val d = DocRow(next, baseSeg, t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts)
          next += 1
          d
        }
      }
      .write.mode("overwrite").option("compression", IndexBuilder.Zstd).parquet(s"$staging/docs")

    // ---- stage postings with the build's segment writer (batch-sized read)
    IndexBuilder.writeSegments(spark, s"$staging/docs", s"$staging/postings", analyzer,
      baseSeg, baseSeg + 1)

    // ---- batch delta stats (O(batch); materialized BEFORE promote moves
    // the staged files away) -----------------------------------------------
    val stagedPostings = spark.read.parquet(s"$staging/postings")
    stagedPostings.where($"term" =!= "")
      .select($"term", $"doc_count".cast("long").as("df"), $"ttf")
      .write.mode("overwrite").parquet(s"$staging/delta")
    // the appended segment's metrics row, which also carries the batch
    // totals for corpus/; an empty batch still gets a zero row, so the
    // segment stays visible to MergePolicy's planning
    val ts = new Timestamp(System.currentTimeMillis())
    val metrics = IndexBuilder.segmentMetrics(stagedPostings, ts).collect().headOption
      .getOrElse(MetricsRow(baseSeg, 0L, 0L, 0L, 0L, ts))
    Seq(metrics).toDS().coalesce(1).write.mode("overwrite").parquet(s"$staging/metrics")

    // ---- promote staged files under deterministic names -----------------
    tables.foreach { t =>
      IndexBuilder.promote(fs, new Path(s"$staging/$t"), new Path(s"$indexDir/$t"), prefix)
    }

    // ---- incremental stats merge: old terms + delta (O(vocab), not
    // O(index) — the r1 version re-aggregated ALL postings per batch) -----
    val delta = spark.read.parquet(s"$staging/delta")
    if (hasIndex) fs.rename(new Path(s"$indexDir/terms"), termsBase)
    val merged =
      if (hasIndex) spark.read.parquet(termsBase.toString).unionByName(delta)
      else delta
    merged.groupBy($"term")
      .agg(sum($"df").as("df"), sum($"ttf").as("ttf"))
      .as[TermStats]
      .sortWithinPartitions($"term")
      .write.mode("overwrite").parquet(s"$indexDir/terms")

    if (hasIndex) fs.rename(new Path(s"$indexDir/corpus"), corpusBase)
    val prior =
      if (hasIndex) spark.read.parquet(corpusBase.toString).as[CorpusStats].head()
      else CorpusStats(0L, 0L, 0)
    Seq(CorpusStats(prior.doc_count + metrics.n_docs, prior.sum_dl + metrics.sum_dl, baseSeg + 1))
      .toDS().write.mode("overwrite").parquet(s"$indexDir/corpus")

    // ---- commit ----------------------------------------------------------
    Seq(LineageRow(step, baseSeg, baseSeg + 1, prior.doc_count + metrics.n_docs, 0L,
      (System.nanoTime() - t0) / 1000000, new Timestamp(System.currentTimeMillis())))
      .toDS().write.mode("append").parquet(s"$indexDir/lineage")
    fs.delete(termsBase, true)
    fs.delete(corpusBase, true)
    fs.delete(staging, true)
  }

  /** Continuous indexing query: transcript stream -> index appends with
    * checkpointed exactly-once batches (TopicStream/DaemonStream analogue,
    * `solrj-streaming .../io/stream/TopicStream.java:75-103`,
    * `DaemonStream.java:304-367`). */
  def indexStream(stream: DataFrame, indexDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("3 seconds")): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, id: Long) =>
        appendBatch(df.sparkSession, df, indexDir, id)
      }
}
