package graft.index

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Segment merging: the sort-merge posting-list union of the north rule —
  * the Spark rendering of Lucene's background segment merge
  * (`solr/core/src/java/org/apache/solr/update/SolrIndexWriter.java:57-155`,
  * TieredMergePolicy config `solr/core/src/java/org/apache/solr/core/SolrIndexConfig.java:66-107`).
  *
  * Because a segment owns a dense, contiguous docId range and segments are
  * ordered by first docId, merging K adjacent segments' posting lists for a
  * term is a concatenation of their (self-contained, absolute-first_doc)
  * blocks in segment order — the degenerate, allocation-free case of a
  * sort-merge union; no block is decoded. The norms sidecars concatenate the
  * same way. Stats (df/ttf per merged row) are sums.
  *
  * The merge is a pure Dataset transformation: group posting rows by
  * (mergedSegment, term), sort each group by first_doc, concatenate. The
  * shuffle moves compressed posting lists — the index itself, never raw
  * postings entries.
  */
object IndexMerger {

  /** Merge an index's segments down to `targetSegments`, writing a new
    * index directory. Postings AND docs are rewritten under the same
    * segment remap (docIds are untouched); terms carry over unchanged.
    *
    * Mapping: old segment s -> merged segment s * targetSegments / numOld
    * (adjacent ranges stay adjacent, so docId contiguity is preserved).
    */
  def mergeSegments(spark: SparkSession, indexDir: String, outDir: String,
      targetSegments: Int): Unit = {
    import spark.implicits._
    val numOld = spark.read.parquet(s"$indexDir/postings")
      .agg(max($"segment_id")).as[Int].head() + 1
    val target = math.max(1, math.min(targetSegments, numOld))
    // proportional remap: adjacent ranges stay adjacent
    applyMap(spark, indexDir, outDir, (s: Int) => (s.toLong * target / numOld).toInt, target)
  }

  /** Merge under an explicit old->new segment map. The map must be dense
    * (0..newCount-1), monotone non-decreasing in old id, and map only
    * ADJACENT old segments together — segments own contiguous docId ranges
    * in segment-id order, so only adjacent groups concatenate into a valid
    * segment (blocks and norms sidecars are stitched in docId order, never
    * decoded). [[MergePolicy]] produces such maps from the metrics table. */
  def applyMap(spark: SparkSession, indexDir: String, outDir: String,
      remap: Int => Int, newCount: Int): Unit = {
    import spark.implicits._
    val postings = spark.read.parquet(s"$indexDir/postings").as[PostingRow]
    val target = newCount

    val merged = postings
      .groupByKey(pr => (remap(pr.segment_id), pr.term))
      .mapGroups { (key, rows) =>
        val sorted = rows.toArray.sortBy(_.first_doc)
        concat(sorted).withKey(key._1, key._2)
      }
    merged
      .sortWithinPartitions($"term", $"segment_id")
      .write.mode("overwrite").option("compression", IndexBuilder.Zstd).parquet(s"$outDir/postings")

    // docs must carry the SAME segment remap as postings: streaming appends
    // allocate the next segment id as corpus.num_segments, so a doc left on
    // an old, larger id would collide with a later appended segment.
    spark.read.parquet(s"$indexDir/docs").as[DocRow]
      .map(d => d.copy(segment_id = remap(d.segment_id)))
      .write.mode("overwrite").option("compression", IndexBuilder.Zstd).parquet(s"$outDir/docs")

    // terms carry over unchanged (global stats are segment-invariant);
    // corpus records the new segment count
    spark.read.parquet(s"$indexDir/terms").write.mode("overwrite").parquet(s"$outDir/terms")

    // per-segment metrics recomputed from the MERGED postings by the
    // build's own aggregation. Summing the source metrics rows would
    // over-count n_terms: a term in several merged-away segments is one
    // vocabulary entry of the merged segment, not k.
    IndexBuilder.segmentMetrics(spark.read.parquet(s"$outDir/postings"),
      new java.sql.Timestamp(System.currentTimeMillis()))
      .write.mode("overwrite").parquet(s"$outDir/metrics")
    val c = spark.read.parquet(s"$indexDir/corpus").as[CorpusStats].head()
    Seq(c.copy(num_segments = target)).toDS()
      .write.mode("overwrite").parquet(s"$outDir/corpus")
    Seq(LineageRow("merge", 0, target, 0L, 0L, 0L,
      new java.sql.Timestamp(System.currentTimeMillis())))
      .toDS().write.mode("overwrite").parquet(s"$outDir/lineage")
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(
      s"$outDir/layout-v${IndexBuilder.LayoutVersion}")).close()
  }

  /** Sort-merge union of one term's rows from adjacent segments: block
    * lists and norms sidecars concatenate in docId order (blocks carry
    * absolute first/last docIds, so no re-encoding is needed); df/ttf sum. */
  private[index] def concat(rows: Array[PostingRow]): PostingRow = {
    if (rows.length == 1) rows(0)
    else {
      val docCount = rows.map(_.doc_count).sum
      val ttf = rows.map(_.ttf).sum
      val firstDoc = rows.head.first_doc
      if (rows.head.norms != null) { // norms sidecar rows
        val norms = new Array[Byte](docCount)
        var off = 0
        rows.foreach { r => System.arraycopy(r.norms, 0, norms, off, r.norms.length); off += r.norms.length }
        PostingRow("", -1, docCount, ttf, firstDoc, Array.empty, norms)
      } else {
        PostingRow("", -1, docCount, ttf, firstDoc, rows.flatMap(_.blocks), null)
      }
    }
  }
}
