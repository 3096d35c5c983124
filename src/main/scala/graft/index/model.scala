package graft.index

import java.sql.Timestamp
import graft.codec.Block

/** One transcript turn — the engine's input row (BASELINE.json input_hint). */
case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String, // nullable
    ts: Timestamp)

/** Stored-fields row: a turn plus its dense docId and owning segment.
  * docIds are assigned by global rank under stable (conv_id, turn_idx)
  * ordering (SURVEY.md §1.5); a segment is one docId-contiguous partition —
  * the Spark rendering of a Lucene segment
  * (`solr/core/src/java/org/apache/solr/update/SolrIndexWriter.java:57-155`). */
case class DocRow(
    doc_id: Long,
    segment_id: Int,
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp)

/** Per-segment norms sidecar view (extracted from term=="" PostingRows):
  * `norms(i)` is the SmallFloat-quantized length of doc `first_doc + i`
  * (docIds are dense within a segment) — Lucene's per-segment norms file. */
case class SegmentNorms(
    segment_id: Int,
    first_doc: Long,
    num_docs: Int,
    norms: Array[Byte])

/** One term's block-compressed postings within one segment.
  *
  * Rows with `term == ""` are the per-segment norms sidecar produced by the
  * same aggregation pass: `norms(i)` is the quantized length of doc
  * `first_doc + i` (dense docIds), `ttf` is the segment's raw dl sum, and
  * `blocks` is empty. For real terms `norms` is null. */
case class PostingRow(
    term: String,
    segment_id: Int,
    doc_count: Int,
    ttf: Long,
    first_doc: Long,
    blocks: Array[Block],
    norms: Array[Byte]) {
  def withKey(seg: Int, t: String): PostingRow = copy(term = t, segment_id = seg)
}

/** Global per-term statistics (exact across the whole index — the analogue
  * of ExactStatsCache, `solr/core/src/java/org/apache/solr/search/stats/ExactStatsCache.java:52-61`,
  * stricter than Solr's per-shard LocalStatsCache default). */
case class TermStats(term: String, df: Long, ttf: Long)

/** Corpus-level stats for BM25: avgdl = sum_dl / doc_count (raw lengths). */
case class CorpusStats(doc_count: Long, sum_dl: Long, num_segments: Int)

/** Resume bookkeeping: one row per completed build step
  * (the tlog-replay analogue — `solr/core/src/java/org/apache/solr/update/UpdateLog.java:1401-1443`;
  * here: idempotent re-run skips steps already marked done). */
case class LineageRow(
    step: String, // "docs" | "batch-<i>" | "stats"
    segment_lo: Int,
    segment_hi: Int,
    n_docs: Long,
    n_postings: Long,
    wall_ms: Long,
    finished_ts: Timestamp)

/** Per-partition (= per-segment) build metrics, written with the stats
  * step off the same postings scan (north rule: "per-partition lineage and
  * metrics tables"). One row per non-empty segment: document count, token
  * sum, distinct term count, and total posting entries — the operational
  * surface for skew inspection (a segment whose n_postings or sum_dl is an
  * outlier is the salting/repartition trigger) and for audit against the
  * corpus stats row (sums must match exactly; pinned by EngineSpec). */
case class MetricsRow(
    segment_id: Int,
    n_docs: Long,
    sum_dl: Long,
    n_terms: Long,
    n_postings: Long,
    finished_ts: Timestamp)

/** One sampled sort key of the sketch pass: murmur3 hash + the key. */
case class SketchKey(h: Int, conv_id: String, turn_idx: Int)

/** Per-split key statistics from the sorted-input detection pass: first/last
  * (conv_id, turn_idx) key, row count, and whether the split's rows arrived
  * strictly ascending in UTF8-binary key order. */
case class SplitStat(
    pid: Int,
    n: Long,
    firstConv: String,
    firstTurn: Int,
    lastConv: String,
    lastTurn: Int,
    sorted: Boolean)

/** Per-partition result of the fused count+sample sketch pass. */
case class PartitionSketch(n: Long, keys: Array[SketchKey])

/** Pass-B row of the docId assignment: a turn plus its cut-range segment. */
case class SegTurn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: java.sql.Timestamp,
    seg: Int)
