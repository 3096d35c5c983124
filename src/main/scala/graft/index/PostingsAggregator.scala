package graft.index

import graft.codec.PostingsCodec

/** Mutable accumulation buffer for one (segment, term) posting list,
  * filled by one task's in-partition build pass.
  *
  * Positions are stored FLAT: entry i owns the next tfs(i) values of `pos`,
  * in entry order. One primitive array per term instead of one small
  * Array[Int] per posting entry — with ~10^7 posting entries per segment
  * task, the per-entry layout put ~10^8 tiny live objects on the heap at
  * local[16] and drove G1 into 3-18s evacuation pauses (measured 813s GC vs
  * 689s CPU on the postings stage); flat storage removes the object count
  * entirely. Either every entry of a buf carries positions or none does
  * (the norms sidecar and the field terms carry none). */
final class PostingsBuf(
    var docs: Array[Long],
    var tfs: Array[Int],
    var norms: Array[Byte],
    var pos: Array[Int], // flat concatenated positions (posN valid ints)
    var posN: Int,
    var size: Int,
    var sorted: Boolean,
    var isLenRow: Boolean,
    var hasPos: Boolean) {

  def this() = this(new Array[Long](8), new Array[Int](8), new Array[Byte](8),
    new Array[Int](0), 0, 0, true, false, false)

  def add(doc: Long, tf: Int, norm: Byte): Unit = {
    require(!hasPos, "mixing position-less entries into a positional buf")
    if (size == docs.length) grow(size * 2)
    if (sorted && size > 0 && docs(size - 1) > doc) sorted = false
    docs(size) = doc; tfs(size) = tf; norms(size) = norm
    size += 1
  }

  /** Append ONE token occurrence: if `doc` is already the last entry, bump
    * its tf and append the position; otherwise open a new entry. The
    * segment writer ([[IndexBuilder.writeSegments]]) feeds each doc's
    * occurrences consecutively in ascending position order, so each entry
    * ends up with tf = its position count and its positions in order — with
    * no per-(doc, term) scratch buffer (~10 per doc; the allocation-rate
    * driver of the postings stage's GC share at 16 slots). */
  def addOcc(doc: Long, norm: Byte, position: Int): Unit = {
    require(size == 0 || hasPos, "mixing positional entries into a position-less buf")
    hasPos = true
    if (size > 0 && docs(size - 1) == doc) tfs(size - 1) += 1
    else {
      if (size == docs.length) grow(size * 2)
      if (sorted && size > 0 && docs(size - 1) > doc) sorted = false
      docs(size) = doc; tfs(size) = 1; norms(size) = norm
      size += 1
    }
    if (posN == pos.length)
      pos = java.util.Arrays.copyOf(pos, math.max(16, pos.length * 2))
    pos(posN) = position
    posN += 1
  }

  private def grow(cap: Int): Unit = {
    docs = java.util.Arrays.copyOf(docs, cap)
    tfs = java.util.Arrays.copyOf(tfs, cap)
    norms = java.util.Arrays.copyOf(norms, cap)
  }

  /** Sort by docId if entries arrived out of order (argsort, stable). */
  def ensureSorted(): Unit = {
    if (!sorted) {
      val idx = Array.range(0, size).sortBy(docs(_))
      val d = new Array[Long](size); val t = new Array[Int](size)
      val n = new Array[Byte](size)
      // per-entry offsets into the flat positions (prefix sums of tfs)
      val off = if (hasPos) new Array[Int](size) else null
      if (hasPos) {
        var acc = 0
        var i = 0
        while (i < size) { off(i) = acc; acc += tfs(i); i += 1 }
      }
      val p = if (hasPos) new Array[Int](posN) else pos
      var pn = 0
      var i = 0
      while (i < size) {
        val j = idx(i); d(i) = docs(j); t(i) = tfs(j); n(i) = norms(j)
        if (hasPos) {
          System.arraycopy(pos, off(j), p, pn, tfs(j))
          pn += tfs(j)
        }
        i += 1
      }
      docs = d; tfs = t; norms = n; pos = p; sorted = true
    }
  }
}

/** Flushes a filled [[PostingsBuf]] as one compressed posting list — the
  * Spark-native rendering of Lucene's in-RAM postings build + flush
  * (SURVEY.md §7.2). The one segment writer ([[IndexBuilder.writeSegments]],
  * run by both the batch build and the streaming append) builds each
  * (segment, term) list inside one task; because a segment IS a Spark
  * partition of the doc table, a hot term's posting list is bounded by
  * segment size and no global per-term reduce ever materializes a
  * 10^12-entry list. */
object PostingsAggregator {

  /** The buffer as a PostingRow; term/segment_id are left for the caller
    * to fill (`withKey`). */
  def finish(b: PostingsBuf): PostingRow = {
    b.ensureSorted()
    val docs = java.util.Arrays.copyOf(b.docs, b.size)
    val tfs = java.util.Arrays.copyOf(b.tfs, b.size)
    val norms = java.util.Arrays.copyOf(b.norms, b.size)
    var ttf = 0L
    var i = 0
    while (i < b.size) { ttf += tfs(i); i += 1 }
    val firstDoc = if (b.size > 0) docs(0) else -1L
    if (b.isLenRow)
      PostingRow("", -1, b.size, ttf, firstDoc, Array.empty, norms)
    else
      PostingRow("", -1, b.size, ttf, firstDoc,
        PostingsCodec.encodeFlat(docs, tfs, norms, if (b.hasPos) b.pos else null), null)
  }
}
