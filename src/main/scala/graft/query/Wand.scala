package graft.query

import graft.codec.{Block, PostingsCodec}
import graft.index.PostingRow

/** Doc-at-a-time scorer interface consumed by [[Wand]]: a single term's
  * postings ([[PostingCursor]]), a positional phrase ([[PhraseCursor]]),
  * or a sorted docId array ([[DocArrayCursor]]). */
trait Cursor {
  def doc: Long
  def advanceTo(target: Long): Long
  def next(): Long
  def score(norm: Byte): Float
  def maxScore: Float
  def shallowTo(target: Long): Unit
  def blockMaxScore: Float
  def blockLastDoc: Long
  def queryPos: Int
}

/** A doc-at-a-time cursor over one term's block-compressed postings in one
  * segment, with block-granular skipping (last_doc skip data) and lazy block
  * decode — the role of Lucene's ImpactsEnum in the reference's WAND path
  * (collector wiring `solr/core/src/java/org/apache/solr/search/SolrIndexSearcher.java:1894-1913`).
  *
  * @param queryPos position of this term in the query (fixes the float32
  *                 accumulation order for bit-exact scores, SURVEY.md §4.2)
  * @param fixedC   when not NaN, overrides the norm-cache lookup with a
  *                 constant k1·(1−b+b·dl/avgdl) — single-token FIELD terms
  *                 (\u0002role:x / \u0002tool:y) have dl = avgdl = 1 regardless of the
  *                 doc's text length, so their c is the field's k1
  */
final class PostingCursor(
    blocks: Array[Block],
    val idf: Float,
    cache: Array[Float],
    val queryPos: Int,
    fixedC: Float = Float.NaN) extends Cursor {

  private def cOf(normByte: Byte): Float =
    if (fixedC == fixedC) fixedC // non-NaN
    else cache(java.lang.Byte.toUnsignedInt(normByte))

  /** Global upper bound of this term's score anywhere in the segment. */
  val maxScore: Float = {
    var m = 0f
    var i = 0
    while (i < blocks.length) {
      val b = blocks(i)
      val s = idf * (b.max_tf / (b.max_tf + cOf(b.min_norm)))
      if (s > m) m = s
      i += 1
    }
    m
  }

  /** Max term frequency anywhere in the segment (phrase freq upper bound). */
  val maxTf: Int = {
    var m = 0
    var i = 0
    while (i < blocks.length) { if (blocks(i).max_tf > m) m = blocks(i).max_tf; i += 1 }
    m
  }

  private var bi = 0            // current block index
  private var decoded = false   // is block `bi` decoded?
  private var pos = 0           // position within decoded block
  private val docsBuf = new Array[Long](PostingsCodec.BlockSize)
  private val tfsBuf = new Array[Int](PostingsCodec.BlockSize)
  private var posBuf: Array[Array[Int]] = null // lazily decoded positions

  /** Current docId; Long.MaxValue once exhausted. */
  var doc: Long = if (blocks.isEmpty) Long.MaxValue else {
    decodeCurrent(); docsBuf(0)
  }

  private def decodeCurrent(): Unit = {
    PostingsCodec.decodeBlock(blocks(bi), docsBuf, tfsBuf, 0)
    decoded = true
    posBuf = null
    pos = 0
  }

  def tf: Int = tfsBuf(pos)

  def blockMaxTf: Int = blocks(bi).max_tf

  /** Token positions of the CURRENT posting (requires a positional index). */
  def positions(): Array[Int] = {
    if (posBuf == null) posBuf = PostingsCodec.decodePositions(blocks(bi))
    if (posBuf.isEmpty) Array.empty else posBuf(pos)
  }

  def score(normByte: Byte): Float =
    idf * (tfsBuf(pos) / (tfsBuf(pos) + cOf(normByte)))

  /** Upper bound of any score in the block that covers (or first follows)
    * `target`, plus that block's last doc — WITHOUT decoding. Advances the
    * shallow block pointer forward only (never past current position). */
  def shallowTo(target: Long): Unit = {
    while (bi < blocks.length - 1 && blocks(bi).last_doc < target) {
      bi += 1
      decoded = false
    }
  }

  def blockMaxScore: Float = {
    val b = blocks(bi)
    idf * (b.max_tf / (b.max_tf + cOf(b.min_norm)))
  }

  def blockLastDoc: Long = blocks(bi).last_doc

  /** Advance to the first posting with docId >= target. */
  def advanceTo(target: Long): Long = {
    if (doc >= target) return doc
    shallowTo(target)
    if (blocks(bi).last_doc < target) { // ran off the end
      doc = Long.MaxValue
      return doc
    }
    if (!decoded) decodeCurrent()
    // linear scan inside the (<=128-entry) block
    var p = pos
    val n = blocks(bi).count
    while (p < n && docsBuf(p) < target) p += 1
    if (p == n) {
      // target falls in a gap just past this block: move to next block head
      bi += 1
      if (bi == blocks.length) { doc = Long.MaxValue; return doc }
      decodeCurrent()
      p = 0
    }
    pos = p
    doc = docsBuf(pos)
    doc
  }

  def next(): Long = {
    if (doc == Long.MaxValue) return doc
    if (pos + 1 < blocks(bi).count) {
      pos += 1
      doc = docsBuf(pos)
    } else {
      bi += 1
      if (bi == blocks.length) doc = Long.MaxValue
      else { decodeCurrent(); doc = docsBuf(0) }
    }
    doc
  }
}

/** Phrase scorer: leapfrog conjunction of the member terms' cursors plus
  * position verification; BM25-scored with freq = number of phrase
  * occurrences and idf = sum of member idfs — the reference's
  * PhraseQuery-under-BM25 semantics
  * (`solr/core/src/java/org/apache/solr/parser/SolrQueryParserBase.java:140,355-362`
  * builds the PhraseQuery; Lucene scores it like a term with phraseFreq).
  *
  * Slop 0 = exact adjacency (the fast path, bit-identical to r2). Slop k
  * matches an ordered greedy chain: member i's position q_i is the SMALLEST
  * position with q_{i-1} < q_i <= q_{i-1} + 1 + k; freq = count of start
  * positions completing a chain. Deterministic, slop-0-reduces-to-exact
  * (documented divergence from Lucene's 1/(1+matchLength) weighting).
  *
  * @param ts  member term cursors in PHRASE order (position i must carry
  *            the term at offset i)
  * @param idf sum of member idfs (float, accumulated in phrase order)
  */
final class PhraseCursor(
    ts: Array[PostingCursor],
    val idf: Float,
    cache: Array[Float],
    val queryPos: Int,
    slop: Int = 0) extends Cursor {

  private val cmin: Float = {
    var m = Float.MaxValue
    var i = 0
    while (i < cache.length) { if (cache(i) < m) m = cache(i); i += 1 }
    m
  }
  private def bound(tfUB: Int): Float = idf * (tfUB / (tfUB + cmin))

  /** Safe global bound: slop 0 ⇒ freq <= min member tf (each occurrence
    * consumes one position of EVERY member); slop > 0 ⇒ only freq <= tf of
    * the FIRST member is safe (greedy chains may share later members'
    * positions across different starts). */
  val maxScore: Float = {
    var m = Int.MaxValue
    if (slop == 0) ts.foreach(t => if (t.maxTf < m) m = t.maxTf)
    else m = ts(0).maxTf
    bound(m)
  }

  var doc: Long = -1L
  var freq: Int = 0

  advanceTo(0L) // position on the first match (or exhaust)

  def score(norm: Byte): Float =
    idf * (freq / (freq + cache(java.lang.Byte.toUnsignedInt(norm))))

  def shallowTo(target: Long): Unit = ts.foreach(_.shallowTo(target))

  def blockMaxScore: Float = {
    var m = Int.MaxValue
    if (slop == 0) ts.foreach(t => if (t.blockMaxTf < m) m = t.blockMaxTf)
    else m = ts(0).blockMaxTf
    bound(m)
  }

  def blockLastDoc: Long = {
    var m = Long.MaxValue
    ts.foreach(t => if (t.blockLastDoc < m) m = t.blockLastDoc)
    m
  }

  /** Count of start positions completing an ordered chain: slop 0 checks
    * p+i membership directly (fast path); slop k advances each member to
    * the smallest position in (prev, prev + 1 + k]. */
  private def phraseFreq(): Int = {
    val p0 = ts(0).positions()
    var f = 0
    var k = 0
    while (k < p0.length) {
      val p = p0(k)
      var i = 1
      var ok = true
      if (slop == 0) {
        while (ok && i < ts.length) {
          if (java.util.Arrays.binarySearch(ts(i).positions(), p + i) < 0) ok = false
          i += 1
        }
      } else {
        var prev = p
        while (ok && i < ts.length) {
          val ps = ts(i).positions()
          var idx = java.util.Arrays.binarySearch(ps, prev + 1)
          if (idx < 0) idx = -idx - 1
          if (idx < ps.length && ps(idx) <= prev + 1 + slop) { prev = ps(idx); i += 1 }
          else ok = false
        }
      }
      if (ok) f += 1
      k += 1
    }
    f
  }

  def advanceTo(target: Long): Long = {
    if (doc >= target) return doc
    var cand = target
    while (true) {
      // leapfrog the member cursors to a common doc >= cand
      var maxd = cand
      var agreed = true
      var i = 0
      while (i < ts.length) {
        val d = if (ts(i).doc < maxd) ts(i).advanceTo(maxd) else ts(i).doc
        if (d == Long.MaxValue) { doc = Long.MaxValue; return doc }
        if (d > maxd) { maxd = d; agreed = false }
        i += 1
      }
      if (!agreed) cand = maxd
      else {
        val f = phraseFreq()
        if (f > 0) { doc = cand; freq = f; return doc }
        cand += 1
      }
    }
    Long.MaxValue // unreachable
  }

  def next(): Long = {
    if (doc == Long.MaxValue) return doc
    val t = doc + 1
    doc = -1L // invalidate so advanceTo really advances
    advanceTo(t)
  }
}

/** Grouped disjunction `+(a b ...)` as a single MUST clause: matches when
  * any member matches; every matching member contributes score, summed in
  * member (query) order — Lucene's nested BooleanQuery-as-clause shape.
  * Members are any cursors: term postings or phrase members (`+(a "b c")`,
  * multi-token synonyms of a MUST term). */
final class DisjunctionCursor(
    members: Array[Cursor],
    val queryPos: Int) extends Cursor {

  val maxScore: Float = {
    var s = 0f
    members.foreach(s += _.maxScore)
    s
  }

  var doc: Long = {
    var m = Long.MaxValue
    members.foreach(c => if (c.doc < m) m = c.doc)
    m
  }

  def score(norm: Byte): Float = {
    var acc = 0f
    var i = 0
    while (i < members.length) {
      if (members(i).doc == doc) acc += members(i).score(norm)
      i += 1
    }
    acc
  }

  def shallowTo(target: Long): Unit = members.foreach(_.shallowTo(target))

  def blockMaxScore: Float = {
    var s = 0f
    members.foreach(s += _.blockMaxScore)
    s
  }

  def blockLastDoc: Long = {
    var m = Long.MaxValue
    members.foreach(c => if (c.blockLastDoc < m) m = c.blockLastDoc)
    m
  }

  def advanceTo(target: Long): Long = {
    if (doc >= target) return doc
    var m = Long.MaxValue
    var i = 0
    while (i < members.length) {
      val d = if (members(i).doc < target) members(i).advanceTo(target) else members(i).doc
      if (d < m) m = d
      i += 1
    }
    doc = m
    doc
  }

  def next(): Long = {
    if (doc == Long.MaxValue) return doc
    var m = Long.MaxValue
    var i = 0
    while (i < members.length) {
      val d = if (members(i).doc == doc) members(i).next() else members(i).doc
      if (d < m) m = d
      i += 1
    }
    doc = m
    doc
  }
}

/** SHOULD- / MUST_NOT-level conjunction group `x OR (a AND b)` as ONE
  * clause: matches only where EVERY member matches (leapfrog alignment, the
  * PhraseCursor doc loop without position verification), scoring the sum of
  * member scores in member (query) order — Lucene's nested BooleanQuery of
  * MUST clauses sitting in an outer SHOULD/MUST_NOT slot. maxScore = sum of
  * member bounds (safe: the conj score is the sum at a shared doc).
  * Members are any cursors: term postings or exact-phrase members
  * (`x OR (a AND "b c")`). */
final class ConjunctionCursor(
    members: Array[Cursor],
    val queryPos: Int) extends Cursor {

  val maxScore: Float = {
    var s = 0f
    members.foreach(s += _.maxScore)
    s
  }

  var doc: Long = -1L

  private def align(target0: Long): Long = {
    var target = target0
    var aligned = false
    while (!aligned) {
      var max = target
      var i = 0
      while (i < members.length) {
        val d = if (members(i).doc < target) members(i).advanceTo(target) else members(i).doc
        if (d == Long.MaxValue) { doc = Long.MaxValue; return doc }
        if (d > max) max = d
        i += 1
      }
      aligned = true
      var j = 0
      while (j < members.length) {
        if (members(j).doc != max) aligned = false
        j += 1
      }
      target = max
      if (aligned) doc = max
    }
    doc
  }

  align(0L) // position on the first aligned doc (or exhaust)

  def score(norm: Byte): Float = {
    var acc = 0f
    var i = 0
    while (i < members.length) { acc += members(i).score(norm); i += 1 }
    acc
  }

  def shallowTo(target: Long): Unit = members.foreach(_.shallowTo(target))

  def blockMaxScore: Float = {
    var s = 0f
    members.foreach(s += _.blockMaxScore)
    s
  }

  def blockLastDoc: Long = {
    var m = Long.MaxValue
    members.foreach(c => if (c.blockLastDoc < m) m = c.blockLastDoc)
    m
  }

  def advanceTo(target: Long): Long =
    if (doc >= target) doc else align(target)

  def next(): Long =
    if (doc == Long.MaxValue) doc else align(doc + 1)
}

/** A non-scoring cursor over a sorted docId array: the filter clauses
  * postings cannot answer (`conv_id`, which has no postings, and a value
  * set holding the empty string, which the writers never index) — see
  * Searcher.prepare. */
final class DocArrayCursor(docs: Array[Long]) extends Cursor {
  private var i = 0
  var doc: Long = if (docs.isEmpty) Long.MaxValue else docs(0)

  def advanceTo(target: Long): Long = {
    if (doc >= target) return doc
    i = java.util.Arrays.binarySearch(docs, i, docs.length, target)
    if (i < 0) i = -i - 1
    doc = if (i < docs.length) docs(i) else Long.MaxValue
    doc
  }

  def next(): Long = if (doc == Long.MaxValue) doc else advanceTo(doc + 1)

  def score(norm: Byte): Float = 0f
  val maxScore: Float = 0f
  def shallowTo(target: Long): Unit = ()
  def blockMaxScore: Float = 0f
  def blockLastDoc: Long = Long.MaxValue
  val queryPos: Int = 0
}

final case class Hit(doc_id: Long, score: Float)

/** Bounded top-k heap ordered worst-first by (score asc, docId desc) so the
  * root is the current k-th hit; ties broken by ascending docId exactly like
  * a single Lucene index (SURVEY.md §7.3 item 5 — deterministic, strictly
  * stronger than Solr's shard-name tie-break,
  * `solr/core/src/java/org/apache/solr/handler/component/ShardFieldSortedHitQueue.java:82-107`).
  *
  * An (afterScore, afterDoc) cursor (non-NaN afterScore) makes this a
  * searchAfter collector (Lucene PagingTopScoreDocCollector /
  * `solr/core/src/java/org/apache/solr/search/CursorMark.java:46-63`): hits
  * at or before the cursor in (score desc, docId asc) rank order are
  * rejected before entering the heap, so page n+1 costs the same heap as
  * page 1 instead of an offset-sized one. */
final class TopK(k: Int, afterScore: Float = Float.NaN, afterDoc: Long = -1L) {
  private val hasAfter = !afterScore.isNaN
  private val heap = new java.util.PriorityQueue[Hit](
    math.max(1, k),
    (a: Hit, b: Hit) =>
      if (a.score != b.score) java.lang.Float.compare(a.score, b.score)
      else java.lang.Long.compare(b.doc_id, a.doc_id))

  def threshold: Float =
    if (heap.size < k) Float.NegativeInfinity else heap.peek().score

  def insert(doc: Long, score: Float): Unit = {
    if (hasAfter && (score > afterScore || (score == afterScore && doc <= afterDoc)))
      return // at or before the page cursor in rank order
    if (heap.size < k) heap.add(Hit(doc, score))
    else {
      val w = heap.peek()
      if (score > w.score || (score == w.score && doc < w.doc_id)) {
        heap.poll()
        heap.add(Hit(doc, score))
      }
    }
  }

  def results: Array[Hit] = {
    val a = new Array[Hit](heap.size)
    var i = 0
    val it = heap.iterator()
    while (it.hasNext) { a(i) = it.next(); i += 1 }
    a
  }
}

/** Per-segment scoring: block-max WAND for disjunctions, leapfrog
  * intersection for conjunctions, both with optional NOT cursors and
  * optional filter cursors — the fq clauses, run like Lucene's uncached
  * `Occur.FILTER` clause (`solr/core/src/java/org/apache/solr/search/SolrIndexSearcher.java:1207,1242-1250`):
  * a candidate doc must sit on every filter cursor, and filters never
  * score, so the score sums and the plan choice are the unfiltered ones. */
object Wand {

  /** Score one segment: its top-k hits plus its scored-doc count — the numFound /
    * minExactCount surface (`solr/core/src/java/org/apache/solr/search/QueryCommand.java:43`,
    * QueryComponent.java:448-452): with `prune = false` WAND pruning is off,
    * every doc matching the boolean+filter semantics is scored, and the
    * count is the segment's EXACT hit count; with `prune = true` the count
    * is the number of docs actually scored — a lower bound, which is the
    * trade minExactCount buys (Lucene's GREATER_THAN_OR_EQUAL_TO relation).
    * Conjunctions evaluate their full match set either way, so their count
    * is always exact (modulo docBudget).
    *
    * @param should    SHOULD cursors (query order); empty if pure conjunction
    * @param must      MUST cursors (query order); empty if pure disjunction
    * @param mustNot   cursors whose docs are excluded
    * @param norms     segment norms blob, indexed by (doc - firstDoc)
    * @param filters   non-scoring cursors a doc must match, all of them
    *                   (positive fq clauses); empty = unfiltered
    * @param docBudget max docs SCORED in this segment before terminating
    *                   early with the best-so-far — the deterministic
    *                   rendering of the reference's query limits
    *                   (EarlyTerminatingCollector.java's collected-doc
    *                   budget; QueryLimits.java / timeAllowed is the
    *                   wall-clock variant, non-deterministic by nature)
    * @param deadlineNs absolute System.nanoTime() deadline — the wall-clock
    *                   `timeAllowed` limit (search/TimeAllowedLimit.java):
    *                   scoring stops with best-so-far once the clock passes
    *                   it; Long.MaxValue = unlimited (never reads the clock
    *                   on the fast path). Non-deterministic by nature, like
    *                   the reference's partialResults responses.
    * @param afterScore with afterDoc, the searchAfter cursor (CursorMark.java:
    *                   46-63): only hits STRICTLY after (afterScore desc,
    *                   afterDoc asc) in rank order enter the heap — deep
    *                   paging without a growing offset. NaN = no cursor.
    *                   The scored-doc counter is cursor-independent
    *                   (numFound does not change while paging). */
  def scoreSegmentCounted(
      should: Array[Cursor],
      must: Array[Cursor],
      mustNot: Array[Cursor],
      norms: Array[Byte],
      firstDoc: Long,
      filters: Array[Cursor],
      k: Int,
      docBudget: Int = Int.MaxValue,
      prune: Boolean = true,
      deadlineNs: Long = Long.MaxValue,
      afterScore: Float = Float.NaN,
      afterDoc: Long = -1L): (Array[Hit], Long) = {
    val top = new TopK(k, afterScore, afterDoc)
    val budget = new Budget(docBudget, deadlineNs)
    val counter = new Counter
    if (must.nonEmpty) conjunction(must, should, mustNot, norms, firstDoc, filters, top, budget, counter)
    else if (should.nonEmpty) bmw(should, mustNot, norms, firstDoc, filters, top, budget, counter, prune)
    (top.results, counter.n)
  }

  /** Enumerate every docId matching the boolean + filter semantics — the
    * DocSet of a query (SolrIndexSearcher.getDocSet), which the facet /
    * stats / grouping components consume. No scoring, no heap: a cursor
    * walk identical in match semantics to scoreSegmentCounted with
    * prune=false (EngineSpec pins count equality). */
  def enumerateMatches(
      should: Array[Cursor],
      must: Array[Cursor],
      mustNot: Array[Cursor],
      filters: Array[Cursor]): Iterator[Long] = {
    // materialized per segment, like the reference's DocSet (a RoaringBitmap
    // over doc-first would be the compressed variant; plain longs keep the
    // downstream join typed)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    if (must.nonEmpty) {
      var target = must.map(_.doc).max
      var done = false
      while (!done && target != Long.MaxValue) {
        var agreed = true
        var i = 0
        while (i < must.length) {
          val d = must(i).advanceTo(target)
          if (d != target) { agreed = false; target = d; i = must.length }
          else i += 1
        }
        if (agreed) {
          if (allowed(target, filters, mustNot)) out += target
          target += 1
        }
        if (target == Long.MaxValue) done = true
      }
    } else if (should.nonEmpty) {
      val dis = new DisjunctionView(should)
      var d = dis.doc
      while (d != Long.MaxValue) {
        if (allowed(d, filters, mustNot)) out += d
        d = dis.next()
      }
    }
    out.iterator
  }

  /** Minimal min-doc disjunction walker over arbitrary cursors. */
  private final class DisjunctionView(members: Array[Cursor]) {
    def doc: Long = {
      var m = Long.MaxValue
      members.foreach(c => if (c.doc < m) m = c.doc)
      m
    }
    def next(): Long = {
      val d = doc
      if (d == Long.MaxValue) return d
      members.foreach(c => if (c.doc == d) c.next())
      doc
    }
  }

  private final class Budget(var left: Int, deadlineNs: Long = Long.MaxValue) {
    def spend(): Boolean = {
      left -= 1
      left >= 0 &&
        (deadlineNs == Long.MaxValue || System.nanoTime() < deadlineNs)
    }
  }

  private final class Counter { var n = 0L }

  /** edismax segment scorer: per query term, disjunction-max over that
    * term's per-FIELD cursors — score(term) = max + tie·(sum − max) over
    * the fields matching the doc, summed over terms in query order; a doc
    * qualifies when >= mm terms match in at least one field
    * (ExtendedDismaxQParser.java:392-445,994-1036 semantics: DisjunctionMax
    * over qf fields with tiebreaker, mm clause gate). Doc-at-a-time
    * exhaustive evaluation (no pruning — a dismax upper bound under mm is
    * not worth the complexity at typical 2-5 term queries); deterministic
    * float accumulation: fields in qf order inside a term, terms in query
    * order.
    *
    * @param terms terms(t) = field cursors of query term t, qf order
    */
  def scoreDisMax(
      terms: Array[Array[Cursor]],
      tie: Float,
      mm: Int,
      norms: Array[Byte],
      firstDoc: Long,
      k: Int): Array[Hit] = {
    val top = new TopK(k)
    while (true) {
      var d = Long.MaxValue
      var t = 0
      while (t < terms.length) {
        val fcs = terms(t)
        var f = 0
        while (f < fcs.length) {
          if (fcs(f).doc < d) d = fcs(f).doc
          f += 1
        }
        t += 1
      }
      if (d == Long.MaxValue) return top.results
      val norm = norms((d - firstDoc).toInt)
      var acc = 0f
      var matched = 0
      t = 0
      while (t < terms.length) {
        val fcs = terms(t)
        var mx = 0f
        var sum = 0f
        var any = false
        var f = 0
        while (f < fcs.length) {
          if (fcs(f).doc == d) {
            val s = fcs(f).score(norm)
            any = true
            sum += s
            if (s > mx) mx = s
          }
          f += 1
        }
        if (any) { matched += 1; acc += mx + tie * (sum - mx) }
        t += 1
      }
      if (matched >= mm) top.insert(d, acc)
      t = 0
      while (t < terms.length) {
        val fcs = terms(t)
        var f = 0
        while (f < fcs.length) {
          if (fcs(f).doc == d) fcs(f).next()
          f += 1
        }
        t += 1
      }
    }
    top.results // unreachable
  }

  /** True iff `doc` sits on every filter cursor and on no MUST_NOT cursor;
    * callers ask in ascending doc order, so each cursor only moves forward. */
  private def allowed(doc: Long, filters: Array[Cursor], mustNot: Array[Cursor]): Boolean = {
    var i = 0
    while (i < filters.length) {
      if (filters(i).doc < doc) filters(i).advanceTo(doc)
      if (filters(i).doc != doc) return false
      i += 1
    }
    i = 0
    while (i < mustNot.length) {
      if (mustNot(i).doc < doc) mustNot(i).advanceTo(doc)
      if (mustNot(i).doc == doc) return false
      i += 1
    }
    true
  }

  /** Float32 sum of matching cursors' scores in QUERY order (bit-exact). */
  private def scoreDoc(doc: Long, norm: Byte, cursors: Array[Cursor]): Float = {
    // cursors arrive sorted by queryPos; sum in that order
    var acc = 0f
    var i = 0
    while (i < cursors.length) {
      if (cursors(i).doc == doc) acc += cursors(i).score(norm)
      i += 1
    }
    acc
  }

  /** Block-max WAND over SHOULD terms (Ding & Suel 2011 shape; the
    * reference enables the Lucene equivalent when minExactCount permits —
    * `solr/core/src/java/org/apache/solr/search/QueryCommand.java:43`).
    * Pruning uses `sumUB < threshold` (not <=) so score-ties that could win
    * the docId tie-break are never pruned — safe for rank-identity. */
  private def bmw(
      should: Array[Cursor],
      mustNot: Array[Cursor],
      norms: Array[Byte],
      firstDoc: Long,
      filters: Array[Cursor],
      top: TopK,
      budget: Budget,
      counter: Counter,
      prune: Boolean = true): Unit = {
    val byQueryPos = should.sortBy(_.queryPos)
    val cursors = should.clone() // sorted by current doc below
    while (true) {
      java.util.Arrays.sort(cursors, (a: Cursor, b: Cursor) =>
        java.lang.Long.compare(a.doc, b.doc))
      if (cursors(0).doc == Long.MaxValue) return
      // prune = false: exact-count mode — the threshold never rises above
      // -Inf for PRUNING purposes, so every matching doc is scored/counted
      val theta = if (prune) top.threshold else Float.NegativeInfinity
      // pivot: first prefix whose global-max sum can reach the threshold
      var ub = 0f
      var p = 0
      var found = false
      while (p < cursors.length && !found) {
        if (cursors(p).doc == Long.MaxValue) { p = cursors.length }
        else {
          ub += cursors(p).maxScore
          if (ub >= theta) found = true else p += 1
        }
      }
      if (!found) return // even all terms together can't reach the threshold
      val pivot = cursors(p).doc
      // extend the pivot over ties: every cursor already at pivotDoc can
      // contribute to its score, so it must join the block-max bound
      while (p + 1 < cursors.length && cursors(p + 1).doc == pivot) p += 1
      // block-max refinement: tighter bound from the blocks covering pivot
      var bub = 0f
      var i = 0
      while (i <= p) {
        cursors(i).shallowTo(pivot)
        bub += cursors(i).blockMaxScore
        i += 1
      }
      if (bub < theta) {
        // no doc in [pivot, boundary] can qualify from cursors [0..p] alone;
        // cap the jump at the next cursor's doc — docs from there on can
        // match terms outside the prefix (Ding & Suel 2011, GetNewCandidate)
        var boundary = Long.MaxValue
        i = 0
        while (i <= p) {
          val bl = cursors(i).blockLastDoc
          if (bl < boundary) boundary = bl
          i += 1
        }
        val next = if (p + 1 < cursors.length) cursors(p + 1).doc else Long.MaxValue
        val jump = math.min(if (boundary == Long.MaxValue) boundary else boundary + 1, next)
        val target = math.max(pivot, jump)
        i = 0
        while (i <= p) {
          if (cursors(i).doc < target) cursors(i).advanceTo(target)
          i += 1
        }
      } else if (cursors(0).doc == pivot) {
        // all cursors [0..p] are at or before pivot; bring them to pivot
        i = 0
        while (i <= p) { if (cursors(i).doc < pivot) cursors(i).advanceTo(pivot); i += 1 }
        if (allowed(pivot, filters, mustNot)) {
          if (!budget.spend()) return // early termination: budget exhausted
          counter.n += 1
          val norm = norms((pivot - firstDoc).toInt)
          val s = scoreDoc(pivot, norm, byQueryPos)
          top.insert(pivot, s)
        }
        i = 0
        while (i < cursors.length) {
          if (cursors(i).doc == pivot) cursors(i).next()
          i += 1
        }
      } else {
        // advance the lagging cursors up to the pivot
        i = 0
        while (i < p) { if (cursors(i).doc < pivot) cursors(i).advanceTo(pivot); i += 1 }
      }
    }
  }

  /** Leapfrog intersection over MUST terms; SHOULD terms contribute score
    * when present on a matching doc (Lucene BooleanQuery semantics). */
  private def conjunction(
      must: Array[Cursor],
      should: Array[Cursor],
      mustNot: Array[Cursor],
      norms: Array[Byte],
      firstDoc: Long,
      filters: Array[Cursor],
      top: TopK,
      budget: Budget,
      counter: Counter): Unit = {
    val all = (must ++ should).sortBy(_.queryPos)
    var target = must.map(_.doc).max
    while (target != Long.MaxValue) {
      var agreed = true
      var i = 0
      while (i < must.length) {
        val d = must(i).advanceTo(target)
        if (d != target) { agreed = false; target = d; i = must.length }
        else i += 1
      }
      if (agreed) {
        if (allowed(target, filters, mustNot)) {
          if (!budget.spend()) return // early termination: budget exhausted
          counter.n += 1
          var j = 0
          while (j < should.length) {
            if (should(j).doc < target) should(j).advanceTo(target)
            j += 1
          }
          val norm = norms((target - firstDoc).toInt)
          top.insert(target, scoreDoc(target, norm, all))
        }
        target += 1
      }
      if (target == Long.MaxValue) return
    }
  }
}
