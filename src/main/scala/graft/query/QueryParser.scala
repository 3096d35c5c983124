package graft.query

import graft.analysis.Analyzer

/** Parsed boolean keyword query, flattened to Lucene BooleanQuery clause
  * lists (the reference's default `lucene` parser grammar —
  * `solr/core/src/java/org/apache/solr/parser/QueryParser.jj`,
  * `solr/core/src/java/org/apache/solr/search/SolrQueryParserBase.java`):
  * bare terms are SHOULD, `+term` / `a AND b` are MUST, `-term` / `NOT term`
  * are MUST_NOT, `field:value` on non-text fields becomes a structured
  * filter (the fq path), `field:[a TO b]` a structured range filter,
  * quoted "a b" an exact phrase, `(a b)` a grouped disjunction, `term^2` a
  * boost, `term*` a prefix multi-term, `term~1` a fuzzy multi-term. Terms
  * pass through the query-time analyzer; a term the analyzer drops
  * (stopword) vanishes from the query, like the reference.
  *
  * Term lists preserve query order — scoring accumulates in this order.
  *
  * Duplicate clauses: a term that appears in several positive clauses is
  * scored ONCE (occur classes resolve must-wins; see Searcher.prepare) at
  * the SUM of its clause boosts. Because the BM25 score of each duplicate
  * clause is identical and linear in boost, sum-of-boosts × one score ==
  * Lucene's sum over the duplicate clauses exactly: `data data^2` scores
  * 3x here and (1+2)x in Lucene. The in-repo oracle reads the same
  * `boostOf`, so engine == oracle by construction. Residual divergence:
  * a term duplicated between a bare clause and a grouped disjunction
  * accumulates into the shared weight too (Lucene nests the group's).
  */

/** A phrase clause `"a b"~slop`: slop 0 = exact (terms at consecutive
  * positions); slop k allows each member to trail the previous match by up
  * to k extra positions, matched by an ordered greedy chain (a documented
  * deterministic rendering of Lucene's sloppy phrase — Lucene's
  * SloppyPhraseMatcher weights matches by 1/(1+matchLength); here freq is
  * the integer count of matching start positions, which slop-0 reduces to
  * exactly Lucene's exact-phrase freq). occur: 0 = MUST, 1 = SHOULD,
  * 2 = MUST_NOT. */
final case class Phrase(terms: Vector[String], occur: Int, slop: Int = 0)

/** A phrase member of a grouped clause — analyzed terms plus slop, so
  * `+(a "b c"~2)` keeps its proximity semantics inside the group (scored
  * by the same greedy-chain PhraseCursor as a top-level sloppy phrase). */
final case class GroupPhrase(terms: Vector[String], slop: Int = 0)

/** A MUST-grouped disjunction `+(a b ...)`: the doc must match at least one
  * member; matching members all contribute score (BooleanQuery nesting —
  * bare and negated groups flatten into should/mustNot instead). Members
  * may be terms or phrases (`+(a "b c")`, `+(a "b c"~2)`, and multi-token
  * synonyms of a MUST term): `phrases` holds each phrase member,
  * scored after the term members in member order. */
final case class Group(terms: Vector[String],
    phrases: Vector[GroupPhrase] = Vector.empty)

/** A SHOULD- or MUST_NOT-level conjunction group: `x OR (a AND b)` makes
  * `(a AND b)` one optional clause that matches (and contributes the sum of
  * its members' scores) only when EVERY member matches; `-(a AND b)`
  * excludes exactly the docs matching all members. occur: 1 = SHOULD,
  * 2 = MUST_NOT. (`+(a AND b)` still distributes to `+a +b` — equivalent.)
  * Members may be phrases (`x OR (a AND "b c")`): `phrases` holds each
  * phrase member, required and scored after the term members in member
  * order. */
final case class ConjGroup(terms: Vector[String], occur: Int,
    phrases: Vector[GroupPhrase] = Vector.empty)

/** A multi-term clause awaiting index-time expansion: kind 0 = prefix
  * (`body*`), kind 1 = fuzzy (`body~maxEdits`), kind 2 = general wildcard
  * (`body` is a glob with `*` = any run, `?` = any one char — leading /
  * infix stars and `?` included, SolrQueryParserBase getWildcardQuery).
  * Expanded by Searcher.expand against the term dictionary with Lucene's
  * SCORING_BOOLEAN_REWRITE semantics (each concrete term scores normally). */
final case class MultiTerm(kind: Int, body: String, maxEdits: Int, occur: Int, boost: Float)

/** A structured range filter `field:[lo TO hi]` (inclusive) or `{lo TO hi}`
  * (exclusive) on a non-text field; `negated` renders `-field:[lo TO hi]`
  * (exclude the range instead of requiring it). */
final case class RangeFilter(field: String, lo: String, hi: String,
    inclusive: Boolean, negated: Boolean = false)

final case class ParsedQuery(
    should: Vector[String],
    must: Vector[String],
    mustNot: Vector[String],
    filters: Vector[(String, String)], // (field, value) exact-match filters
    notFilters: Vector[(String, String)] = Vector.empty, // `-field:value` exclusions
    phrases: Vector[Phrase] = Vector.empty,
    groups: Vector[Group] = Vector.empty,
    boosts: Map[String, Float] = Map.empty,
    multiTerms: Vector[MultiTerm] = Vector.empty,
    rangeFilters: Vector[RangeFilter] = Vector.empty,
    conjGroups: Vector[ConjGroup] = Vector.empty) {
  def allTerms: Vector[String] =
    (must ++ should ++ mustNot ++ phrases.flatMap(_.terms) ++
      groups.flatMap(g => g.terms ++ g.phrases.flatMap(_.terms)) ++
      conjGroups.flatMap(g => g.terms ++ g.phrases.flatMap(_.terms))).distinct
  def positiveClauses: Int =
    should.length + must.length + groups.length +
      phrases.count(_.occur != 2) + multiTerms.count(_.occur != 2) +
      conjGroups.count(_.occur != 2)
  def isEmpty: Boolean = positiveClauses == 0
  def boostOf(t: String): Float = boosts.getOrElse(t, 1f)
}

object QueryParser {

  private val FilterFields = Set("role", "tool", "conv_id")

  /** Query-time synonym expansion (the query analyzer's SynonymGraphFilter
    * in the reference's text_general chain, managed-schema.xml:312;
    * synonyms.txt is user config). A term with synonyms becomes: SHOULD →
    * the term plus its synonyms as SHOULD clauses (sum-scoring — the
    * SCORING_BOOLEAN rendering of SynonymQuery; blended-df is a documented
    * divergence); MUST → a grouped disjunction; MUST_NOT → all expansions
    * excluded. Synonym terms pass through the analyzer.
    *
    * A synonym that ANALYZES to multiple tokens ("nyc" -> "new york")
    * becomes an exact Phrase clause, not flattened independent terms —
    * SynonymGraphFilter keeps a multi-token expansion as a positional unit
    * in the query graph, so only docs containing the tokens CONSECUTIVELY
    * match it. A multi-token synonym of a MUST term becomes a phrase
    * MEMBER of the term's MUST group — the exact nested
    * (term OR single-syns OR "multi syn") requirement: a doc matching
    * only the phrase satisfies the MUST and scores the phrase. */
  def parseWithSynonyms(q: String, synonyms: Map[String, Seq[String]],
      analyzer: Analyzer = Analyzer.default): ParsedQuery = {
    val p = parse(q, analyzer)
    if (synonyms.isEmpty) return p
    // analyzed expansions of one term, split single-token vs multi-token
    def expansions(t: String): (Vector[String], Vector[Vector[String]]) = {
      val anas = synonyms.getOrElse(t, Seq.empty)
        .map(s => analyzer.analyze(s).toVector).filter(_.nonEmpty).toVector
      val (multi, single) = anas.partition(_.length > 1)
      (single.flatten, multi)
    }
    def expandList(ts: Vector[String]): (Vector[String], Vector[Vector[String]]) = {
      val flat = Vector.newBuilder[String]
      val phr = Vector.newBuilder[Vector[String]]
      ts.foreach { t =>
        val (single, multi) = expansions(t)
        flat += t; flat ++= single; phr ++= multi
      }
      (flat.result().distinct, phr.result().distinct)
    }
    val (shouldFlat, shouldPhr) = expandList(p.should)
    val (notFlat, notPhr) = expandList(p.mustNot)
    val (withSyn, without) = p.must.partition(t => synonyms.contains(t))
    val mustGroups = withSyn.map { t =>
      val (single, multi) = expansions(t)
      Group((t +: single).distinct, multi.map(GroupPhrase(_)))
    }
    p.copy(
      should = shouldFlat,
      must = without,
      groups = p.groups ++ mustGroups,
      mustNot = notFlat,
      phrases = p.phrases ++
        shouldPhr.map(ts => Phrase(ts, occur = 1)) ++
        notPhr.map(ts => Phrase(ts, occur = 2)))
  }

  private sealed trait Occur
  private case object Should extends Occur
  private case object Must extends Occur
  private case object MustNot extends Occur
  private def occInt(o: Occur): Int = o match {
    case Must => 0
    case Should => 1
    case MustNot => 2
  }

  private final case class Clause(occur: Occur, body: String, phrase: Boolean,
      boost: Float, slop: Int = 0)

  def parse(q: String, analyzer: Analyzer = Analyzer.default): ParsedQuery = {
    val toks = lex(q)
    val clauses = scala.collection.mutable.ArrayBuffer.empty[Clause]
    val filters = Vector.newBuilder[(String, String)]
    val notFilters = Vector.newBuilder[(String, String)]
    val rangeFilters = Vector.newBuilder[RangeFilter]
    val groups = Vector.newBuilder[Group]
    val conjGroups = Vector.newBuilder[ConjGroup]
    val multiTerms = scala.collection.mutable.ArrayBuffer.empty[MultiTerm]
    val phrases = Vector.newBuilder[Phrase] // quoted clauses + group phrase members
    val boosts = scala.collection.mutable.Map.empty[String, Float]
    var nextNegated = false
    var promoteNext = false // previous token was AND
    // what the previous clause-like element was, so a following AND can
    // backward-promote ITS left operand and nothing else: 0 = nothing
    // promotable (filter, group — a group self-promotes via its own
    // forward peek — or a dropped token), 1 = last entry of `clauses`,
    // 2 = last entry of `multiTerms` (wildcard/fuzzy)
    var lastEmit = 0
    var i = 0

    /** Strip a trailing `^boost`; returns (body, boost). */
    def stripBoost(tok: String): (String, Float) = {
      val caret = tok.lastIndexOf('^')
      if (caret > 0) {
        try { (tok.substring(0, caret), tok.substring(caret + 1).toFloat) }
        catch { case _: NumberFormatException => (tok, 1f) }
      } else (tok, 1f)
    }

    def clauseOccur(): Occur = {
      val o = if (nextNegated) MustNot else if (promoteNext) Must else Should
      nextNegated = false
      promoteNext = false
      o
    }

    def emitTerm(body0: String, occur0: Occur): Unit = {
      lastEmit = 0 // set per exit path below
      var occur = occur0
      var body = body0
      if (body.startsWith("+")) { occur = Must; body = body.substring(1) }
      else if (body.startsWith("-")) { occur = MustNot; body = body.substring(1) }
      val (core0, boost) = stripBoost(body)
      var core = core0
      val colon = core.indexOf(':')
      if (colon > 0 && FilterFields.contains(core.substring(0, colon))) {
        val field = core.substring(0, colon)
        val v = core.substring(colon + 1)
        // range filter: field:[lo TO hi] or field:{lo TO hi}; a MUST_NOT
        // occur (`-field:...` / `NOT field:...`) excludes instead of
        // requiring — Lucene's negated fielded clause
        if ((v.startsWith("[") && v.endsWith("]")) || (v.startsWith("{") && v.endsWith("}"))) {
          val inclusive = v.startsWith("[")
          val parts = v.substring(1, v.length - 1).split("\\s+TO\\s+")
          if (parts.length == 2)
            rangeFilters += RangeFilter(field, parts(0), parts(1), inclusive,
              negated = occur == MustNot)
        } else if (occur == MustNot) notFilters += ((field, v))
        else filters += ((field, v))
        return
      }
      // quoted phrase, with an optional trailing `~slop` suffix
      // (SolrQueryParserBase.java:140,355-362 slop handling; grammar
      // QueryParser.jj <FUZZY_SLOP> after a quoted term). Anything glued
      // past the slop digits is a SEPARATE clause (`"a b"-timeout` is
      // legal Lucene: the exclusion must not be silently dropped) — it
      // re-enters emitTerm with its own +/- prefix honored.
      if (core.startsWith("\"")) {
        val close = core.indexOf('"', 1)
        val (body, suffix) =
          if (close > 0) (core.substring(1, close), core.substring(close + 1))
          else (core.substring(1), "")
        val (slop, rest) =
          if (suffix.startsWith("~")) {
            val digits = suffix.drop(1).takeWhile(_.isDigit)
            (digits.toIntOption.getOrElse(0), suffix.drop(1 + digits.length))
          } else (0, suffix)
        clauses += Clause(occur, body, phrase = true, boost, slop)
        lastEmit = 1
        if (rest.nonEmpty) emitTerm(rest, Should)
        return
      }
      // fuzzy: term~ or term~N (N in 1..2, Lucene's max)
      val tilde = core.lastIndexOf('~')
      if (tilde > 0) {
        val suffix = core.substring(tilde + 1)
        val edits = if (suffix.isEmpty) 2 else suffix.toIntOption.getOrElse(-1)
        if (edits >= 1 && edits <= 2) {
          val base = analyzer.analyze(core.substring(0, tilde))
          if (base.length == 1) {
            multiTerms += MultiTerm(1, base(0), edits, occInt(occur), boost)
            lastEmit = 2
          }
          return
        }
      }
      // trailing-star prefix wildcard (the common fast shape: expansion is
      // a contiguous range read of the sorted terms table)
      if (core.endsWith("*") && core.length > 1 &&
        !core.dropRight(1).exists(c => c == '*' || c == '?')) {
        val base = analyzer.analyze(core.dropRight(1))
        if (base.length == 1) {
          multiTerms += MultiTerm(0, base(0), 0, occInt(occur), boost)
          lastEmit = 2
        }
        return
      }
      // general wildcard: `?` single char, `*` any run, anywhere in the
      // term (SolrQueryParserBase getWildcardQuery → Lucene WildcardQuery).
      // The glob bypasses the analyzer (Lucene does not analyze wildcard
      // terms); it is lowercased like the reference's
      // lowercaseOperators/analyzeWildcard rendering. Wildcard-only bodies
      // (`*`, `?`) are rejected like a leading-* query without
      // allowLeadingWildcard... which we DO allow, matching Lucene when
      // enabled — but a body with no literal char at all stays invalid.
      if (core.exists(c => c == '*' || c == '?')) {
        val glob = core.toLowerCase(java.util.Locale.ROOT)
        if (glob.exists(c => c != '*' && c != '?')) {
          multiTerms += MultiTerm(2, glob, 0, occInt(occur), boost)
          lastEmit = 2
        }
        return
      }
      clauses += Clause(occur, core, phrase = false, boost)
      lastEmit = 1
    }

    while (i < toks.length) {
      toks(i) match {
        case "AND" | "&&" =>
          // backward promotion binds the element immediately BEFORE the
          // AND — and only it. A group self-promotes via its own forward
          // peek; a filter is required anyway; a wildcard/fuzzy left
          // operand lives in multiTerms, NOT clauses, so touching
          // clauses.last there would wrongly promote an earlier, unrelated
          // term ("data par* AND retry" must keep data optional and
          // require the par* expansion)
          if (lastEmit == 1 && clauses.nonEmpty && clauses.last.occur == Should)
            clauses(clauses.length - 1) = clauses.last.copy(occur = Must)
          else if (lastEmit == 2 && multiTerms.nonEmpty &&
            multiTerms.last.occur == 1)
            multiTerms(multiTerms.length - 1) = multiTerms.last.copy(occur = 0)
          promoteNext = true
        case "OR" | "||" => // default
        case "NOT" | "!" => nextNegated = true
        case t if t == "(" || ((t.startsWith("+") || t.startsWith("-")) && t.drop(1) == "(") =>
          // grouped disjunction: collect tokens until the matching ')'
          val occur0: Occur =
            if (t.startsWith("+")) Must
            else if (t.startsWith("-")) MustNot
            else clauseOccur()
          var j = i + 1
          val member = Vector.newBuilder[String]
          val phraseMembers = Vector.newBuilder[GroupPhrase]
          var hasAnd = false
          while (j < toks.length && toks(j) != ")") {
            toks(j) match {
              case "AND" | "&&" => hasAnd = true
              case "OR" | "||" => // default
              case tok =>
                val body = stripBoost(tok)._1
                // a quoted member stays a positional unit: `+(a "b c")`
                // matches a OR the exact phrase b c, and `"b c"~2` keeps
                // its slop (Lucene's nested phrase-in-boolean); a
                // single-token quote degrades to a term. A malformed
                // suffix after the closing quote falls back to flat terms
                val quoted: Option[(String, Int)] =
                  if (body.length > 1 && body.head == '"') {
                    val k = body.lastIndexOf('"')
                    val suffix = if (k > 0) body.substring(k + 1) else "x"
                    if (k > 0 && suffix.isEmpty) Some((body.substring(1, k), 0))
                    else if (k > 0 && suffix.length > 1 && suffix.head == '~' &&
                      suffix.tail.forall(_.isDigit))
                      Some((body.substring(1, k), suffix.tail.toInt))
                    else None
                  } else None
                quoted match {
                  case Some((inner, slop)) =>
                    val ts = analyzer.analyze(inner).toVector
                    if (ts.length > 1) phraseMembers += GroupPhrase(ts, slop)
                    else ts.foreach(member += _)
                  case None => analyzer.analyze(body).foreach(member += _)
                }
            }
            j += 1
          }
          i = j
          // a following AND binds this group as its left operand —
          // "(a AND b) AND c" is Lucene's +(+a +b) +c — so an implicit
          // SHOULD group promotes to MUST (explicit +/- prefixes win)
          val occur: Occur =
            if (occur0 == Should && i + 1 < toks.length &&
              (toks(i + 1) == "AND" || toks(i + 1) == "&&")) Must
            else occur0
          val ms = member.result().distinct
          val pms = phraseMembers.result().distinct
          if (ms.nonEmpty || pms.nonEmpty) {
            if (hasAnd) occur match {
              // MUST conjunction distributes: `+(a AND b)` == `+a +b`
              // (phrase members distribute as MUST phrases the same way).
              // SHOULD / MUST_NOT conjunctions do NOT (`x OR (a AND b)`
              // must not require a AND b globally; `-(a AND b)` excludes
              // only docs matching BOTH) — they become ConjGroup clauses
              // scored/excluded as a unit (Lucene's nested BooleanQuery),
              // phrase members riding inside the group
              case Must =>
                ms.foreach(m => clauses += Clause(Must, m, phrase = false, 1f))
                pms.foreach(p => phrases += Phrase(p.terms, occInt(Must), p.slop))
              case Should => conjGroups += ConjGroup(ms, 1, pms)
              case MustNot => conjGroups += ConjGroup(ms, 2, pms)
            } else occur match {
              case Must => groups += Group(ms, pms) // true nested disjunction
              case Should =>
                ms.foreach(m => clauses += Clause(Should, m, phrase = false, 1f))
                pms.foreach(p => phrases += Phrase(p.terms, occInt(Should), p.slop))
              case MustNot =>
                ms.foreach(m => clauses += Clause(MustNot, m, phrase = false, 1f))
                pms.foreach(p => phrases += Phrase(p.terms, occInt(MustNot), p.slop))
            }
          }
          lastEmit = 0
        case tok =>
          emitTerm(tok, clauseOccur())
      }
      i += 1
    }

    // analyze each clause, emit terms in query order; quoted multi-term
    // clauses become exact phrases (slop 0)
    val should = Vector.newBuilder[String]
    val must = Vector.newBuilder[String]
    val mustNot = Vector.newBuilder[String]
    clauses.foreach { c =>
      val terms = analyzer.analyze(c.body).toVector
      if (terms.nonEmpty) {
        if (c.phrase && terms.length > 1) {
          phrases += Phrase(terms, occInt(c.occur), c.slop)
        } else {
          c.occur match {
            // positive clauses accumulate per-clause boost into one per-term
            // weight (sum ≡ Lucene's duplicate-clause scoring; header doc);
            // MUST_NOT clauses never score, their boost is inert like Lucene
            case Should  => terms.foreach { t => should += t; boosts(t) = boosts.getOrElse(t, 0f) + c.boost }
            case Must    => terms.foreach { t => must += t; boosts(t) = boosts.getOrElse(t, 0f) + c.boost }
            case MustNot => terms.foreach(mustNot += _)
          }
        }
      }
    }
    ParsedQuery(should.result().distinct, must.result().distinct,
      mustNot.result().distinct, filters.result(), notFilters.result(),
      phrases.result(), groups.result(), boosts.filter(_._2 != 1f).toMap,
      multiTerms.toVector, rangeFilters.result(), conjGroups.result())
  }

  /** Tokenize: whitespace-split with three cohesive spans — double-quoted
    * phrases, `[... TO ...]` / `{... TO ...}` bracket ranges (which contain
    * spaces), and standalone parens. */
  private def lex(q: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    val n = q.length
    val sb = new StringBuilder
    var inQuote = false
    var inBracket = false
    def flush(): Unit = { if (sb.nonEmpty) { out += sb.toString; sb.clear() } }
    while (i < n) {
      val c = q.charAt(i)
      // the closing quote does NOT flush: a `~slop` / `^boost` suffix glued
      // to the quote must stay in the same token ("a b"~2); whitespace ends it
      if (c == '"') { sb.append(c); inQuote = !inQuote }
      else if (!inQuote && (c == '[' || c == '{')) { sb.append(c); inBracket = true }
      else if (!inQuote && inBracket && (c == ']' || c == '}')) { sb.append(c); inBracket = false }
      else if (!inQuote && !inBracket && (c == '(' || c == ')')) {
        // '(' keeps a +/- prefix already in the buffer; ')' always stands alone
        if (c == '(' && (sb.toString == "+" || sb.toString == "-")) { sb.append(c); flush() }
        else { flush(); out += c.toString }
      }
      else if (c.isWhitespace && !inQuote && !inBracket) flush()
      else sb.append(c)
      i += 1
    }
    flush()
    out.result()
  }
}
