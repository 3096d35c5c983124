package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Op.t

/** Search-component operators beyond the core BM25 path: dis-max fielded
  * scoring, more-like-this, highlighting, spell suggestion, term
  * enumeration, and upsert ingest — each re-expressed with deterministic
  * (integer / exact) scoring so a DuckDB oracle can verify it end-to-end.
  * The BM25-scored variants of these live on the FTS engine; these
  * registry entries prove the operator *semantics* against SQL.
  */
object SearchOps {

  // rank-ordered string agg shared with WriterOps' [subquery] transformer
  private val sortTopUdf = Op.sortTopUdf

  /** Sum doubles in ascending qp order — bit-identical to DuckDB's
    * `list_reduce(list(p ORDER BY qp), (a, v) -> a + v)` (the 0.0 fold
    * init is exact for the first positive partial). */
  private val orderedSum = udf((xs: Seq[org.apache.spark.sql.Row]) => {
    val ps = xs.map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
    var acc = 0.0
    ps.foreach(acc += _._2)
    acc
  })

  def ops: Seq[Op] = Seq(

    Op("dismax_fielded",
      "dis-max multi-field scoring with per-field boosts and tie-breaker " +
        "(search/ExtendedDismaxQParser.java:66,994-1036 — qf boosts, tie): " +
        "score = max(field scores) + tie * (sum - max); integer per-field " +
        "scores (query-word containment * boost) keep the oracle exact",
      Some("""WITH s AS (SELECT p_partkey,
             |  (CASE WHEN contains(p_name, 'red') THEN 3 ELSE 0 END
             |   + CASE WHEN contains(p_name, 'widget') THEN 3 ELSE 0 END) AS s_name,
             |  (CASE WHEN contains(lower(p_brand), 'brand#1') THEN 2 ELSE 0 END) AS s_brand,
             |  (CASE WHEN contains(lower(p_type), 'economy') THEN 1 ELSE 0 END) AS s_type
             |  FROM part)
             |SELECT p_partkey,
             |  greatest(s_name, s_brand, s_type)
             |    + 0.3 * (s_name + s_brand + s_type - greatest(s_name, s_brand, s_type)) AS score
             |FROM s WHERE s_name + s_brand + s_type > 0
             |ORDER BY score DESC, p_partkey LIMIT 20""".stripMargin),
      (s, dir) => {
        def c(col_ : Column, w: String, b: Int): Column =
          when(col_.contains(w), b).otherwise(0)
        val sName = (c(col("p_name"), "red", 3) + c(col("p_name"), "widget", 3)).as("s_name")
        val sBrand = c(lower(col("p_brand")), "brand#1", 2).as("s_brand")
        val sType = c(lower(col("p_type")), "economy", 1).as("s_type")
        val g = greatest(col("s_name"), col("s_brand"), col("s_type"))
        t(s, dir, "part")
          .select(col("p_partkey"), sName, sBrand, sType)
          .where(col("s_name") + col("s_brand") + col("s_type") > 0)
          .select(col("p_partkey"),
            (g + lit(0.3) * (col("s_name") + col("s_brand") + col("s_type") - g)).as("score"))
          .orderBy(col("score").desc, col("p_partkey"))
          .limit(20)
      }),

    Op("mlt_similar_docs",
      "more-like-this: salient (rarest-df) terms of a seed doc -> rank " +
        "other docs by overlap (search/mlt/SimpleMLTQParser.java, " +
        "handler/MoreLikeThisHandler.java); integer overlap scoring",
      Some("""WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
             |df AS (SELECT w, count(*) AS df FROM toks GROUP BY w),
             |sel AS (SELECT toks.w FROM toks JOIN df ON toks.w = df.w
             |        WHERE doc_id = 0 ORDER BY df, toks.w LIMIT 5)
             |SELECT t.doc_id, count(*) AS overlap
             |FROM toks t JOIN sel ON t.w = sel.w WHERE t.doc_id <> 0
             |GROUP BY t.doc_id ORDER BY overlap DESC, t.doc_id LIMIT 10""".stripMargin),
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
        val df = toks.groupBy(col("w")).agg(count(lit(1)).as("df"))
        val sel = toks.where(col("doc_id") === 0)
          .join(df, "w")
          .orderBy(col("df"), col("w"))
          .limit(5)
          .select(col("w"))
        toks.where(col("doc_id") =!= 0)
          .join(broadcast(sel), "w")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("overlap"))
          .orderBy(col("overlap").desc, col("doc_id"))
          .limit(10)
      }),

    Op("text_highlight",
      "highlighting: locate the first query-term occurrence, emit a " +
        "snippet with <em> markers (solr/core/src/java/org/apache/solr/" +
        "highlight/ — DefaultSolrHighlighter semantics, fragment + markup)",
      Some("""SELECT doc_id, strpos(text, 'query') AS pos,
             |  replace(substr(text, greatest(1, strpos(text, 'query') - 30), 70),
             |          'query', '<em>query</em>') AS snippet
             |FROM documents WHERE strpos(text, 'query') > 0
             |ORDER BY doc_id LIMIT 50""".stripMargin),
      (s, dir) => {
        val pos = locate("query", col("text"))
        t(s, dir, "documents")
          .where(pos > 0)
          .select(col("doc_id"), pos.as("pos"),
            regexp_replace(
              substring(col("text"), greatest(lit(1), pos - 30), lit(70)),
              "query", "<em>query</em>").as("snippet"))
          .orderBy(col("doc_id"))
          .limit(50)
      }),

    Op("suggest_spellcheck",
      "spellcheck: suggest corpus terms within edit distance 2 of a " +
        "misspelled input, ranked by (distance, frequency) " +
        "(solr/core/src/java/org/apache/solr/spelling/ — " +
        "DirectSolrSpellChecker semantics)",
      Some("""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
             |v AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w)
             |SELECT w AS suggestion, levenshtein(w, 'qery') AS dist, cnt
             |FROM v WHERE levenshtein(w, 'qery') <= 2
             |ORDER BY dist, cnt DESC, suggestion LIMIT 10""".stripMargin),
      (s, dir) => t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .withColumn("dist", levenshtein(col("w"), lit("qery")))
        .where(col("dist") <= 2)
        .select(col("w").as("suggestion"), col("dist"), col("cnt"))
        .orderBy(col("dist"), col("cnt").desc, col("suggestion"))
        .limit(10)),

    Op("suggest_collate",
      "spellcheck collation (spelling/SpellCheckCollator.java): each query " +
        "term missing from the vocabulary is replaced by its best " +
        "suggestion — min (edit distance, -docFreq, term) within distance " +
        "2, DirectSolrSpellChecker ranking — and the rewritten query is " +
        "verified by running it: num_found = exact hit count of the " +
        "collated conjunction through the engine's numFound path",
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
             |v AS (SELECT w, count(DISTINCT doc_id) AS df FROM toks GROUP BY w),
             |inq AS (SELECT * FROM (VALUES ('qery', 0), ('fast', 1), ('dta', 2)) t(w, qp)),
             |corr AS (SELECT inq.qp,
             |    CASE WHEN EXISTS (SELECT 1 FROM v WHERE v.w = inq.w) THEN inq.w
             |    ELSE coalesce((SELECT v.w FROM v WHERE levenshtein(v.w, inq.w) <= 2
             |                   ORDER BY levenshtein(v.w, inq.w), df DESC, v.w LIMIT 1), inq.w)
             |    END AS cw
             |  FROM inq)
             |SELECT (SELECT string_agg(cw, ' ' ORDER BY qp) FROM corr) AS collation,
             |  (SELECT count(*) FROM documents d
             |   WHERE NOT EXISTS (SELECT 1 FROM corr
             |                     WHERE NOT list_contains(string_split(d.text, ' '), corr.cw))) AS num_found""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val input = Seq("qery", "fast", "dta")
        val sr = FtsOps.searcherPublic(s, dir, "documents")
        // vocabulary = the INDEX terms dictionary, exactly what
        // DirectSolrSpellChecker consults (no corpus re-aggregation); its
        // df parity with the raw table is pinned by fts_index_termstats.
        // The documents text is plain [a-z0-9 ], so the analyzer vocabulary
        // equals the oracle's whitespace split.
        val vocab = s.read
          .parquet(s"${FtsOps.index(s, dir, "documents")}/terms")
          // field postings aren't vocabulary — match on the v4 namespace
          // prefix, NOT on ":": the analyzer legally emits colon-joined
          // text tokens (UAX#29 MidLetter), which ARE vocabulary
          .where(!col("term").startsWith(graft.index.IndexBuilder.FieldTermPrefix))
        val dfs = sr.termStats(input) // dictionary lookups; absent -> no entry
        // per missing term: a distributed candidate filter + top-1
        // TakeOrdered over the (vocabulary-sized) terms table — bounded by
        // QUERY length, not data
        val corrected = input.map { term =>
          if (dfs.getOrElse(term, 0L) > 0) term
          else vocab.withColumn("dist", levenshtein(col("term"), lit(term)))
            .where(col("dist") <= 2)
            .orderBy(col("dist"), col("df").desc, col("term"))
            .limit(1).select(col("term")).as[String]
            .collect().headOption.getOrElse(term)
        }
        val collation = corrected.mkString(" ")
        // verify the collation by running it — exact hit count through the
        // engine's numFound (minExactCount = infinity) path
        val hits = sr.numFound(corrected.map("+" + _).mkString(" "))
        Seq((collation, hits)).toDF("collation", "num_found")
      }),

    Op("mlt_tfidf",
      "more-like-this with the reference's tf-idf term selection and " +
        "scoring (handler/MoreLikeThisHandler.java, mlt/MoreLikeThis " +
        "interestingTerms): top-5 seed-doc terms by tf*idf (idf = BM25 log, " +
        "selection key rounded to 6dp; ties by term), then other docs " +
        "scored by sum of matched terms' tf_doc * idf in selection order — " +
        "all double-precision with fixed accumulation order, so DuckDB " +
        "reproduces the values (round 6dp absorbs the 1-ulp ln() skew)",
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
             |  FROM documents WHERE length(text) > 0),
             |n AS (SELECT count(DISTINCT doc_id) AS n FROM toks),
             |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY doc_id, w),
             |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM toks GROUP BY w),
             |idf AS (SELECT w, ln(1 + (n.n - df + 0.5) / (df + 0.5)) AS idf FROM df, n),
             |sel AS (SELECT w, idf, row_number() OVER (ORDER BY round(tf * idf, 6) DESC, w) - 1 AS qp
             |  FROM tf JOIN idf USING (w) WHERE doc_id = 0
             |  ORDER BY round(tf * idf, 6) DESC, w LIMIT 5),
             |scored AS (SELECT tf.doc_id,
             |    list_reduce(list(tf.tf * sel.idf ORDER BY sel.qp), (a, v) -> a + v) AS sc
             |  FROM tf JOIN sel ON tf.w = sel.w WHERE tf.doc_id <> 0 GROUP BY tf.doc_id)
             |SELECT doc_id, round(sc, 6) AS score FROM scored
             |ORDER BY round(sc, 6) DESC, doc_id LIMIT 10""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val toks = t(s, dir, "documents")
          .where(length(col("text")) > 0)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        val tf = toks.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
        val n = toks.select(countDistinct(col("doc_id"))).as[Long].head()
        val idf = toks.groupBy(col("w")).agg(countDistinct(col("doc_id")).as("df"))
          .withColumn("idf", log(lit(1.0) + (lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5)))
        // interesting terms of the seed doc: TakeOrdered top-5, then a
        // 5-row broadcast join carries (idf, qp) to the scoring side
        val sel = tf.where(col("doc_id") === 0)
          .join(idf, "w")
          .withColumn("key", round(col("tf") * col("idf"), 6))
          .orderBy(col("key").desc, col("w"))
          .limit(5)
          .select(col("w"), col("idf").as("sidf"))
          .as[(String, Double)].collect()
        val selDf = sel.zipWithIndex
          .map { case ((w, i), qp) => (w, i, qp) }.toSeq
          .toDF("w", "sidf", "qp")
        tf.where(col("doc_id") =!= 0)
          .join(broadcast(selDf), "w")
          .select(col("doc_id"), col("qp"), (col("tf") * col("sidf")).as("p"))
          .groupBy(col("doc_id"))
          .agg(orderedSum(collect_list(struct(col("qp"), col("p")))).as("sc"))
          .select(col("doc_id"), round(col("sc"), 6).as("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(10)
      }),

    Op("suggest_autocomplete",
      "suggester component: prefix autocomplete from the index terms " +
        "dictionary ranked by document frequency " +
        "(suggest/SolrSuggester.java + lucene suggest Lookup weights — " +
        "distinct from spellcheck: prefix match, weight-ordered). The " +
        "engine reads the terms table (a pushed-down range read on the " +
        "sorted dictionary); the oracle re-derives the dictionary from " +
        "the raw corpus",
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
             |v AS (SELECT w, count(DISTINCT doc_id) AS df FROM toks GROUP BY w)
             |SELECT w AS suggestion, df AS weight FROM v WHERE w LIKE 'd%'
             |ORDER BY df DESC, w LIMIT 10""".stripMargin),
      (s, dir) => s.read
        .parquet(s"${FtsOps.index(s, dir, "documents")}/terms")
        .where(!col("term").startsWith(graft.index.IndexBuilder.FieldTermPrefix) &&
          col("term").startsWith("d"))
        .select(col("term").as("suggestion"), col("df").as("weight"))
        .orderBy(col("weight").desc, col("suggestion"))
        .limit(10)),

    Op("highlight_query_terms",
      "highlighting driven by the PARSED query over its match set: the " +
        "lucene-grammar query's analyzed positive terms are located in " +
        "each matching doc's stored text, the earliest occurrence wins, " +
        "and a fragment around it gets <em> markers — the " +
        "DefaultSolrHighlighter pipeline (parse -> extract terms -> " +
        "fragment -> markup) with integer offsets, SQL-exact",
      Some("""WITH pos AS (SELECT doc_id, text,
             |    CASE WHEN strpos(text, 'data') > 0 AND (strpos(text, 'merge') = 0 OR strpos(text, 'data') <= strpos(text, 'merge')) THEN strpos(text, 'data')
             |         WHEN strpos(text, 'merge') > 0 THEN strpos(text, 'merge') ELSE 0 END AS p,
             |    CASE WHEN strpos(text, 'data') > 0 AND (strpos(text, 'merge') = 0 OR strpos(text, 'data') <= strpos(text, 'merge')) THEN 'data'
             |         WHEN strpos(text, 'merge') > 0 THEN 'merge' ELSE NULL END AS hit
             |  FROM documents
             |  WHERE list_contains(string_split(text, ' '), 'data')
             |     OR list_contains(string_split(text, ' '), 'merge'))
             |SELECT doc_id, p, replace(substr(text, greatest(1, p - 20), 50), hit, '<em>' || hit || '</em>') AS snippet
             |FROM pos ORDER BY doc_id LIMIT 50""".stripMargin),
      (s, dir) => {
        // parse -> analyzed positive terms (the real query-analysis path)
        val parsed = graft.query.QueryParser.parse("data merge")
        val terms = parsed.should // query order: data, merge
        val sr = FtsOps.searcherPublic(s, dir, "documents")
        val idx = FtsOps.index(s, dir, "documents")
        val ids = sr.matchingDocIds(parsed).toDF("did")
        val docs = s.read.parquet(s"$idx/docs")
          .select(col("doc_id").as("did"),
            regexp_extract(col("conv_id"), "(\\d+)", 1).cast("long").as("doc_id"),
            col("text"))
          .join(ids, "did")
        // earliest-occurrence term wins (ties -> first in query order)
        val pos = terms.map(t => locate(t, col("text")))
        val p = terms.indices.foldRight(lit(0)) { (i, acc) =>
          // earlier query terms win position ties (strict < against later)
          val isMin = terms.indices.filter(_ != i).map { j =>
            pos(j) === 0 || (if (j < i) pos(i) < pos(j) else pos(i) <= pos(j))
          }.reduce(_ && _)
          when(pos(i) > 0 && isMin, pos(i)).otherwise(acc)
        }
        val hit = terms.indices.foldRight(lit(null).cast("string")) { (i, acc) =>
          val isMin = terms.indices.filter(_ != i).map { j =>
            pos(j) === 0 || (if (j < i) pos(i) < pos(j) else pos(i) <= pos(j))
          }.reduce(_ && _)
          when(pos(i) > 0 && isMin, terms(i)).otherwise(acc)
        }
        docs.select(col("doc_id"), p.as("p"),
            regexp_replace(substring(col("text"), greatest(lit(1), p - 20), lit(50)),
              hit, concat(lit("<em>"), hit, lit("</em>"))).as("snippet"))
          .orderBy(col("doc_id"))
          .limit(50)
      }),

    Op("highlight_passages",
      "passage highlighting with POSITION-based best-window selection — " +
        "the UnifiedHighlighter role (solr/core/src/java/org/apache/solr/" +
        "highlight/UnifiedSolrHighlighter.java, which scores candidate " +
        "passages by query-term hits; DefaultSolrHighlighter.java fragment " +
        "scoring): every query-term hit position opens an 8-token window, " +
        "windows score by (distinct query terms, total hits, earliest " +
        "start), the best window per doc is emitted as the passage text. " +
        "All integer/string math, so the oracle reproduces the exact " +
        "passage choice. Shape note: one groupBy(doc) collects the sorted " +
        "hit list, and a two-pointer sliding window scores every candidate " +
        "in a single in-task pass — O(hits x windowWidth) per doc (Spark " +
        "has no band join; the join rendering enumerated all hit PAIRS " +
        "before the range predicate filtered, per-doc quadratic)",
      Some("""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w
             |  FROM documents WHERE length(text) > 0),
             |hits AS (SELECT doc_id, i AS p, w[i] AS tm
             |  FROM docs, unnest(generate_series(1, len(w))) AS t(i)
             |  WHERE w[i] IN ('data', 'query', 'fast')),
             |wnd AS (SELECT a.doc_id, a.p AS start, count(DISTINCT b.tm) AS nd, count(*) AS nt
             |  FROM hits a JOIN hits b ON a.doc_id = b.doc_id AND b.p BETWEEN a.p AND a.p + 7
             |  GROUP BY 1, 2),
             |best AS (SELECT doc_id, start, nd FROM (
             |  SELECT *, row_number() OVER (PARTITION BY doc_id
             |    ORDER BY nd DESC, nt DESC, start) AS rk FROM wnd) WHERE rk = 1)
             |SELECT b.doc_id, b.start, b.nd,
             |  array_to_string(d.w[b.start:b.start + 7], ' ') AS passage
             |FROM best b JOIN docs d USING (doc_id)
             |WHERE b.nd >= 2 ORDER BY b.doc_id LIMIT 50""".stripMargin),
      (s, dir) => {
        val terms = Seq("data", "query", "fast")
        val docs = t(s, dir, "documents")
          .where(length(col("text")) > 0)
          .select(col("doc_id"), split(col("text"), " ").as("w"))
        val toks = docs.select(col("doc_id"), posexplode(col("w")))
        val hits = toks.where(col("col").isin(terms: _*))
          .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"),
            col("col").as("tm"))
        // per-doc sorted hit list (positions are unique per doc, so the
        // struct sort is deterministic), then ONE linear two-pointer pass
        // scores every start's [p, p+7] window and keeps the best by
        // (nd desc, nt desc, start asc) — the same ordering the window
        // join + row_number rendering produced, without the hit-pair blowup
        val bestUdf = udf((ps: Seq[Long], tms: Seq[String]) => {
          val pa = ps.toArray
          val ta = tms.toArray
          val n = pa.length
          var bestNd = -1
          var bestNt = -1
          var bestStart = Long.MaxValue
          var i = 0
          var j = 0
          while (i < n) {
            val end = pa(i) + 7
            if (j < i) j = i
            while (j < n && pa(j) <= end) j += 1
            val seen = new java.util.HashSet[String]()
            var nd = 0
            var k = i
            while (k < j) { if (seen.add(ta(k))) nd += 1; k += 1 }
            val nt = j - i
            if (nd > bestNd || (nd == bestNd &&
                (nt > bestNt || (nt == bestNt && pa(i) < bestStart)))) {
              bestNd = nd; bestNt = nt; bestStart = pa(i)
            }
            i += 1
          }
          (bestStart, bestNd)
        })
        val best = hits.groupBy(col("doc_id"))
          .agg(sort_array(collect_list(struct(col("p"), col("tm")))).as("hs"))
          .select(col("doc_id"),
            bestUdf(expr("transform(hs, x -> x.p)"),
              expr("transform(hs, x -> x.tm)")).as("b"))
          .select(col("doc_id"), col("b._1").as("start"), col("b._2").as("nd"))
        best.join(docs, "doc_id")
          .where(col("nd") >= 2)
          .select(col("doc_id"), col("start"), col("nd"),
            array_join(slice(col("w"), col("start").cast("int"), lit(8)), " ")
              .as("passage"))
          .orderBy(col("doc_id")).limit(50)
      }),

    Op("terms_enum",
      "terms component: enumerate index terms by prefix with df/ttf " +
        "(handler/component/TermsComponent.java)",
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
             |SELECT w AS term, count(DISTINCT doc_id) AS df, count(*) AS ttf
             |FROM toks WHERE w LIKE 's%'
             |GROUP BY w ORDER BY term LIMIT 30""".stripMargin),
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .where(col("w").startsWith("s"))
        .groupBy(col("w"))
        .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("ttf"))
        .select(col("w").as("term"), col("df"), col("ttf"))
        .orderBy(col("term"))
        .limit(30)),

    Op("termvectors_doc",
      "TermVectorComponent: per-doc term vector (term, tf, first position) " +
        "for one document (handler/component/TermVectorComponent.java); " +
        "recomputed from the stored field through the analysis chain — the " +
        "termVectors=false fallback path the reference also takes",
      Some("""WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents WHERE doc_id = 0),
             |t AS (SELECT ws[i] AS term, i AS pos FROM w, unnest(generate_series(1, len(ws))) u(i))
             |SELECT term, count(*) AS tf, CAST(min(pos) - 1 AS BIGINT) AS first_pos
             |FROM t GROUP BY term ORDER BY term""".stripMargin),
      (s, dir) => {
        val anal = graft.analysis.Analyzer.default
        val tvUdf = udf((text: String) => {
          val (ts, ps) = anal.analyzeWithPositions(text)
          ts.zip(ps).toSeq
        })
        t(s, dir, "documents").where(col("doc_id") === 0)
          .select(explode(tvUdf(col("text"))).as("tp"))
          .select(col("tp._1").as("term"), col("tp._2").as("pos"))
          .groupBy(col("term"))
          .agg(count(lit(1)).as("tf"), min(col("pos")).cast("long").as("first_pos"))
          .orderBy(col("term"))
      }),

    Op("update_atomic_modifiers",
      "atomic update modifiers over a base table: set (replace a field), " +
        "inc (numeric increment), add / remove on a multivalued field — " +
        "update/processor/AtomicUpdateDocumentMerger.java:117-180 " +
        "(doSet/doInc/doAdd/doRemove); the merged doc is the oracle",
      Some("""SELECT c_custkey,
             |  CASE WHEN c_custkey % 7 = 0 THEN 'SET-' || CAST(c_custkey AS VARCHAR) ELSE c_name END AS name,
             |  c_acctbal + CASE WHEN c_custkey % 10 = 0 THEN 100 ELSE 0 END AS acctbal,
             |  array_to_string(CASE WHEN c_custkey % 3 = 0
             |    THEN list_filter(CASE WHEN c_custkey % 5 = 0 THEN list_append(list_value(c_mktsegment, 'base'), 'vip') ELSE list_value(c_mktsegment, 'base') END, x -> x <> 'base')
             |    ELSE CASE WHEN c_custkey % 5 = 0 THEN list_append(list_value(c_mktsegment, 'base'), 'vip') ELSE list_value(c_mktsegment, 'base') END
             |  END, ',') AS tags
             |FROM customer WHERE c_custkey < 60 ORDER BY c_custkey""".stripMargin),
      (s, dir) => {
        val k = col("c_custkey")
        val tags0 = array(col("c_mktsegment"), lit("base"))
        val tags1 = when(k % 5 === 0, array_append(tags0, lit("vip"))).otherwise(tags0)
        val tags2 = when(k % 3 === 0, array_remove(tags1, "base")).otherwise(tags1)
        t(s, dir, "customer").where(k < 60)
          .select(k.as("c_custkey"),
            when(k % 7 === 0, concat(lit("SET-"), k)).otherwise(col("c_name")).as("name"),
            (col("c_acctbal") + when(k % 10 === 0, 100.0).otherwise(0.0)).as("acctbal"),
            // Registry array convention (see ExtendedOps eval_array_datemath_surface):
            // emit arrays joined-as-string so the driver's pandas hash sees scalars.
            array_join(tags2, ",").as("tags"))
          .orderBy(k)
      }),

    Op("update_delete_by_query",
      "delete-by-query: the engine's DocSet for q=data names the victims; " +
        "surviving docs counted per source " +
        "(update/DirectUpdateHandler2.java:481-526 deleteByQuery builds the " +
        "same query DocSet; here the delete is expressed as an anti-join, " +
        "which is how an immutable-segment store tombstones)",
      Some("""SELECT source, count(*) AS remaining FROM documents
             |WHERE NOT list_contains(string_split(text, ' '), 'data')
             |GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => {
        val idx = FtsOps.index(s, dir, "documents")
        val sr = FtsOps.searcherPublic(s, dir, "documents")
        val victims = sr.matchingDocIds("data").toDF("did")
        s.read.parquet(s"$idx/docs")
          .select(col("doc_id").as("did"), col("role").as("source"))
          .join(victims, Seq("did"), "left_anti")
          .groupBy(col("source")).agg(count(lit(1)).as("remaining"))
          .orderBy(col("source"))
      }),

    Op("update_optimistic_concurrency",
      "optimistic concurrency on _version_: an update applies only when " +
        "the supplied version matches the stored one, else it is rejected " +
        "with a conflict (DistributedUpdateProcessor.java:312-330 " +
        "version-check path; 409 semantics). Base versions are " +
        "deterministic; the delta carries half stale versions",
      Some("""WITH base AS (SELECT c_custkey, c_acctbal, 1 + c_custkey % 3 AS ver FROM customer),
             |delta AS (SELECT c_custkey, c_acctbal + 500 AS new_bal,
             |    CASE WHEN c_custkey % 2 = 0 THEN 1 + c_custkey % 3 ELSE 99 END AS req_ver
             |  FROM customer WHERE c_custkey % 4 = 0)
             |SELECT b.c_custkey,
             |  CASE WHEN d.req_ver = b.ver THEN d.new_bal ELSE b.c_acctbal END AS c_acctbal,
             |  CASE WHEN d.req_ver = b.ver THEN b.ver + 1 ELSE b.ver END AS ver,
             |  CASE WHEN d.c_custkey IS NULL THEN 'untouched'
             |       WHEN d.req_ver = b.ver THEN 'applied' ELSE 'conflict' END AS outcome
             |FROM base b LEFT JOIN delta d USING (c_custkey)
             |WHERE b.c_custkey < 60 ORDER BY b.c_custkey""".stripMargin),
      (s, dir) => {
        val k = col("c_custkey")
        val base = t(s, dir, "customer")
          .select(k, col("c_acctbal"), (lit(1) + k % 3).as("ver"))
        val delta = t(s, dir, "customer").where(k % 4 === 0)
          .select(k, (col("c_acctbal") + 500).as("new_bal"),
            when(k % 2 === 0, lit(1) + k % 3).otherwise(99).as("req_ver"))
        base.as("b").join(delta.as("d"), Seq("c_custkey"), "left_outer")
          .where(col("c_custkey") < 60)
          .select(col("c_custkey"),
            when(col("req_ver") === col("ver"), col("new_bal"))
              .otherwise(col("c_acctbal")).as("c_acctbal"),
            when(col("req_ver") === col("ver"), col("ver") + 1)
              .otherwise(col("ver")).as("ver"),
            when(col("new_bal").isNull, "untouched")
              .when(col("req_ver") === col("ver"), "applied")
              .otherwise("conflict").as("outcome"))
          .orderBy(col("c_custkey"))
      }),

    Op("ingest_upsert",
      "overwrite-by-uniqueKey ingest: last-writer-wins merge of a delta " +
        "against the base table (update/DirectUpdateHandler2.java:481-526 " +
        "delete-then-add; versions DistributedUpdateProcessor.java:312-330)",
      Some("""WITH delta AS (SELECT c_custkey, c_acctbal + 1000 AS c_acctbal, 2 AS v
             |  FROM customer WHERE c_custkey % 10 = 0),
             |base AS (SELECT c_custkey, c_acctbal, 1 AS v FROM customer),
             |u AS (SELECT * FROM base UNION ALL SELECT * FROM delta)
             |SELECT c_custkey, c_acctbal, v FROM (
             |  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY v DESC) AS rn FROM u)
             |WHERE rn = 1 AND c_custkey < 50 ORDER BY c_custkey""".stripMargin),
      (s, dir) => {
        val base = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_acctbal"), lit(1).as("v"))
        val delta = t(s, dir, "customer")
          .where(col("c_custkey") % 10 === 0)
          .select(col("c_custkey"), (col("c_acctbal") + 1000).as("c_acctbal"), lit(2).as("v"))
        val w = Window.partitionBy(col("c_custkey")).orderBy(col("v").desc)
        base.unionByName(delta)
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1 && col("c_custkey") < 50)
          .select(col("c_custkey"), col("c_acctbal"), col("v"))
          .orderBy(col("c_custkey"))
      }),

    Op("update_processor_chain",
      "the field-mutating update-processor CHAIN (update/processor/*): " +
        "TrimField -> HTMLStrip -> RegexReplace -> CloneField -> " +
        "ConcatField -> DefaultValue -> FieldLength -> TruncateField -> " +
        "ParseNumeric, applied in processor order as one composed column " +
        "pipeline — the Spark rendering of the chain is a single " +
        "projection (one codegen stage, zero shuffles), which is exactly " +
        "what an ingest-time mutation chain should compile to at 100 TB. " +
        "Each stage cites its factory: TrimFieldUpdateProcessorFactory, " +
        "HTMLStripFieldUpdateProcessorFactory, RegexReplaceProcessor" +
        "Factory, CloneFieldUpdateProcessorFactory, ConcatFieldUpdate" +
        "ProcessorFactory, DefaultValueUpdateProcessorFactory, FieldLength" +
        "UpdateProcessorFactory, TruncateFieldUpdateProcessorFactory, " +
        "ParseLongFieldUpdateProcessorFactory",
      Some("""SELECT event_id,
             |  trim(concat('  <b>', event_type, '</b> ')) AS trimmed_raw,
             |  regexp_replace(regexp_replace(trim(concat('  <b>', event_type, '</b> ')),
             |    '<[^>]*>', '', 'g'), '[aeiou]', '_', 'g') AS mutated,
             |  user_id AS user_copy,
             |  concat(event_type, '|', props) AS concatenated,
             |  coalesce(nullif(props, ''), '{}') AS with_default,
             |  CAST(length(props) AS INT) AS field_len,
             |  substr(concat(event_type, '|', props), 1, 12) AS truncated,
             |  CAST(nullif(regexp_extract(props, '[0-9]+', 0), '') AS BIGINT) AS parsed_k
             |FROM events WHERE event_id < 200 ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val raw = concat(lit("  <b>"), col("event_type"), lit("</b> "))
        val trimmed = trim(raw)
        val stripped = regexp_replace(trimmed, "<[^>]*>", "")
        val mutated = regexp_replace(stripped, "[aeiou]", "_")
        val concatenated = concat(col("event_type"), lit("|"), col("props"))
        t(s, dir, "events")
          .where(col("event_id") < 200)
          .select(col("event_id"),
            trimmed.as("trimmed_raw"),
            mutated.as("mutated"),
            col("user_id").as("user_copy"),
            concatenated.as("concatenated"),
            coalesce(when(col("props") =!= "", col("props")), lit("{}")).as("with_default"),
            length(col("props")).as("field_len"),
            substring(concatenated, 1, 12).as("truncated"),
            // nullif before the cast: ParseLongFieldUpdateProcessor leaves
            // unparsable values alone — and ANSI CAST('') would throw
            nullif(regexp_extract(col("props"), "[0-9]+", 0), lit(""))
              .cast("bigint").as("parsed_k"))
          .orderBy(col("event_id"))
      }),

    Op("update_signature_dedup",
      "SignatureUpdateProcessor: index-time duplicate rejection by a " +
        "content signature computed over CONFIGURED fields (update/" +
        "processor/SignatureUpdateProcessorFactory.java — the signature " +
        "spans the fields the chain names, not necessarily the whole doc; " +
        "here lang + source + the leading-2-token text prefix, a typical " +
        "near-exact config; lowest doc_id wins like overwrite-on-" +
        "signature). Distinct from the ANALYTICS-side text_dedup_exact: " +
        "this is the ingest-path rendering — a signature groupBy the " +
        "update chain applies before the sink",
      Some("""SELECT md5(concat(lang, '|', source, '|',
             |    array_to_string((string_split(text, ' '))[1:2], ' '))) AS signature,
             |  min(doc_id) AS doc_id, count(*) AS rejected_dups
             |FROM documents GROUP BY signature
             |HAVING count(*) > 1 ORDER BY signature""".stripMargin),
      (s, dir) => t(s, dir, "documents")
        .groupBy(md5(concat(col("lang"), lit("|"), col("source"), lit("|"),
          array_join(slice(split(col("text"), " "), 1, 2), " "))).as("signature"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("rejected_dups"))
        .where(col("rejected_dups") > 1)
        .orderBy(col("signature"))),

    Op("update_ttl_expire",
      "DocExpirationUpdateProcessor: TTL semantics — an ingest-time " +
        "computed expiration timestamp (_ttl_ -> expire-at field) plus " +
        "the periodic deleteByQuery of everything past it (update/" +
        "processor/DocExpirationUpdateProcessorFactory.java:60-120). " +
        "TTL = 30 days from event ts; 'now' = max(ts) over the corpus so " +
        "the op is deterministic. Emits the per-type live/expired split " +
        "the reaper would act on — a single scan + conditional agg",
      Some("""WITH now AS (SELECT max(ts) AS now FROM events)
             |SELECT event_type,
             |  CAST(sum(CASE WHEN ts + INTERVAL 30 DAY <= now.now THEN 1 ELSE 0 END) AS BIGINT) AS expired,
             |  CAST(sum(CASE WHEN ts + INTERVAL 30 DAY > now.now THEN 1 ELSE 0 END) AS BIGINT) AS live
             |FROM events, now GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val now = t(s, dir, "events").agg(max(col("ts")).as("now"))
        val expireAt = col("ts") + expr("INTERVAL 30 DAY")
        t(s, dir, "events").crossJoin(broadcast(now))
          .groupBy(col("event_type"))
          .agg(
            sum(when(expireAt <= col("now"), 1).otherwise(0)).as("expired"),
            sum(when(expireAt > col("now"), 1).otherwise(0)).as("live"))
          .orderBy(col("event_type"))
      }),

    Op("luke_field_stats",
      "LukeRequestHandler index introspection: per-field summary — doc " +
        "count with a value, distinct-value cardinality, and the top-3 " +
        "values by frequency (handler/admin/LukeRequestHandler.java " +
        "getIndexedFieldsInfo/getDetailedFieldInfo topTerms). One " +
        "aggregation per field, values joined-as-string per the " +
        "registry's array convention; per-field work is a partial+final " +
        "agg, fields are enumerated (bounded), nothing corpus-sized " +
        "reaches the driver",
      Some("""WITH f AS (
             |  SELECT 'lang' AS field, lang AS v FROM documents WHERE lang IS NOT NULL
             |  UNION ALL
             |  SELECT 'source', source FROM documents WHERE source IS NOT NULL),
             |c AS (SELECT field, v, count(*) AS df FROM f GROUP BY field, v),
             |r AS (SELECT field, v, df,
             |    row_number() OVER (PARTITION BY field ORDER BY df DESC, v) AS rk
             |  FROM c),
             |top AS (SELECT field,
             |    string_agg(v || ':' || CAST(df AS VARCHAR), ',' ORDER BY rk) AS top_values
             |  FROM r WHERE rk <= 3 GROUP BY field),
             |s AS (SELECT field, count(*) AS n_distinct,
             |    CAST(sum(df) AS BIGINT) AS n_docs FROM c GROUP BY field)
             |SELECT s.field, n_docs, n_distinct, top_values
             |FROM s JOIN top ON s.field = top.field ORDER BY s.field""".stripMargin),
      (s, dir) => {
        val d = t(s, dir, "documents")
        val f = d.where(col("lang").isNotNull)
          .select(lit("lang").as("field"), col("lang").as("v"))
          .unionByName(d.where(col("source").isNotNull)
            .select(lit("source").as("field"), col("source").as("v")))
        val c = f.groupBy(col("field"), col("v")).agg(count(lit(1)).as("df"))
        val byField = org.apache.spark.sql.expressions.Window
          .partitionBy(col("field")).orderBy(col("df").desc, col("v"))
        val topJoined = c.withColumn("rk", row_number().over(byField))
          .where(col("rk") <= 3)
          .groupBy(col("field"))
          .agg(sortTopUdf(collect_list(struct(col("rk"),
            concat(col("v"), lit(":"), col("df"))))).as("top_values"))
        c.groupBy(col("field"))
          .agg(count(lit(1)).as("n_distinct"), sum(col("df")).as("n_docs"))
          .join(topJoined, "field")
          .select(col("field"), col("n_docs"), col("n_distinct"), col("top_values"))
          .orderBy(col("field"))
      }),

    Op("matched_queries",
      "MatchedQueriesComponent: per result doc, the NAMES of the named " +
        "query clauses that matched it (handler/component/" +
        "MatchedQueriesComponent.java:30-60, Lucene NamedMatches) — three " +
        "named clauses over documents, names emitted sorted+joined; docs " +
        "matching none are excluded like the component's result DocList",
      Some("""SELECT doc_id,
             |  concat_ws(',',
             |    CASE WHEN text LIKE '%data%' THEN 'has_data' END,
             |    CASE WHEN lang = 'en' THEN 'is_en' END,
             |    CASE WHEN n_chars > 500 THEN 'long_doc' END) AS matched
             |FROM documents
             |WHERE text LIKE '%data%' OR lang = 'en' OR n_chars > 500
             |ORDER BY doc_id""".stripMargin),
      (s, dir) => t(s, dir, "documents")
        .where(col("text").like("%data%") || col("lang") === "en" || col("n_chars") > 500)
        .select(col("doc_id"), concat_ws(",",
          when(col("text").like("%data%"), "has_data"),
          when(col("lang") === "en", "is_en"),
          when(col("n_chars") > 500, "long_doc")).as("matched"))
        .orderBy(col("doc_id"))),

    Op("phrases_identify",
      "PhrasesIdentificationComponent: score every contiguous sub-phrase " +
        "of the query 'big data query' by the reference's bayesian " +
        "words-as-phrase model over indexed shingle stats " +
        "(PhrasesIdentificationComponent.java:1038-1184, maxIndexed=2 " +
        "maxQuery=3, one field so total = field score): singles score " +
        "0.0; a bigram scores (ttf_bigram/min word ttf) scaled by " +
        "1/(1+maxQuery-maxIndexed); the trigram sums its two indexed " +
        "sub-bigram scores wpp*(pp) - wnpp*(1-pp) with pp = " +
        "conj3/conj2(bigram), then scales by the conj ratio " +
        "conj3/max_sub_conj — every stat an exact integer aggregate, the " +
        "double expression shape identical in the oracle, rounded 6dp. " +
        "Stats come from ONE corpus scan (conditional aggregates)",
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
             |  WHERE length(text) > 0),
             |st AS (SELECT
             |    sum(len(list_filter(ws, x -> x = 'big'))) AS ttf_big,
             |    sum(len(list_filter(ws, x -> x = 'data'))) AS ttf_data,
             |    sum(len(list_filter(ws, x -> x = 'query'))) AS ttf_query,
             |    sum(len(list_filter(generate_series(1, len(ws) - 1),
             |      i -> ws[i] = 'big' AND ws[i+1] = 'data'))) AS ttf_bd,
             |    sum(len(list_filter(generate_series(1, len(ws) - 1),
             |      i -> ws[i] = 'data' AND ws[i+1] = 'query'))) AS ttf_dq,
             |    sum(CASE WHEN list_contains(ws, 'big') AND list_contains(ws, 'data')
             |      THEN 1 ELSE 0 END) AS conj_bd,
             |    sum(CASE WHEN list_contains(ws, 'data') AND list_contains(ws, 'query')
             |      THEN 1 ELSE 0 END) AS conj_dq,
             |    sum(CASE WHEN list_contains(ws, 'big') AND list_contains(ws, 'data')
             |      AND list_contains(ws, 'query') THEN 1 ELSE 0 END) AS conj_bdq
             |  FROM w),
             |sc AS (SELECT
             |    0.5 * (CAST(ttf_bd AS DOUBLE) / nullif(least(ttf_big, ttf_data), 0)) AS s_bd,
             |    0.5 * (CAST(ttf_dq AS DOUBLE) / nullif(least(ttf_data, ttf_query), 0)) AS s_dq,
             |    ((CAST(ttf_bd AS DOUBLE) / nullif(least(ttf_big, ttf_data), 0))
             |        * (CAST(conj_bdq AS DOUBLE) / nullif(conj_bd, 0))
             |      - (CAST(ttf_bd AS DOUBLE) / nullif(greatest(ttf_big, ttf_data), 0))
             |        * (1 - CAST(conj_bdq AS DOUBLE) / nullif(conj_bd, 0))
             |     + (CAST(ttf_dq AS DOUBLE) / nullif(least(ttf_data, ttf_query), 0))
             |        * (CAST(conj_bdq AS DOUBLE) / nullif(conj_dq, 0))
             |      - (CAST(ttf_dq AS DOUBLE) / nullif(greatest(ttf_data, ttf_query), 0))
             |        * (1 - CAST(conj_bdq AS DOUBLE) / nullif(conj_dq, 0)))
             |     * 0.5 * (CAST(conj_bdq AS DOUBLE)
             |        / nullif(greatest(conj_bd, conj_dq, conj_bdq), 0)) AS s_bdq
             |  FROM st)
             |SELECT phrase, phrase_len, round(score, 6) AS score FROM (
             |  SELECT 'big' AS phrase, 1 AS phrase_len, 0.0 AS score FROM sc
             |  UNION ALL SELECT 'data', 1, 0.0 FROM sc
             |  UNION ALL SELECT 'query', 1, 0.0 FROM sc
             |  UNION ALL SELECT 'big data', 2, s_bd FROM sc
             |  UNION ALL SELECT 'data query', 2, s_dq FROM sc
             |  UNION ALL SELECT 'big data query', 3, s_bdq FROM sc)
             |ORDER BY phrase""".stripMargin),
      (s, dir) => {
        val ws = split(col("text"), " ")
        def cnt(word: String) =
          size(filter(ws, x => x === word)).cast("long")
        // guard single-token docs: sequence(0, -1) descends to [0, -1] and
        // the lambda's ws[i+1] would index out of bounds — an ANSI error
        // where DuckDB's empty generate_series(1, 0) just yields 0
        def adj(a: String, b: String) = when(size(ws) >= 2, size(filter(
          sequence(lit(0), size(ws) - 2),
          i => ws.getItem(i) === a && ws.getItem(i + 1) === b)).cast("long"))
          .otherwise(lit(0L))
        def has(word: String) = array_contains(ws, word)
        val st = t(s, dir, "documents").where(length(col("text")) > 0)
          .agg(
            sum(cnt("big")).as("ttf_big"), sum(cnt("data")).as("ttf_data"),
            sum(cnt("query")).as("ttf_query"),
            sum(adj("big", "data")).as("ttf_bd"),
            sum(adj("data", "query")).as("ttf_dq"),
            sum(when(has("big") && has("data"), 1).otherwise(0)).as("conj_bd"),
            sum(when(has("data") && has("query"), 1).otherwise(0)).as("conj_dq"),
            sum(when(has("big") && has("data") && has("query"), 1).otherwise(0)).as("conj_bdq"))
        def d(c: Column) = c.cast("double")
        // nullif every denominator: an absent term / never-co-occurring
        // pair is a DIVIDE_BY_ZERO error under ANSI where DuckDB emits
        // NULL-score rows (the component's own <= 0 checks return -1, but
        // the oracle-parity rendering keeps both engines at NULL)
        def nz(c: Column) = nullif(c, lit(0L))
        val sBd = lit(0.5) * (d(col("ttf_bd")) / nz(least(col("ttf_big"), col("ttf_data"))))
        val sDq = lit(0.5) * (d(col("ttf_dq")) / nz(least(col("ttf_data"), col("ttf_query"))))
        val ppBd = d(col("conj_bdq")) / nz(col("conj_bd"))
        val ppDq = d(col("conj_bdq")) / nz(col("conj_dq"))
        val sBdq = ((d(col("ttf_bd")) / nz(least(col("ttf_big"), col("ttf_data")))) * ppBd
          - (d(col("ttf_bd")) / nz(greatest(col("ttf_big"), col("ttf_data")))) * (lit(1) - ppBd)
          + (d(col("ttf_dq")) / nz(least(col("ttf_data"), col("ttf_query")))) * ppDq
          - (d(col("ttf_dq")) / nz(greatest(col("ttf_data"), col("ttf_query")))) * (lit(1) - ppDq)
          ) * lit(0.5) * (d(col("conj_bdq")) / nz(greatest(col("conj_bd"), col("conj_dq"), col("conj_bdq"))))
        val sc = st.select(sBd.as("s_bd"), sDq.as("s_dq"), sBdq.as("s_bdq"))
        val cands = Seq(
          ("big", 1, lit(0.0)), ("data", 1, lit(0.0)), ("query", 1, lit(0.0)),
          ("big data", 2, col("s_bd")), ("data query", 2, col("s_dq")),
          ("big data query", 3, col("s_bdq")))
        cands.map { case (p, n, scoreCol) =>
          sc.select(lit(p).as("phrase"), lit(n).as("phrase_len"),
            round(scoreCol.cast("double"), 6).as("score"))
        }.reduce(_.unionByName(_)).orderBy(col("phrase"))
      })
  )
}
