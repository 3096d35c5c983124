package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Op.{t, dec2}

/** Round-2 operator additions closing SURVEY §2 gaps: the CSV loader
  * family, relatedness aggregation, PriorityStream, and iterative
  * (fixpoint) graph traversal. Reference citations per op; paths relative
  * to /root/reference/.
  */
object ExtendedOps {

  /** Node-count cap for broadcasting BFS frontier/visited sets; above it the
    * iteration falls back to shuffle joins. ~5M (node,dist) rows ≈ 60 MB. Tests
    * override via -Dgraft.bfs.bcast.max to force the shuffle path. */
  def BfsBroadcastMaxNodes: Long =
    sys.props.get("graft.bfs.bcast.max").map(_.toLong).getOrElse(5000000L)

  def ops: Seq[Op] = Seq(

    Op("csv_ingest",
      "CSV loader: round-trip the region table through CSV text and parse " +
        "it back with an explicit schema via Spark's csv datasource " +
        "(handler/loader/CSVLoader.java, CSVLoaderBase.java) — header, " +
        "quoting, and type coercion exercised; output equals the source " +
        "table, which is the oracle",
      Some("SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region ORDER BY r_regionkey"),
      (s, dir) => {
        val out = s"${System.getProperty("java.io.tmpdir")}/graft-csv/region-${dir.replaceAll("[^a-zA-Z0-9.]", "_")}"
        t(s, dir, "region")
          .select(col("r_regionkey"), col("r_name"))
          .write.mode("overwrite").option("header", "true").option("quoteAll", "true")
          .csv(out)
        val schema = StructType(Seq(
          StructField("r_regionkey", LongType),
          StructField("r_name", StringType)))
        s.read.option("header", "true").schema(schema).csv(out)
          .orderBy(col("r_regionkey"))
      }),

    Op("xml_ingest",
      "XML loader: each row arrives as a Solr <add><doc> update-XML " +
        "payload (<field name=...>...</field> children — handler/loader/" +
        "XMLLoader.java's wire format) and is parsed back into typed " +
        "columns with the JDK StAX pull parser inside a compiled UDF — " +
        "per-row parse, no driver involvement, distributes like any " +
        "projection; round-trip equality with the source table is the " +
        "oracle. (Javabin/CBOR loaders stay out of scope: binary " +
        "Lucene-wire formats)",
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
             |  CAST(n_regionkey AS BIGINT) AS n_regionkey
             |FROM nation ORDER BY n_nationkey""".stripMargin),
      (s, dir) => {
        // build the <add><doc> payload column (values XML-escaped — see
        // XmlCodec), then parse it back through the shared StAX codec
        val payload = t(s, dir, "nation").select(concat(
          lit("<add><doc><field name=\"n_nationkey\">"), XmlCodec.esc(col("n_nationkey")),
          lit("</field><field name=\"n_name\">"), XmlCodec.esc(col("n_name")),
          lit("</field><field name=\"n_regionkey\">"), XmlCodec.esc(col("n_regionkey")),
          lit("</field></doc></add>")).as("xml"))
        val parseUdf = udf((xml: String) => {
          val fields = XmlCodec.parseFields(xml)
          (fields.getOrElse("n_nationkey", ""), fields.getOrElse("n_name", ""),
            fields.getOrElse("n_regionkey", ""))
        })
        payload.select(parseUdf(col("xml")).as("d"))
          .select(col("d._1").cast("long").as("n_nationkey"),
            col("d._2").as("n_name"),
            col("d._3").cast("long").as("n_regionkey"))
          .orderBy(col("n_nationkey"))
      }),

    Op("csv_stream_parse",
      "Csv/TsvStream: rows arriving as raw delimited TEXT parsed into " +
        "typed columns with from_csv + explicit schema " +
        "(solrj-streaming .../io/stream/CsvStream.java, TsvStream.java:71-91)",
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
             |  CAST(n_regionkey AS BIGINT) AS n_regionkey
             |FROM nation ORDER BY n_nationkey""".stripMargin),
      (s, dir) => {
        // build the raw TSV line column, then parse it back (the stream path)
        val lines = t(s, dir, "nation")
          .select(concat_ws("\t", col("n_nationkey"), col("n_name"), col("n_regionkey")).as("line"))
        lines
          .select(from_csv(col("line"),
            StructType(Seq(
              StructField("n_nationkey", LongType),
              StructField("n_name", StringType),
              StructField("n_regionkey", LongType))),
            Map("sep" -> "\t")).as("r"))
          .select(col("r.n_nationkey"), col("r.n_name"), col("r.n_regionkey"))
          .orderBy(col("n_nationkey"))
      }),

    Op("agg_relatedness",
      "relatedness aggregation: z-score of a bucket's foreground count vs " +
        "its background rate — the semantic-knowledge-graph relatedness of " +
        "search/facet/RelatednessAgg.java (fg = urgent orders, buckets = " +
        "order month); computed in double with the identical expression " +
        "shape in the DuckDB oracle, rounded 6dp",
      Some("""WITH b AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             |    CAST(count(*) AS DOUBLE) AS bg,
             |    CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS DOUBLE) AS fg
             |  FROM orders GROUP BY month),
             |s AS (SELECT CAST(sum(bg) AS DOUBLE) AS bg_size, CAST(sum(fg) AS DOUBLE) AS fg_size FROM b)
             |SELECT month, CAST(fg AS BIGINT) AS fg_count, CAST(bg AS BIGINT) AS bg_count,
             |  round((fg - bg * (fg_size / bg_size))
             |    / sqrt(bg * (fg_size / bg_size) * (1 - fg_size / bg_size)), 6) AS relatedness
             |FROM b, s WHERE bg > 0 ORDER BY month""".stripMargin),
      (s, dir) => {
        val b = t(s, dir, "orders")
          .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
          .agg(count(lit(1)).cast("double").as("bg"),
            sum(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0)).cast("double").as("fg"))
        val totals = b.agg(sum(col("bg")).cast("double").as("bg_size"),
          sum(col("fg")).cast("double").as("fg_size"))
        val p = col("fg_size") / col("bg_size")
        b.crossJoin(broadcast(totals))
          .where(col("bg") > 0)
          .select(col("month"),
            col("fg").cast("bigint").as("fg_count"),
            col("bg").cast("bigint").as("bg_count"),
            round((col("fg") - col("bg") * p)
              / sqrt(col("bg") * p * (lit(1) - p)), 6).as("relatedness"))
          .orderBy(col("month"))
      }),

    Op("priority_stream",
      "PriorityStream: the high-priority stream's rows are emitted before " +
        "the low-priority stream's (solrj-streaming .../io/stream/" +
        "PriorityStream.java:37-52) — rendered as a tagged union with " +
        "priority-major ordering",
      Some("""SELECT * FROM (
             |  SELECT 1 AS priority, o_orderkey, o_totalprice FROM orders WHERE o_orderpriority = '1-URGENT'
             |  UNION ALL
             |  SELECT 2 AS priority, o_orderkey, o_totalprice FROM orders WHERE o_orderpriority = '5-LOW')
             |ORDER BY priority, o_orderkey LIMIT 100""".stripMargin),
      (s, dir) => {
        val o = t(s, dir, "orders")
        val hi = o.where(col("o_orderpriority") === "1-URGENT")
          .select(lit(1).as("priority"), col("o_orderkey"), col("o_totalprice"))
        val lo = o.where(col("o_orderpriority") === "5-LOW")
          .select(lit(2).as("priority"), col("o_orderkey"), col("o_totalprice"))
        hi.unionByName(lo).orderBy(col("priority"), col("o_orderkey")).limit(100)
      }),

    Op("jdbc_ingest",
      "JDBCStream: relational rows pulled over JDBC as a partitioned " +
        "parallel read (solrj-streaming .../io/stream/JDBCStream.java) — " +
        "the nation table round-trips through an embedded Derby database " +
        "and is read back with spark.read.jdbc using partitionColumn " +
        "splits (4 concurrent connections); oracle is the source table",
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
             |  CAST(n_regionkey AS BIGINT) AS n_regionkey
             |FROM nation ORDER BY n_nationkey""".stripMargin),
      (s, dir) => {
        val db = s"${System.getProperty("java.io.tmpdir")}/graft-derby/db-${dir.replaceAll("[^a-zA-Z0-9.]", "_")}"
        val url = s"jdbc:derby:$db;create=true"
        val driver = "org.apache.derby.jdbc.EmbeddedDriver"
        t(s, dir, "nation")
          .select(col("n_nationkey").cast("long"), col("n_name"),
            col("n_regionkey").cast("long"))
          .write.format("jdbc")
          .option("url", url).option("driver", driver)
          .option("dbtable", "nation")
          .option("createTableColumnTypes", "n_name VARCHAR(128)")
          .mode("overwrite").save()
        s.read.format("jdbc")
          .option("url", url).option("driver", driver)
          .option("dbtable", "nation")
          .option("partitionColumn", "n_nationkey")
          .option("lowerBound", "0").option("upperBound", "25")
          .option("numPartitions", "4")
          .load()
          .orderBy(col("n_nationkey"))
      }),

    Op("fts_synonym",
      "query-time synonym expansion (SynonymGraphFilter in text_general's " +
        "query analyzer, managed-schema.xml:312): 'big data' with thesaurus " +
        "big => big, small expands through the parser and scores in double " +
        "precision (sum-scored SCORING_BOOLEAN rendering of SynonymQuery); " +
        "the oracle scores the expanded concrete term list",
      Some(s"""WITH lut AS (${FtsOps.byte4LookupSqlPublic}),
              |qpos AS (SELECT * FROM (VALUES ('big', 0), ('small', 1), ('data', 2)) t(w, qp)),
              |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              |  FROM documents WHERE length(text) > 0),
              |stats AS (SELECT count(DISTINCT doc_id) AS n,
              |    CAST(count(*) AS DOUBLE) / count(DISTINCT doc_id) AS avgdl FROM toks),
              |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
              |  WHERE w IN (SELECT w FROM qpos) GROUP BY doc_id, w),
              |dfs AS (SELECT w, count(DISTINCT doc_id) AS df FROM toks
              |  WHERE w IN (SELECT w FROM qpos) GROUP BY w),
              |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
              |dlq AS (SELECT doc_id, (SELECT max(v) FROM lut WHERE v <= dl) AS dlq FROM dl),
              |partials AS (SELECT tf.doc_id, qpos.qp,
              |    ln(1 + (stats.n - dfs.df + 0.5) / (dfs.df + 0.5))
              |      * (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dlq.dlq / stats.avgdl))) AS p
              |  FROM tf JOIN dfs USING (w) JOIN dlq USING (doc_id) JOIN qpos USING (w), stats),
              |scores AS (SELECT doc_id, list_reduce(list(p ORDER BY qp), (a, v) -> a + v) AS sc
              |  FROM partials GROUP BY doc_id)
              |SELECT doc_id, round(sc, 6) AS score FROM scores
              |ORDER BY round(sc, 6) DESC, doc_id LIMIT 20""".stripMargin),
      (s, dir) => {
        // the expanded term list comes from the PARSER's synonym rewrite so
        // this op pins the whole query-analysis path, not just the scorer
        val synonyms = Map("big" -> Seq("small")) // test thesaurus (config)
        val parsed = graft.query.QueryParser.parseWithSynonyms("big data", synonyms)
        FtsOps.bm25DoubleTopKPublic(s, FtsOps.index(s, dir, "documents"), parsed.should)
      }),

    Op("fts_synonym_phrase",
      "multi-word synonym as a POSITIONAL phrase: query 'data' with " +
        "thesaurus data => \"merge group\" — SynonymGraphFilter keeps a " +
        "multi-token expansion as a unit in the query graph " +
        "(managed-schema.xml:312, expand=true), so the parser rewrite " +
        "yields a Phrase clause matched consecutively from positional " +
        "postings, NOT two independent terms. Integer artifact per doc: " +
        "(term freq of the original term, phrase freq of the synonym); " +
        "both derived from the PARSER output so the whole rewrite path is " +
        "pinned. Oracle recomputes both freqs from raw text",
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |tf AS (SELECT doc_id, len(list_filter(w, x -> x = 'data')) AS tfreq FROM toks),
             |pf AS (SELECT doc_id, CASE WHEN len(w) >= 2 THEN
             |    len(list_filter(generate_series(1, len(w) - 1), i -> w[i] = 'merge' AND w[i+1] = 'group'))
             |    ELSE 0 END AS pfreq FROM toks)
             |SELECT t.doc_id, CAST(t.tfreq AS BIGINT) AS tfreq, CAST(p.pfreq AS BIGINT) AS pfreq
             |FROM tf t JOIN pf p USING (doc_id)
             |WHERE t.tfreq > 0 OR p.pfreq > 0
             |ORDER BY pfreq DESC, tfreq DESC, doc_id LIMIT 100""".stripMargin),
      (s, dir) => {
        val synonyms = Map("data" -> Seq("merge group"))
        val parsed = graft.query.QueryParser.parseWithSynonyms("data", synonyms)
        require(parsed.phrases.nonEmpty && parsed.phrases.head.terms == Vector("merge", "group"),
          "parser must rewrite the multi-token synonym into a Phrase clause")
        val idx = FtsOps.index(s, dir, "documents")
        val sr = FtsOps.searcherPublic(s, dir, "documents")
        val idmap = s.read.parquet(s"$idx/docs")
          .select(col("doc_id").as("did"),
            regexp_extract(col("conv_id"), "(\\d+)", 1).cast("long").as("doc_id"))
        val tfreq = sr.phraseFreqs(parsed.should)
          .withColumnRenamed("freq", "tfreq")
        val pfreq = sr.phraseFreqs(parsed.phrases.head.terms)
          .withColumnRenamed("freq", "pfreq")
        tfreq.join(pfreq, Seq("did"), "full_outer")
          .na.fill(0L, Seq("tfreq", "pfreq"))
          .join(idmap, "did")
          .select(col("doc_id"), col("tfreq"), col("pfreq"))
          .orderBy(col("pfreq").desc, col("tfreq").desc, col("doc_id"))
          .limit(100)
      }),

    Op("graph_bfs_fixpoint",
      "iterative BFS to fixpoint: min-distance frontier expansion over the " +
        "part<->supplier bipartite graph from lineitem, depth <= 3 — the " +
        "ShortestPathStream / GatherNodes-iterated semantics " +
        "(solrj-streaming .../io/graph/ShortestPathStream.java:61-64); " +
        "driver loop of whole-frontier joins (each iteration one " +
        "distributed join, not per-node lookups); oracle is a DuckDB " +
        "recursive CTE",
      Some("""WITH RECURSIVE e AS (SELECT DISTINCT 'p' || l_partkey AS a, 's' || l_suppkey AS b FROM lineitem),
             |bi AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
             |walk(node, dist) AS (
             |  SELECT 'p0', 0
             |  UNION ALL
             |  SELECT bi.b, walk.dist + 1 FROM walk JOIN bi ON bi.a = walk.node WHERE walk.dist < 3),
             |d AS (SELECT node, CAST(min(dist) AS INT) AS dist FROM walk GROUP BY node)
             |SELECT dist, count(*) AS nodes FROM d GROUP BY dist ORDER BY dist""".stripMargin),
      (s, dir) => {
        import s.implicits._
        // internal node ids are LONGS (part k -> 2k, supplier k -> 2k+1):
        // the oracle's "p123"/"s45" strings are presentation — long join
        // keys halve the per-iteration shuffle compare/hash cost, and the
        // output below is (dist, count), id-representation-free
        val e = t(s, dir, "lineitem")
          .select((col("l_partkey") * 2).as("a"),
            (col("l_suppkey") * 2 + 1).as("b"))
          .distinct()
        val bi = e.unionByName(e.select(col("b").as("a"), col("a").as("b"))).persist()
        var visited = Seq((0L, 0)).toDF("node", "dist")
        var frontier = visited
        var frontierCount = 1L
        var visitedCount = 1L
        var depth = 0
        while (depth < 3 && frontierCount > 0) {
          depth += 1
          // size-switched joins: frontier/visited
          // broadcast ONLY while node-count-bounded; visited grows
          // monotonically toward |V| — on a billion-node graph an
          // unconditional broadcast is an executor OOM, so above the cap
          // each falls back to a shuffle (anti-)join
          val fSide =
            if (frontierCount <= ExtendedOps.BfsBroadcastMaxNodes) broadcast(frontier)
            else frontier
          val seen = visited.select(col("node").as("seen"))
          val vSide =
            if (visitedCount <= ExtendedOps.BfsBroadcastMaxNodes) broadcast(seen)
            else seen
          val next = bi.join(fSide, col("node") === col("a"))
            .select(col("b").as("node"), lit(depth).as("dist"))
            .distinct()
            .join(vSide, col("node") === col("seen"), "left_anti")
          // eager localCheckpoint: flat lineage per round (one join, not a
          // recursive plan) and no per-round cache leak (persist() here
          // without unpersist leaked a cached DF per iteration)
          frontier = next.localCheckpoint(true)
          frontierCount = frontier.count()
          visitedCount += frontierCount
          visited = visited.unionByName(frontier)
        }
        val out = visited.groupBy(col("dist").cast("int").as("dist"))
          .agg(count(lit(1)).as("nodes"))
          .orderBy(col("dist"))
        bi.unpersist()
        out
      }),

    Op("graph_shortest_path",
      "shortest-path ENUMERATION: all shortest paths p0 -> target over the " +
        "part<->supplier bipartite graph from lineitem, maxDepth 3 — " +
        "ShortestPathStream semantics (solrj-streaming .../io/graph/" +
        "ShortestPathStream.java:64: BFS keeping per-level parent pointers, " +
        "then walking them back to emit every path). Target = the smallest " +
        "supplier NOT adjacent to p0 (falls back to the smallest supplier " +
        "when the graph is so dense every supplier is adjacent). Scale " +
        "shape: the forward pass stores only (child, parent, depth) EDGES — " +
        "linear in edges visited, never materialized paths — and the " +
        "combinatorial path expansion happens only BACKWARD from the one " +
        "target, bounded by (#shortest paths x depth); frontier/visited " +
        "joins size-switch off broadcast like graph_bfs_fixpoint",
      Some("""WITH RECURSIVE e AS (SELECT DISTINCT 'p' || l_partkey AS a, 's' || l_suppkey AS b FROM lineitem),
             |bi AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
             |tgt AS (SELECT coalesce(
             |    (SELECT 's' || min(l_suppkey) FROM lineitem
             |     WHERE l_suppkey NOT IN (SELECT l_suppkey FROM lineitem WHERE l_partkey = 0)),
             |    (SELECT 's' || min(l_suppkey) FROM lineitem)) AS t),
             |walk(node, dist, path) AS (
             |  SELECT 'p0', 0, 'p0'
             |  UNION ALL
             |  SELECT bi.b, walk.dist + 1, walk.path || '->' || bi.b
             |  FROM walk JOIN bi ON bi.a = walk.node WHERE walk.dist < 3),
             |d AS (SELECT min(dist) AS dt FROM walk, tgt WHERE node = t)
             |SELECT path FROM walk, tgt, d WHERE node = t AND dist = dt ORDER BY path""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem")
        // long node ids (part k -> 2k, supplier k -> 2k+1), presentation
        // strings only at the end — same encoding as graph_bfs_fixpoint
        val e = li.select((col("l_partkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b")).distinct()
        val bi = e.unionByName(e.select(col("b").as("a"), col("a").as("b"))).persist()
        val adj = li.where(col("l_partkey") === 0)
          .select(col("l_suppkey").as("x")).distinct()
        val nonAdjMin = li.select(col("l_suppkey")).distinct()
          .join(adj, col("l_suppkey") === col("x"), "left_anti")
          .agg(min(col("l_suppkey"))).head()
        val tgtSupp =
          if (nonAdjMin.isNullAt(0)) li.agg(min(col("l_suppkey"))).head().getLong(0)
          else nonAdjMin.getLong(0)
        val target = tgtSupp * 2 + 1
        var frontier = Seq(0L).toDF("node")
        var visited = frontier
        var parents = Seq.empty[(Long, Long, Int)].toDF("child", "parent", "d")
        var frontierCount = 1L
        var visitedCount = 1L
        var found = false
        var depth = 0
        while (depth < 3 && !found && frontierCount > 0) {
          depth += 1
          val fSide =
            if (frontierCount <= ExtendedOps.BfsBroadcastMaxNodes) broadcast(frontier)
            else frontier
          val seen = visited.select(col("node").as("seen"))
          val vSide =
            if (visitedCount <= ExtendedOps.BfsBroadcastMaxNodes) broadcast(seen)
            else seen
          // ALL (parent in frontier, child new this level) edges survive:
          // a child reached from two frontier nodes has two shortest parents
          val newEdges = bi.join(fSide, col("node") === col("a"))
            .select(col("b").as("child"), col("a").as("parent"))
            .join(vSide, col("child") === col("seen"), "left_anti")
            .localCheckpoint(true)
          // frontier stays a cheap distinct over the CHECKPOINTED edges —
          // two jobs per round total (edge checkpoint + the combined stats
          // action below), not four (the count and target probe share one
          // aggregation)
          parents = parents.unionByName(newEdges.withColumn("d", lit(depth)))
          frontier = newEdges.select(col("child").as("node")).distinct()
          val stats = frontier.agg(count(lit(1)),
            max(when(col("node") === target, 1L))).head()
          frontierCount = stats.getLong(0)
          found = !stats.isNullAt(1) && stats.getLong(1) == 1L
          visitedCount += frontierCount
          visited = visited.unionByName(frontier)
        }
        def render(c: org.apache.spark.sql.Column) =
          when(c % 2 === 0, concat(lit("p"), (c / 2).cast("long")))
            .otherwise(concat(lit("s"), ((c - 1) / 2).cast("long")))
        val out =
          if (!found) Seq.empty[String].toDF("path")
          else {
            // backward expansion from the single target through the parent
            // edges, one bounded join per level
            var acc = Seq(target).toDF("cur")
              .select(col("cur"), render(col("cur")).as("path"))
            for (d <- depth to 1 by -1) {
              val pe = parents.where(col("d") === d)
                .select(col("child"), col("parent"))
              acc = acc.join(pe, col("cur") === col("child"))
                .select(col("parent").as("cur"),
                  concat(render(col("parent")), lit("->"), col("path")).as("path"))
            }
            acc.select(col("path")).orderBy(col("path"))
          }
        bi.unpersist()
        out
      }),

    Op("time_routed_partitions",
      "time-routed alias: events stored day-partitioned, a ts-range query " +
        "touches only the routed partitions (the TimeRoutedAlias role, " +
        "solr/core/src/java/org/apache/solr/cloud/api/collections/" +
        "TimeRoutedAlias.java — time-bucketed collections + router) " +
        "rendered as hive-style day partitioning + Catalyst partition " +
        "pruning (PartitionFilters on the scan; at 100 TB the range query " +
        "reads 3 of N day directories, not the corpus). Oracle = the same " +
        "range over the unpartitioned table",
      Some("""SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type, count(*) AS cnt
             |FROM events
             |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-13 00:00:00'
             |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin),
      (s, dir) => {
        // one-time day-partitioned copy (the alias's routed collections)
        val part = s"${System.getProperty("java.io.tmpdir")}/graft-tra/events-${dir.replaceAll("[^a-zA-Z0-9.]", "_")}"
        if (!new java.io.File(s"$part/_SUCCESS").exists())
          t(s, dir, "events")
            .withColumn("day", col("ts").cast("date").cast("string"))
            .repartition(col("day")) // one file per day dir, not tasks x days
            .write.mode("overwrite").partitionBy("day").parquet(part)
        val pruned = s.read.parquet(part)
          .where(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
            col("ts") < lit("2024-01-13 00:00:00").cast("timestamp"))
        // partition pruning must actually engage: the day filter below is
        // derivable from the ts range, but Catalyst only prunes on the
        // PARTITION column — route explicitly like the alias's router does
        pruned
          .where(col("day") >= "2024-01-10" && col("day") < "2024-01-13")
          .groupBy(col("day"), col("event_type")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("day"), col("event_type"))
      }),

    Op("join_block_child",
      "{!child of=...}: children of matching parents — the inverse of the " +
        "{!parent} block join (search/join/BlockJoinChildQParser.java, " +
        "ChildDocTransformerFactory): parents selected by their own " +
        "predicate, their lineitem children returned",
      Some("""SELECT l.l_orderkey, l.l_linenumber, l.l_quantity
             |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             |WHERE o.o_orderpriority = '1-URGENT' AND o.o_orderkey < 2000
             |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin),
      (s, dir) => {
        val parents = t(s, dir, "orders")
          .where(col("o_orderpriority") === "1-URGENT" && col("o_orderkey") < 2000)
          .select(col("o_orderkey"))
        t(s, dir, "lineitem")
          .join(broadcast(parents), col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      }),

    Op("facet_join_dim",
      "cross-collection {!join} + facet: orders filtered, joined to their " +
        "customers, faceted by the customer's nation — the join-then-facet " +
        "combination (search/JoinQParserPlugin.java feeding SimpleFacets); " +
        "dim side broadcast",
      Some("""SELECT n.n_name, count(*) AS cnt
             |FROM orders o
             |JOIN customer c ON o.o_custkey = c.c_custkey
             |JOIN nation n ON c.c_nationkey = n.n_nationkey
             |WHERE o.o_orderpriority = '1-URGENT'
             |GROUP BY n.n_name ORDER BY cnt DESC, n.n_name LIMIT 10""".stripMargin),
      (s, dir) => {
        val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
        val nation = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
        t(s, dir, "orders")
          .where(col("o_orderpriority") === "1-URGENT")
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("n_name"))
          .limit(10)
      }),

    Op("func_query_sort",
      "function-query ordering: documents ranked by a computed function " +
        "of their fields — the {!func} / sort-by-function surface " +
        "(search/FunctionQParser.java, ValueSource chain); recip form " +
        "a/(m*x+b) over doc age with a FIXED reference instant " +
        "(deterministic stand-in for NOW), double math rounded 6dp",
      Some("""SELECT doc_id,
             |  round(1000.0 / (1.0 * (5000 - doc_id) + 1000.0), 6) AS boost
             |FROM documents ORDER BY boost DESC, doc_id LIMIT 25""".stripMargin),
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          round(lit(1000.0) / (lit(1.0) * (lit(5000) - col("doc_id")) + lit(1000.0)), 6).as("boost"))
        .orderBy(col("boost").desc, col("doc_id"))
        .limit(25)),

    Op("eval_scalar_surface",
      "core tier of the 310 streaming-expression evaluators mapped 1:1 to " +
        "Spark built-ins (solrj-streaming .../io/eval/ — AddEvaluator, " +
        "ModuloEvaluator, AbsoluteValueEvaluator, RoundEvaluator, " +
        "CeilingEvaluator, FloorEvaluator, SquareRootEvaluator, " +
        "NaturalLogEvaluator, PowerEvaluator, UpperEvaluator, " +
        "ConcatEvaluator, SubstringEvaluator, ReplaceEvaluator, " +
        "LengthEvaluator, PadLeftEvaluator via lpad, temporal evaluators " +
        "TemporalEvaluatorYear/Month/Day/Hour, IfThenElseEvaluator, " +
        "CoalesceEvaluator, GreaterThanEvaluator composed in CASE, " +
        "greatest/least): every value integer/string-exact or IEEE " +
        "same-shape doubles rounded 6dp (ln's 1-ulp libm skew)",
      Some("""SELECT o_orderkey,
             |  o_orderkey + 7 AS add_v,
             |  o_orderkey * 3 AS mul_v,
             |  o_orderkey % 5 AS mod_v,
             |  abs(o_custkey - 500) AS abs_v,
             |  round(o_totalprice * 1.1, 2) AS round_v,
             |  CAST(ceil(o_totalprice) AS BIGINT) AS ceil_v,
             |  CAST(floor(o_totalprice) AS BIGINT) AS floor_v,
             |  round(sqrt(o_totalprice), 6) AS sqrt_v,
             |  round(ln(o_totalprice), 6) AS ln_v,
             |  power(2, o_orderkey % 10) AS pow_v,
             |  upper(o_orderstatus) AS upper_v,
             |  o_orderpriority || '-' || o_orderstatus AS concat_v,
             |  substr(o_orderpriority, 1, 3) AS substr_v,
             |  replace(o_orderpriority, '-', '_') AS replace_v,
             |  length(o_orderpriority) AS len_v,
             |  lpad(o_orderstatus, 3, 'x') AS lpad_v,
             |  year(o_orderdate) AS year_v,
             |  month(o_orderdate) AS month_v,
             |  day(o_orderdate) AS day_v,
             |  hour(o_orderdate) AS hour_v,
             |  CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END AS if_v,
             |  coalesce(nullif(o_orderstatus, 'O'), 'open') AS coalesce_v,
             |  greatest(o_orderkey % 7, o_custkey % 7) AS greatest_v,
             |  least(o_orderkey % 7, o_custkey % 7) AS least_v
             |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin),
      (s, dir) => t(s, dir, "orders")
        .select(col("o_orderkey"),
          (col("o_orderkey") + 7).as("add_v"),
          (col("o_orderkey") * 3).as("mul_v"),
          (col("o_orderkey") % 5).as("mod_v"),
          abs(col("o_custkey") - 500).as("abs_v"),
          round(col("o_totalprice") * 1.1, 2).as("round_v"),
          ceil(col("o_totalprice")).cast("long").as("ceil_v"),
          floor(col("o_totalprice")).cast("long").as("floor_v"),
          round(sqrt(col("o_totalprice")), 6).as("sqrt_v"),
          round(log(col("o_totalprice")), 6).as("ln_v"),
          pow(lit(2), col("o_orderkey") % 10).as("pow_v"),
          upper(col("o_orderstatus")).as("upper_v"),
          concat(col("o_orderpriority"), lit("-"), col("o_orderstatus")).as("concat_v"),
          substring(col("o_orderpriority"), 1, 3).as("substr_v"),
          regexp_replace(col("o_orderpriority"), "-", "_").as("replace_v"),
          length(col("o_orderpriority")).cast("long").as("len_v"),
          lpad(col("o_orderstatus"), 3, "x").as("lpad_v"),
          year(col("o_orderdate")).cast("long").as("year_v"),
          month(col("o_orderdate")).cast("long").as("month_v"),
          dayofmonth(col("o_orderdate")).cast("long").as("day_v"),
          hour(col("o_orderdate")).cast("long").as("hour_v"),
          when(col("o_totalprice") > 100000, "big").otherwise("small").as("if_v"),
          coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("coalesce_v"),
          greatest(col("o_orderkey") % 7, col("o_custkey") % 7).as("greatest_v"),
          least(col("o_orderkey") % 7, col("o_custkey") % 7).as("least_v"))
        .orderBy(col("o_orderkey"))
        .limit(100)),

    Op("eval_array_datemath_surface",
      "second tier of the streaming-expression evaluators: array evaluators " +
        "(ArrayEvaluator, ArraySortEvaluator, ReverseEvaluator, " +
        "AppendEvaluator via concat — solrj-streaming .../io/eval/" +
        "ArrayEvaluator.java, ArraySortEvaluator.java, ReverseEvaluator" +
        ".java), date-math (TemporalEvaluatorWeek, datemath +5DAYS / " +
        "/MONTH truncation of DateMathParser.java, TemporalEvaluatorEpoch) " +
        "and the trig tier (SineEvaluator, CosineEvaluator, ArcTangent" +
        "Evaluator, ExponentialEvaluator, CubedRootEvaluator) — each " +
        "mapped to the Spark built-in; arrays are emitted joined-as-string " +
        "(identical on the DuckDB side) so the driver hash sees scalars, " +
        "doubles rounded 6dp",
      Some("""SELECT l_orderkey, l_linenumber,
             |  array_to_string(list_sort([l_partkey % 10, l_suppkey % 10, CAST(l_linenumber AS BIGINT)]), ',') AS arr_sort_v,
             |  array_to_string(list_reverse([l_partkey % 10, l_suppkey % 10]), ',') AS arr_rev_v,
             |  array_to_string([l_partkey % 10, l_suppkey % 10] || [CAST(99 AS BIGINT)], ',') AS arr_append_v,
             |  CAST(list_contains([l_partkey % 10, l_suppkey % 10], 3) AS INT) AS arr_has_v,
             |  CAST(CAST(l_shipdate + INTERVAL 5 DAY AS DATE) AS VARCHAR) AS datemath_v,
             |  CAST(CAST(date_trunc('month', l_shipdate) AS DATE) AS VARCHAR) AS trunc_v,
             |  isodow(l_shipdate) AS dow_v,
             |  weekofyear(l_shipdate) AS week_v,
             |  date_diff('day', DATE '2024-01-01', CAST(l_shipdate AS DATE)) AS diff_v,
             |  CAST(epoch(l_shipdate) AS BIGINT) AS epoch_v,
             |  round(sin(l_partkey % 360), 6) AS sin_v,
             |  round(cos(l_suppkey % 360), 6) AS cos_v,
             |  round(atan2(l_partkey % 7, l_suppkey % 7 + 1), 6) AS atan2_v,
             |  round(exp((l_partkey % 5) / 2.0), 6) AS exp_v,
             |  round(cbrt(l_extendedprice), 6) AS cbrt_v
             |FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin),
      (s, dir) => t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          array_join(array_sort(array(col("l_partkey") % 10, col("l_suppkey") % 10,
            col("l_linenumber").cast("long"))), ",").as("arr_sort_v"),
          array_join(reverse(array(col("l_partkey") % 10, col("l_suppkey") % 10)), ",").as("arr_rev_v"),
          array_join(concat(array(col("l_partkey") % 10, col("l_suppkey") % 10),
            array(lit(99L))), ",").as("arr_append_v"),
          array_contains(array(col("l_partkey") % 10, col("l_suppkey") % 10), 3)
            .cast("int").as("arr_has_v"),
          date_add(col("l_shipdate").cast("date"), 5).cast("string").as("datemath_v"),
          trunc(col("l_shipdate").cast("date"), "month").cast("string").as("trunc_v"),
          (weekday(col("l_shipdate")) + 1).cast("long").as("dow_v"),
          weekofyear(col("l_shipdate")).cast("long").as("week_v"),
          datediff(col("l_shipdate").cast("date"), lit("2024-01-01").cast("date"))
            .cast("long").as("diff_v"),
          unix_timestamp(col("l_shipdate")).as("epoch_v"),
          round(sin(col("l_partkey") % 360), 6).as("sin_v"),
          round(cos(col("l_suppkey") % 360), 6).as("cos_v"),
          round(atan2((col("l_partkey") % 7).cast("double"),
            (col("l_suppkey") % 7 + 1).cast("double")), 6).as("atan2_v"),
          round(exp((col("l_partkey") % 5) / 2.0), 6).as("exp_v"),
          round(cbrt(col("l_extendedprice")), 6).as("cbrt_v"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .limit(100)),

    Op("eval_stats_vector_surface",
      "third tier of the streaming-expression evaluators: Solr's math-" +
        "expression statistics and vector functions (solrj-streaming " +
        ".../io/eval/ — MeanEvaluator, VarianceEvaluator, StandardDeviation" +
        "Evaluator, MinEvaluator, MaxEvaluator, DotProductEvaluator, " +
        "EuclideanDistanceEvaluator, ManhattanDistanceEvaluator, " +
        "CosineSimilarityEvaluator, UniqueEvaluator, SequenceEvaluator, " +
        "ArraySliceEvaluator) over per-row arrays, expressed with Spark's " +
        "built-in higher-order functions (aggregate/zip_with/transform/" +
        "filter/exists) — no UDFs and no object serialization; the HOF " +
        "expressions are CodegenFallback but the op stays one narrow " +
        "shuffle-free stage over a 4-column pruned scan (asserted in " +
        "OpsSpec). Parity: integer outputs exact; double " +
        "outputs share the identical left-to-right IEEE expression shape " +
        "with the oracle (small-int inputs, so every product/sum is exact) " +
        "and are rounded 6dp only at the end",
      Some("""SELECT l_orderkey, l_linenumber,
             |  round(mean_raw, 6) AS mean_v,
             |  round(((dx1 - mean_raw) * (dx1 - mean_raw) + (dx2 - mean_raw) * (dx2 - mean_raw) + (dx3 - mean_raw) * (dx3 - mean_raw)) / 3.0, 6) AS var_v,
             |  round(sqrt(((dx1 - mean_raw) * (dx1 - mean_raw) + (dx2 - mean_raw) * (dx2 - mean_raw) + (dx3 - mean_raw) * (dx3 - mean_raw)) / 3.0), 6) AS std_v,
             |  least(x1, x2, x3) AS amin_v,
             |  greatest(x1, x2, x3) AS amax_v,
             |  x1 * y1 + x2 * y2 + x3 * y3 AS dot_v,
             |  round(sqrt((dx1 - dy1) * (dx1 - dy1) + (dx2 - dy2) * (dx2 - dy2) + (dx3 - dy3) * (dx3 - dy3)), 6) AS eucl_v,
             |  abs(x1 - y1) + abs(x2 - y2) + abs(x3 - y3) AS manh_v,
             |  round((dx1 * dy1 + dx2 * dy2 + dx3 * dy3) /
             |    (sqrt(dx1 * dx1 + dx2 * dx2 + dx3 * dx3) * sqrt(dy1 * dy1 + dy2 * dy2 + dy3 * dy3)), 6) AS cos_v,
             |  len(list_distinct([x1, x2, x3])) AS uniq_v,
             |  CAST(x1 > 5 OR x2 > 5 OR x3 > 5 AS INT) AS exists_v,
             |  CAST(CAST(x1 % 2 = 0 AS INT) + CAST(x2 % 2 = 0 AS INT) + CAST(x3 % 2 = 0 AS INT) AS BIGINT) AS evens_v,
             |  array_to_string(generate_series(1, l_linenumber), ',') AS seq_v,
             |  array_to_string(list_sort([x1, x2, x3])[1:2], ',') AS slice_v
             |FROM (
             |  SELECT *, (dx1 + dx2 + dx3) / 3.0 AS mean_raw FROM (
             |    SELECT l_orderkey, l_linenumber,
             |      l_partkey % 9 + 1 AS x1, l_suppkey % 9 + 1 AS x2, CAST(l_linenumber AS BIGINT) AS x3,
             |      l_suppkey % 9 + 1 AS y1, l_partkey % 7 + 1 AS y2, CAST(2 AS BIGINT) AS y3,
             |      CAST(l_partkey % 9 + 1 AS DOUBLE) AS dx1, CAST(l_suppkey % 9 + 1 AS DOUBLE) AS dx2, CAST(l_linenumber AS DOUBLE) AS dx3,
             |      CAST(l_suppkey % 9 + 1 AS DOUBLE) AS dy1, CAST(l_partkey % 7 + 1 AS DOUBLE) AS dy2, CAST(2 AS DOUBLE) AS dy3
             |    FROM lineitem))
             |ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin),
      (s, dir) => t(s, dir, "lineitem")
        // per-row "vectors": small positive ints, so all double products and
        // sums below are exactly representable — association-order-proof
        .withColumn("ai", expr("array(l_partkey % 9 + 1, l_suppkey % 9 + 1, cast(l_linenumber as bigint))"))
        .withColumn("bi", expr("array(l_suppkey % 9 + 1, l_partkey % 7 + 1, cast(2 as bigint))"))
        .withColumn("ad", expr("transform(ai, v -> cast(v as double))"))
        .withColumn("bd", expr("transform(bi, v -> cast(v as double))"))
        .withColumn("mean_raw", expr("aggregate(ad, 0D, (acc, v) -> acc + v) / 3.0"))
        .withColumn("var_raw", expr(
          "aggregate(transform(ad, v -> (v - mean_raw) * (v - mean_raw)), 0D, (acc, v) -> acc + v) / 3.0"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("mean_raw"), 6).as("mean_v"),
          round(col("var_raw"), 6).as("var_v"),
          round(sqrt(col("var_raw")), 6).as("std_v"),
          expr("array_min(ai)").as("amin_v"),
          expr("array_max(ai)").as("amax_v"),
          expr("aggregate(zip_with(ai, bi, (p, q) -> p * q), 0L, (acc, v) -> acc + v)").as("dot_v"),
          round(sqrt(expr(
            "aggregate(zip_with(ad, bd, (p, q) -> (p - q) * (p - q)), 0D, (acc, v) -> acc + v)")), 6)
            .as("eucl_v"),
          expr("aggregate(zip_with(ai, bi, (p, q) -> abs(p - q)), 0L, (acc, v) -> acc + v)").as("manh_v"),
          round(expr("aggregate(zip_with(ad, bd, (p, q) -> p * q), 0D, (acc, v) -> acc + v)") /
            (sqrt(expr("aggregate(transform(ad, v -> v * v), 0D, (acc, v) -> acc + v)")) *
             sqrt(expr("aggregate(transform(bd, v -> v * v), 0D, (acc, v) -> acc + v)"))), 6)
            .as("cos_v"),
          size(array_distinct(col("ai"))).cast("long").as("uniq_v"),
          expr("exists(ai, v -> v > 5)").cast("int").as("exists_v"),
          size(expr("filter(ai, v -> v % 2 = 0)")).cast("long").as("evens_v"),
          expr("array_join(sequence(1L, cast(l_linenumber as bigint)), ',')").as("seq_v"),
          array_join(slice(sort_array(col("ai")), 1, 2), ",").as("slice_v"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .limit(100)),

    Op("eval_timeseries_surface",
      "sixth tier of the streaming-expression evaluators: the time-series " +
        "/ scaling family (solrj-streaming .../io/eval/MovingAverage" +
        "Evaluator.java, MovingMedianEvaluator.java, ExponentialMoving" +
        "AverageEvaluator.java, MinMaxScaleEvaluator.java, NormalizeSum" +
        "Evaluator.java) over each event_type's value series ordered by " +
        "(ts, event_id): trailing window-3 mean and median, EMA " +
        "(alpha = 2/(w+1) = 0.5, seeded with the first value — the " +
        "list-fold both engines run in the SAME element order), min-max " +
        "scaling and sum-normalization of the last value (sum through " +
        "DECIMAL, exact). Test-scale groups collect in one task; at 100TB " +
        "the same expressions run per time-window partition instead of " +
        "per whole series. Rounded 6dp at the end",
      Some("""WITH s AS (SELECT event_type,
             |    list(value ORDER BY ts, event_id) AS vs,
             |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
             |    count(*) AS n
             |  FROM events GROUP BY event_type HAVING count(*) >= 3)
             |SELECT event_type, CAST(n AS BIGINT) AS n,
             |  round((vs[n-2] + vs[n-1] + vs[n]) / 3.0, 6) AS mov_avg3,
             |  round(greatest(least(vs[n-2], vs[n-1]),
             |    least(greatest(vs[n-2], vs[n-1]), vs[n])), 6) AS mov_med3,
             |  round(list_reduce(vs, (a, v) -> 0.5 * v + 0.5 * a), 6) AS ema,
             |  round((vs[n] - list_min(vs))
             |    / nullif(list_max(vs) - list_min(vs), 0), 6) AS scaled_last,
             |  round(vs[n] / nullif(total, 0), 6) AS norm_last
             |FROM s ORDER BY event_type""".stripMargin),
      (s, dir) => {
        import s.implicits._
        // deterministic series order inside the grouped collect: sort the
        // (ts, event_id, value) structs in the finishing UDF, not the plan
        val sortSeries = udf((xs: Seq[org.apache.spark.sql.Row]) =>
          xs.map { r =>
            val t = r.getAs[java.time.LocalDateTime](0) // timestamp_ntz
            ((t.toEpochSecond(java.time.ZoneOffset.UTC), t.getNano),
              r.getLong(1), r.getDouble(2))
          }.sortBy(t => (t._1, t._2)).map(_._3))
        t(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(
            sortSeries(collect_list(struct(col("ts"), col("event_id"), col("value")))).as("vs"),
            sum(dec2(col("value"))).cast("double").as("total"),
            count(lit(1)).as("n"))
          // groups shorter than the window are excluded on BOTH sides
          // (under ANSI, element_at(vs, -3) on a 2-element series throws
          // where DuckDB's vs[negative] would return NULL)
          .where(col("n") >= 3)
          .select(col("event_type"), col("n"),
            round((element_at(col("vs"), -3) + element_at(col("vs"), -2)
              + element_at(col("vs"), -1)) / 3.0, 6).as("mov_avg3"),
            round(greatest(least(element_at(col("vs"), -3), element_at(col("vs"), -2)),
              least(greatest(element_at(col("vs"), -3), element_at(col("vs"), -2)),
                element_at(col("vs"), -1))), 6).as("mov_med3"),
            round(expr("aggregate(slice(vs, 2, cast(n as int) - 1), " +
              "vs[0], (a, v) -> 0.5 * v + 0.5 * a)"), 6).as("ema"),
            // nullif denominators: ANSI Spark throws DIVIDE_BY_ZERO on a
            // constant series / zero-sum series where DuckDB returns NULL
            round((element_at(col("vs"), -1) - array_min(col("vs")))
              / nullif(array_max(col("vs")) - array_min(col("vs")), lit(0d)), 6)
              .as("scaled_last"),
            round(element_at(col("vs"), -1) / nullif(col("total"), lit(0d)), 6)
              .as("norm_last"))
          .orderBy(col("event_type"))
      }),

    Op("eval_regression_surface",
      "fourth tier of the streaming-expression evaluators: the regression " +
        "family (solrj-streaming .../io/eval/RegressionEvaluator.java — " +
        "slope/intercept/R/RSquared via commons-math SimpleRegression —, " +
        "PredictEvaluator.java, CorrelationEvaluator.java, Covariance" +
        "Evaluator.java) as grouped OLS of l_extendedprice on l_quantity. " +
        "Parity recipe: the five sufficient statistics (n, Sx, Sy, Sxy, " +
        "Sxx, Syy) accumulate as DECIMAL — exact and associative, so " +
        "Spark's partial+final shuffle agg and DuckDB's single-pass agg " +
        "agree bit-for-bit — and only the final slope/intercept/r/cov " +
        "arithmetic runs in doubles, with the identical IEEE expression " +
        "shape on both sides, rounded 6dp at the end. One shuffle (the " +
        "groupBy), map-side partials, 3-column pruned scan. The remaining " +
        "evaluator family (probability distributions) stays declared out " +
        "of scope: Spark has no distribution objects and a UDF port would " +
        "be numerics-porting, not query-engine work",
      Some("""WITH s AS (
             |  SELECT l_returnflag AS g, count(*) AS n0,
             |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx0,
             |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy0,
             |    sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy0,
             |    sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx0,
             |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy0
             |  FROM lineitem GROUP BY 1),
             |d AS (SELECT g, CAST(n0 AS DOUBLE) AS nd,
             |    CAST(sx0 AS DOUBLE) AS sx, CAST(sy0 AS DOUBLE) AS sy,
             |    CAST(sxy0 AS DOUBLE) AS sxy, CAST(sxx0 AS DOUBLE) AS sxx,
             |    CAST(syy0 AS DOUBLE) AS syy FROM s),
             |raw AS (SELECT g, nd, sx, sy,
             |    (nd * sxy - sx * sy) / (nd * sxx - sx * sx) AS slope_raw,
             |    (nd * sxy - sx * sy) /
             |      (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy)) AS r_raw,
             |    (sxy - sx * sy / nd) / (nd - 1) AS cov_raw FROM d),
             |raw2 AS (SELECT g, nd, slope_raw, r_raw, cov_raw,
             |    (sy - slope_raw * sx) / nd AS icept_raw FROM raw)
             |SELECT g, CAST(nd AS BIGINT) AS n,
             |  round(slope_raw, 6) AS slope,
             |  round(icept_raw, 6) AS intercept,
             |  round(r_raw, 6) AS corr_r,
             |  round(r_raw * r_raw, 6) AS r_squared,
             |  round(cov_raw, 6) AS covariance,
             |  round(icept_raw + slope_raw * 25.0, 6) AS predict_25
             |FROM raw2 ORDER BY g""".stripMargin),
      (s, dir) => {
        import Op.dec2
        val agg = t(s, dir, "lineitem")
          .select(col("l_returnflag").as("g"),
            dec2(col("l_quantity")).as("x"), dec2(col("l_extendedprice")).as("y"))
          .groupBy(col("g"))
          .agg(count(lit(1)).as("n0"),
            sum(col("x")).as("sx0"), sum(col("y")).as("sy0"),
            sum(col("x") * col("y")).as("sxy0"),
            sum(col("x") * col("x")).as("sxx0"),
            sum(col("y") * col("y")).as("syy0"))
        agg.select(col("g"),
          col("n0").cast("double").as("nd"),
          col("sx0").cast("double").as("sx"), col("sy0").cast("double").as("sy"),
          col("sxy0").cast("double").as("sxy"), col("sxx0").cast("double").as("sxx"),
          col("syy0").cast("double").as("syy"))
          .withColumn("slope_raw",
            (col("nd") * col("sxy") - col("sx") * col("sy")) /
              (col("nd") * col("sxx") - col("sx") * col("sx")))
          .withColumn("r_raw",
            (col("nd") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("nd") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("nd") * col("syy") - col("sy") * col("sy"))))
          .withColumn("cov_raw",
            (col("sxy") - col("sx") * col("sy") / col("nd")) / (col("nd") - 1))
          .withColumn("icept_raw",
            (col("sy") - col("slope_raw") * col("sx")) / col("nd"))
          .select(col("g"), col("nd").cast("long").as("n"),
            round(col("slope_raw"), 6).as("slope"),
            round(col("icept_raw"), 6).as("intercept"),
            round(col("r_raw"), 6).as("corr_r"),
            round(col("r_raw") * col("r_raw"), 6).as("r_squared"),
            round(col("cov_raw"), 6).as("covariance"),
            round(col("icept_raw") + col("slope_raw") * lit(25.0), 6).as("predict_25"))
          .orderBy(col("g"))
      }),

    Op("eval_distribution_surface",
      "fifth tier of the streaming-expression evaluators: the probability-" +
        "distribution family's DETERMINISTIC surface — density/pmf and " +
        "cumulative probability (solrj-streaming .../io/eval/" +
        "NormalDistributionEvaluator.java, UniformDistributionEvaluator, " +
        "PoissonDistributionEvaluator, GeometricDistributionEvaluator, " +
        "BinomialDistributionEvaluator, LogNormalDistributionEvaluator, " +
        "WeibullDistributionEvaluator, applied through DensityEvaluator / " +
        "CumulativeProbabilityEvaluator — the reference wraps commons-math " +
        "distribution objects) rendered as closed-form column math at " +
        "x = l_quantity. Parity recipe: every formula is ONE fixed IEEE " +
        "expression shape on both sides — the normal CDF uses the " +
        "Abramowitz-Stegun 7.1.26 erf polynomial (|eps| < 1.5e-7, absorbed " +
        "by round 6dp) in identical Horner form, pmfs use exact integer " +
        "factorial(k) for k <= 14 — so Spark and DuckDB agree bit-for-bit " +
        "before the final round. Pure narrow projection: no shuffle, " +
        "3-column pruned scan. sample()/random draws stay out of scope " +
        "(non-deterministic by definition); empirical/enumerated " +
        "distributions are the t-digest/facet surfaces already covered",
      Some("""WITH b AS (SELECT l_orderkey, l_linenumber,
             |    CAST(l_quantity AS DOUBLE) AS x,
             |    CAST(CAST(floor(l_quantity) AS INT) % 15 AS INT) AS k15,
             |    CAST(CAST(floor(l_quantity) AS INT) % 11 AS INT) AS k11
             |  FROM lineitem),
             |z AS (SELECT *, (x - 25.0) / (10.0 * sqrt(2.0)) AS zz FROM b),
             |e AS (SELECT *, abs(zz) AS az,
             |    1.0 / (1.0 + 0.3275911 * abs(zz)) AS tt FROM z),
             |f AS (SELECT *,
             |    CASE WHEN zz = 0.0 THEN 0.0 ELSE (CASE WHEN zz > 0.0 THEN 1.0 ELSE -1.0 END) END *
             |      (1.0 - tt * (0.254829592 + tt * (-0.284496736 + tt *
             |        (1.421413741 + tt * (-1.453152027 + tt * 1.061405429)))) *
             |        exp(-az * az)) AS erf_v
             |  FROM e)
             |SELECT l_orderkey, l_linenumber, x,
             |  round(exp(-((x - 25.0) * (x - 25.0)) / 200.0) / (10.0 * sqrt(2.0 * pi())), 6) AS norm_pdf,
             |  round(0.5 * (1.0 + erf_v), 6) AS norm_cdf,
             |  round(0.05 * exp(-0.05 * x), 6) AS exp_pdf,
             |  round(1.0 - exp(-0.05 * x), 6) AS exp_cdf,
             |  round(least(1.0, x / 50.0), 6) AS unif_cdf,
             |  round(power(4.0, k15) * exp(-4.0) / CAST(factorial(k15) AS DOUBLE), 6) AS pois_pmf,
             |  round(0.25 * power(0.75, k15), 6) AS geom_pmf,
             |  round(CAST(factorial(10) AS DOUBLE) /
             |    (CAST(factorial(k11) AS DOUBLE) * CAST(factorial(10 - k11) AS DOUBLE)) *
             |    power(0.3, k11) * power(0.7, 10 - k11), 6) AS binom_pmf,
             |  round(1.0 - exp(-power(x / 30.0, 1.5)), 6) AS weib_cdf,
             |  round(exp(-((ln(x) - 3.0) * (ln(x) - 3.0)) / 2.0) / (x * sqrt(2.0 * pi())), 6) AS lognorm_pdf
             |FROM f ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin),
      (s, dir) => {
        val x = col("x"); val k15 = col("k15"); val k11 = col("k11")
        val sqrt2pi = sqrt(lit(2.0) * lit(math.Pi))
        val base = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").cast("double").as("x"),
            (floor(col("l_quantity")).cast("int") % 15).cast("int").as("k15"),
            (floor(col("l_quantity")).cast("int") % 11).cast("int").as("k11"))
          .withColumn("zz", (x - 25.0) / (lit(10.0) * sqrt(lit(2.0))))
          .withColumn("az", abs(col("zz")))
          .withColumn("tt", lit(1.0) / (lit(1.0) + lit(0.3275911) * abs(col("zz"))))
        val tt = col("tt"); val az = col("az"); val zz = col("zz")
        val erfV =
          when(zz === 0.0, 0.0).otherwise(when(zz > 0.0, 1.0).otherwise(-1.0)) *
            (lit(1.0) - tt * (lit(0.254829592) + tt * (lit(-0.284496736) + tt *
              (lit(1.421413741) + tt * (lit(-1.453152027) + tt * lit(1.061405429))))) *
              exp(-az * az))
        base.withColumn("erf_v", erfV)
          .select(col("l_orderkey"), col("l_linenumber"), x,
            round(exp(-((x - 25.0) * (x - 25.0)) / 200.0) / (lit(10.0) * sqrt2pi), 6).as("norm_pdf"),
            round(lit(0.5) * (lit(1.0) + col("erf_v")), 6).as("norm_cdf"),
            round(lit(0.05) * exp(lit(-0.05) * x), 6).as("exp_pdf"),
            round(lit(1.0) - exp(lit(-0.05) * x), 6).as("exp_cdf"),
            round(least(lit(1.0), x / 50.0), 6).as("unif_cdf"),
            round(pow(lit(4.0), k15) * exp(lit(-4.0)) / factorial(k15).cast("double"), 6).as("pois_pmf"),
            round(lit(0.25) * pow(lit(0.75), k15), 6).as("geom_pmf"),
            round(factorial(lit(10)).cast("double") /
              (factorial(k11).cast("double") * factorial(lit(10) - k11).cast("double")) *
              pow(lit(0.3), k11) * pow(lit(0.7), lit(10) - k11), 6).as("binom_pmf"),
            round(lit(1.0) - exp(-pow(x / 30.0, 1.5)), 6).as("weib_cdf"),
            round(exp(-((log(x) - 3.0) * (log(x) - 3.0)) / 2.0) / (x * sqrt2pi), 6).as("lognorm_pdf"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
          .limit(100)
      }),

    Op("filter_geofilt",
      "{!geofilt} great-circle distance filter (search/" +
        "SpatialFilterQParserPlugin.java; the geodist() function of " +
        "solr/core/src/java/org/apache/solr/search/function/distance/" +
        "HaversineConstFunction.java): haversine distance from a center " +
        "point, filtered to d <= 3000 km. Coordinates are derived " +
        "deterministically from c_custkey (the testdata has no latlon " +
        "column); the haversine expression is textually identical on both " +
        "sides and the filter compares the ROUNDED distance so a 1-ulp " +
        "libm difference cannot flip boundary membership",
      Some("""WITH pts AS (SELECT c_custkey,
             |    CAST(c_custkey % 171 AS DOUBLE) - 85.0 + 0.5 AS lat,
             |    CAST((c_custkey * 7) % 360 AS DOUBLE) - 180.0 + 0.5 AS lon
             |  FROM customer)
             |SELECT c_custkey, lat, lon,
             |  round(2 * 6371.0 * asin(sqrt(pow(sin(radians(lat - 40.0) / 2), 2) + cos(radians(40.0)) * cos(radians(lat)) * pow(sin(radians(lon - 10.0) / 2), 2))), 6) AS dist_km
             |FROM pts
             |WHERE round(2 * 6371.0 * asin(sqrt(pow(sin(radians(lat - 40.0) / 2), 2) + cos(radians(40.0)) * cos(radians(lat)) * pow(sin(radians(lon - 10.0) / 2), 2))), 6) <= 3000.0
             |ORDER BY c_custkey LIMIT 100""".stripMargin),
      (s, dir) => {
        val hav = "round(2 * 6371.0 * asin(sqrt(pow(sin(radians(lat - 40.0) / 2), 2) + " +
          "cos(radians(40.0)) * cos(radians(lat)) * pow(sin(radians(lon - 10.0) / 2), 2))), 6)"
        t(s, dir, "customer")
          .selectExpr("c_custkey",
            "CAST(c_custkey % 171 AS DOUBLE) - 85.0 + 0.5 AS lat",
            "CAST((c_custkey * 7) % 360 AS DOUBLE) - 180.0 + 0.5 AS lon")
          .selectExpr("c_custkey", "lat", "lon", s"$hav AS dist_km")
          .where(col("dist_km") <= 3000.0)
          .orderBy(col("c_custkey")).limit(100)
      }),

    Op("sort_geodist",
      "spatial nearest-first sort — sort=geodist() asc with fl=_dist_: " +
        "(the geodist() sort idiom of search/function/distance/" +
        "HaversineConstFunction.java + GeoDistValueSource): the 20 nearest " +
        "points to the query center by great-circle distance. Same rounded " +
        "haversine as filter_geofilt so libm 1-ulp noise cannot reorder; " +
        "the top-20 cut is a distributed TakeOrdered, never a global sort",
      Some("""WITH pts AS (SELECT c_custkey,
             |    CAST(c_custkey % 171 AS DOUBLE) - 85.0 + 0.5 AS lat,
             |    CAST((c_custkey * 7) % 360 AS DOUBLE) - 180.0 + 0.5 AS lon
             |  FROM customer)
             |SELECT c_custkey,
             |  round(2 * 6371.0 * asin(sqrt(pow(sin(radians(lat - 40.0) / 2), 2) + cos(radians(40.0)) * cos(radians(lat)) * pow(sin(radians(lon - 10.0) / 2), 2))), 6) AS dist_km
             |FROM pts
             |ORDER BY dist_km, c_custkey LIMIT 20""".stripMargin),
      (s, dir) => {
        val hav = "round(2 * 6371.0 * asin(sqrt(pow(sin(radians(lat - 40.0) / 2), 2) + " +
          "cos(radians(40.0)) * cos(radians(lat)) * pow(sin(radians(lon - 10.0) / 2), 2))), 6)"
        t(s, dir, "customer")
          .selectExpr("c_custkey",
            "CAST(c_custkey % 171 AS DOUBLE) - 85.0 + 0.5 AS lat",
            "CAST((c_custkey * 7) % 360 AS DOUBLE) - 180.0 + 0.5 AS lon")
          .selectExpr("c_custkey", s"$hav AS dist_km")
          .orderBy(col("dist_km"), col("c_custkey")).limit(20)
      }),

    Op("facet_sort_index",
      "terms facet under facet.sort=index: buckets in term (index) order " +
        "with limit+offset, instead of the default count order — " +
        "FacetParams.FACET_SORT_INDEX handling in request/SimpleFacets" +
        ".java and FacetFieldProcessorByArray's index-order walk. At scale " +
        "this is the cheaper sort: bucket keys are already dictionary-" +
        "ordered in the terms table, no count ranking pass",
      Some("""SELECT source AS bucket, CAST(count(*) AS BIGINT) AS cnt
             |FROM documents GROUP BY source
             |ORDER BY bucket OFFSET 2 LIMIT 6""".stripMargin),
      (s, dir) => t(s, dir, "documents")
        .groupBy(col("source")).agg(count(lit(1)).as("cnt"))
        .select(col("source").as("bucket"), col("cnt"))
        .orderBy(col("bucket")).offset(2).limit(6)),

    Op("filter_bbox",
      "{!bbox} bounding-box spatial filter (search/SpatialBoxQParserPlugin" +
        ".java: the rectangle-approximation fast path of geofilt): pure " +
        "range predicates on the same derived coordinates — exactly the " +
        "shape Catalyst pushes into the parquet scan as min/max row-group " +
        "pruning at scale",
      Some("""WITH pts AS (SELECT c_custkey,
             |    CAST(c_custkey % 171 AS DOUBLE) - 85.0 + 0.5 AS lat,
             |    CAST((c_custkey * 7) % 360 AS DOUBLE) - 180.0 + 0.5 AS lon
             |  FROM customer)
             |SELECT c_custkey, lat, lon FROM pts
             |WHERE lat BETWEEN 20.0 AND 60.0 AND lon BETWEEN -20.0 AND 40.0
             |ORDER BY c_custkey LIMIT 100""".stripMargin),
      (s, dir) =>
        t(s, dir, "customer")
          .selectExpr("c_custkey",
            "CAST(c_custkey % 171 AS DOUBLE) - 85.0 + 0.5 AS lat",
            "CAST((c_custkey * 7) % 360 AS DOUBLE) - 180.0 + 0.5 AS lon")
          .where(col("lat").between(20.0, 60.0) && col("lon").between(-20.0, 40.0))
          .orderBy(col("c_custkey")).limit(100)),

    Op("terms_enum_regex",
      "TermsComponent terms.regex enumeration: dictionary terms matched by " +
        "a regular expression with mincount, sorted by count desc " +
        "(handler/component/TermsComponent.java regex branch — " +
        "terms.regex/terms.regex.flag params)",
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
             |  FROM documents WHERE length(text) > 0)
             |SELECT w AS term, count(DISTINCT doc_id) AS df FROM toks
             |WHERE regexp_matches(w, '^[a-z]*data[a-z]*$')
             |GROUP BY w HAVING count(DISTINCT doc_id) >= 2
             |ORDER BY df DESC, term LIMIT 20""".stripMargin),
      (s, dir) =>
        t(s, dir, "documents")
          .where(length(col("text")) > 0)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .where(col("w").rlike("^[a-z]*data[a-z]*$"))
          .groupBy(col("w").as("term"))
          .agg(countDistinct(col("doc_id")).as("df"))
          .where(col("df") >= 2)
          .orderBy(col("df").desc, col("term")).limit(20)),

    Op("facet_heatmap",
      "heatmap facet: 2D spatial grid counts over a bounding box — " +
        "facet.heatmap semantics (search/facet/FacetHeatmap.java: counts " +
        "per grid cell at a chosen gridLevel, rendered as counts2D). " +
        "Cells are 30-degree buckets of the same derived coordinates; " +
        "pure integer bucketing so the oracle is exact",
      Some("""WITH pts AS (SELECT
             |    CAST(c_custkey % 171 AS DOUBLE) - 85.0 + 0.5 AS lat,
             |    CAST((c_custkey * 7) % 360 AS DOUBLE) - 180.0 + 0.5 AS lon
             |  FROM customer)
             |SELECT CAST(floor(lat / 30.0) AS INT) AS cell_y,
             |  CAST(floor(lon / 30.0) AS INT) AS cell_x, count(*) AS cnt
             |FROM pts WHERE lat BETWEEN -60.0 AND 60.0
             |GROUP BY 1, 2 ORDER BY cell_y, cell_x""".stripMargin),
      (s, dir) =>
        t(s, dir, "customer")
          .selectExpr("CAST(c_custkey % 171 AS DOUBLE) - 85.0 + 0.5 AS lat",
            "CAST((c_custkey * 7) % 360 AS DOUBLE) - 180.0 + 0.5 AS lon")
          .where(col("lat").between(-60.0, 60.0))
          .selectExpr("CAST(floor(lat / 30.0) AS INT) AS cell_y",
            "CAST(floor(lon / 30.0) AS INT) AS cell_x")
          .groupBy(col("cell_y"), col("cell_x"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cell_y"), col("cell_x"))),

    Op("agg_igain",
      "{!igain} information-gain term selection — the reference's " +
        "training-data feature selector (search/IGainTermsQParserPlugin" +
        ".java:160-198): per term, ig = H(p_class) - ((df/n)*H(xc/df) + " +
        "(1-df/n)*H((np-xc)/(n-df+1))) with binary natural-log entropy " +
        "(:211-214) — including the reference's exact n-df+1 denominator " +
        "quirk. Class = source='src7'. Distributed shape: one distinct " +
        "(doc,term) explode + one groupBy; the entropy arithmetic is a " +
        "projection over (xc, df) x broadcast globals. Identical textual " +
        "expression on both sides, rounded 6dp (absorbs libm-vs-JVM ln " +
        "1-ulp)",
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws,
             |    CASE WHEN source = 'src7' THEN 1 ELSE 0 END AS pos
             |  FROM documents WHERE length(text) > 0),
             |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(pos) AS DOUBLE) AS np FROM d),
             |td AS (SELECT DISTINCT d.doc_id, t.w, d.pos FROM d, unnest(d.ws) AS t(w)),
             |tc AS (SELECT w AS term, CAST(sum(pos) AS DOUBLE) AS xc,
             |    CAST(count(*) AS DOUBLE) AS df FROM td GROUP BY w)
             |SELECT term, CAST(df AS BIGINT) AS doc_freq,
             |  round(
             |    (CASE WHEN np / n <= 0 OR np / n >= 1 THEN 0 ELSE -1 * (np / n) * ln(np / n) + -1 * (1 - np / n) * ln(1 - np / n) END)
             |    - ((df / n) * (CASE WHEN xc / df <= 0 OR xc / df >= 1 THEN 0 ELSE -1 * (xc / df) * ln(xc / df) + -1 * (1 - xc / df) * ln(1 - xc / df) END)
             |     + (1 - df / n) * (CASE WHEN (np - xc) / (n - df + 1) <= 0 OR (np - xc) / (n - df + 1) >= 1 THEN 0 ELSE -1 * ((np - xc) / (n - df + 1)) * ln((np - xc) / (n - df + 1)) + -1 * (1 - (np - xc) / (n - df + 1)) * ln(1 - (np - xc) / (n - df + 1)) END)), 6) AS ig
             |FROM tc, stats
             |ORDER BY ig DESC, term LIMIT 20""".stripMargin),
      (s, dir) => {
        val d = t(s, dir, "documents")
          .where(length(col("text")) > 0)
          .select(col("doc_id"), split(col("text"), " ").as("ws"),
            when(col("source") === "src7", 1).otherwise(0).as("pos"))
        val stats = d.agg(count(lit(1)).cast("double").as("n"),
          sum(col("pos")).cast("double").as("np"))
        val td = d.select(col("doc_id"), explode(col("ws")).as("w"), col("pos"))
          .distinct()
        val tc = td.groupBy(col("w").as("term"))
          .agg(sum(col("pos")).cast("double").as("xc"),
            count(lit(1)).cast("double").as("df"))
        tc.crossJoin(broadcast(stats))
          .selectExpr("term", "CAST(df AS BIGINT) AS doc_freq",
            """round(
              |  (CASE WHEN np / n <= 0 OR np / n >= 1 THEN 0 ELSE -1 * (np / n) * ln(np / n) + -1 * (1 - np / n) * ln(1 - np / n) END)
              |  - ((df / n) * (CASE WHEN xc / df <= 0 OR xc / df >= 1 THEN 0 ELSE -1 * (xc / df) * ln(xc / df) + -1 * (1 - xc / df) * ln(1 - xc / df) END)
              |   + (1 - df / n) * (CASE WHEN (np - xc) / (n - df + 1) <= 0 OR (np - xc) / (n - df + 1) >= 1 THEN 0 ELSE -1 * ((np - xc) / (n - df + 1)) * ln((np - xc) / (n - df + 1)) + -1 * (1 - (np - xc) / (n - df + 1)) * ln(1 - (np - xc) / (n - df + 1)) END)), 6) AS ig""".stripMargin)
          .orderBy(col("ig").desc, col("term")).limit(20)
      }),

    Op("facet_refinement_twophase",
      "distributed facet merge + REFINEMENT, the reference's two-phase " +
        "protocol run faithfully (facet/FacetModule.java:172-325 phase " +
        "machine, FacetFieldMerger.java bucket merge, FacetRequest.java:125 " +
        "refine flag, overrequest heuristic in FacetField): phase 1 " +
        "computes each 'shard's' (hash-slice's) LOCAL top-(K+overrequest) " +
        "term buckets — the coordinator never sees full per-shard count " +
        "maps — phase 2 re-queries ONLY the (bucket, shard) pairs where a " +
        "merge candidate was missing from that shard's returned list " +
        "(targeted recount as one semi-join-filtered aggregation, the " +
        "batched rendering of Solr's per-shard refine requests), and the " +
        "refined merge equals the exact one-pass facet — which is the " +
        "oracle. Spark's shuffle agg makes the one-pass path exact anyway " +
        "(the documented r1 divergence); this op demonstrates the " +
        "reference protocol itself is reproducible on the engine",
      Some("""SELECT CAST(c_nationkey AS BIGINT) AS bucket, count(*) AS cnt
             |FROM customer GROUP BY 1 ORDER BY cnt DESC, bucket LIMIT 5""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val k = 5
        val over = 2 // Solr's default-style small overrequest
        val nShards = 8
        val c = t(s, dir, "customer")
          .select(col("c_nationkey").cast("long").as("bucket"),
            pmod(hash(col("c_custkey")), lit(nShards)).as("shard"))
        // phase 1: per-shard facet, each shard RETURNS only its top-(k+over)
        val perShard = c.groupBy(col("shard"), col("bucket"))
          .agg(count(lit(1)).as("cnt"))
        val reported = perShard
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("shard"))
              .orderBy(col("cnt").desc, col("bucket"))))
          .where(col("rk") <= k + over).drop("rk")
          // eager localCheckpoint, not persist: the op returns a plan that
          // outlives this call, so a persist here would leak one cached DF
          // per invocation across a sweep; checkpoint blocks are reclaimed
          // by the ContextCleaner when the plan is GC'd. NOTE the candidate
          // set (union of per-shard top k+over) is Solr's overrequest
          // HEURISTIC — on adversarially skewed shard distributions a true
          // top-k bucket can miss every shard list; exactness holds for the
          // oracle data and typical skew, as in the reference.
          .localCheckpoint(true)
        // coordinator merge: candidate set = union of shard top lists
        val candidates = reported.select(col("bucket")).distinct()
        // (bucket, shard) pairs needing refinement = candidate bucket not in
        // that shard's returned list (FacetFieldMerger's missing-bucket set)
        val allShards = s.range(nShards).select(col("id").cast("int").as("shard"))
        val missing = broadcast(candidates).crossJoin(allShards)
          .join(reported.select(col("bucket"), col("shard")),
            Seq("bucket", "shard"), "left_anti")
        // phase 2: targeted recount of missing pairs from base data — one
        // distributed job, its input pruned to candidate buckets only
        val refined = c.join(broadcast(missing), Seq("bucket", "shard"))
          .groupBy(col("shard"), col("bucket")).agg(count(lit(1)).as("cnt"))
        // final merge: reported partials + refined fills, exact by refine
        reported.select(col("bucket"), col("cnt"))
          .unionByName(refined.select(col("bucket"), col("cnt")))
          .groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))
          .orderBy(col("cnt").desc, col("bucket"))
          .limit(k)
      }),

    Op("sql_handler",
      "the /sql entry point (SURVEY §3.3): Solr's SQL module parses ANSI " +
        "SQL with Calcite, pushes Filter/Project/Sort/Aggregate into the " +
        "engine, and executes GROUP BY as facet/rollup streams " +
        "(modules/sql/src/java/org/apache/solr/handler/sql/SQLHandler.java, " +
        "SolrRules.java:44-49 pushdown rules, SolrTable.java:163-183 " +
        "physical selection). Here the SAME SQL text runs through " +
        "spark.sql() over registered views — Catalyst is the Calcite " +
        "analogue, and its pushdown subsumes SolrRules (predicate + " +
        "projection reach the parquet scan; verified in PLANS.md). The " +
        "query exercises the full supported surface: WHERE, GROUP BY, " +
        "aggregate functions, HAVING, ORDER BY, LIMIT",
      Some("""SELECT o_orderpriority, count(*) AS cnt,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
             |  CAST(min(o_orderdate) AS VARCHAR) AS first_day
             |FROM orders WHERE o_orderstatus = 'O'
             |GROUP BY o_orderpriority HAVING count(*) > 10
             |ORDER BY o_orderpriority LIMIT 10""".stripMargin),
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""SELECT o_orderpriority, count(*) AS cnt,
                |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
                |  CAST(min(o_orderdate) AS STRING) AS first_day
                |FROM orders WHERE o_orderstatus = 'O'
                |GROUP BY o_orderpriority HAVING count(*) > 10
                |ORDER BY o_orderpriority LIMIT 10""".stripMargin)
      }),

    Op("cluster_results",
      "search-result clustering (the clustering module's ClusteringComponent " +
        "role: modules/clustering/src/java/org/apache/solr/handler/" +
        "clustering/ClusteringComponent.java — label the RESULT SET of a " +
        "query, not the corpus). Deterministic lexical rendering in place " +
        "of Carrot2's SVD pipeline: each result doc is labeled by its most " +
        "salient term — argmax by (tf desc, corpus-df asc, term asc), i.e. " +
        "frequent-in-doc and rare-in-corpus, the tf-idf argmax in pure " +
        "integer ordering — then clusters are the label groups with their " +
        "member lists. Scale shape: the result set is the top-k result " +
        "WINDOW (rows-bounded, like ClusteringComponent labelling one page, " +
        "not the whole DocSet), so the per-doc tf table is small and its " +
        "broadcast is bounded by construction; only the corpus df " +
        "aggregate is corpus-sized (shared shuffle, vocabulary-bounded)",
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
             |  FROM documents WHERE length(text) > 0),
             |res AS (SELECT DISTINCT doc_id FROM toks WHERE w = 'data'
             |  ORDER BY doc_id LIMIT 100),
             |tf AS (SELECT t.doc_id, t.w, count(*) AS tf
             |  FROM toks t JOIN res USING (doc_id) GROUP BY 1, 2),
             |dfs AS (SELECT w, count(DISTINCT doc_id) AS df FROM toks GROUP BY w),
             |lab AS (SELECT doc_id, w AS label FROM (
             |  SELECT tf.doc_id, tf.w,
             |    row_number() OVER (PARTITION BY tf.doc_id
             |      ORDER BY tf.tf DESC, dfs.df ASC, tf.w) AS rk
             |  FROM tf JOIN dfs USING (w) WHERE tf.w <> 'data') WHERE rk = 1)
             |SELECT label, count(*) AS size,
             |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
             |FROM lab GROUP BY label ORDER BY size DESC, label LIMIT 10""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val toks = t(s, dir, "documents")
          .where(length(col("text")) > 0)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        // the clustered set is the RESULT WINDOW (one top-k page), not the
        // full match DocSet — k-bounded, so broadcasting it is safe at any
        // corpus size (the r3 version broadcast the unbounded match set)
        val res = toks.where(col("w") === "data").select("doc_id").distinct()
          .orderBy(col("doc_id")).limit(100)
        val tf = toks.join(broadcast(res), "doc_id")
          .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
        val dfs = toks.groupBy(col("w")).agg(countDistinct(col("doc_id")).as("df"))
        val lab = tf.where(col("w") =!= "data").join(dfs, "w")
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("doc_id"))
              .orderBy(col("tf").desc, col("df").asc, col("w"))))
          .where(col("rk") === 1)
          .select(col("doc_id"), col("w").as("label"))
        lab.groupBy(col("label"))
          .agg(count(lit(1)).as("size"),
            array_join(
              transform(sort_array(collect_list(col("doc_id"))), _.cast("string")),
              ",").as("members"))
          .orderBy(col("size").desc, col("label"))
          .limit(10)
      })
  )
}
