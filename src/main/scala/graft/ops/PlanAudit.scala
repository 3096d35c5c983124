package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan audit: dumps `explain("formatted")` for representative
  * queries so scan pruning (PushedFilters/ReadSchema), join strategies
  * (broadcast vs sort-merge), whole-stage codegen spans, and exchange
  * placement can be reviewed. Output: PLANS.md in the cwd.
  * Usage: runMain graft.ops.PlanAudit [sfDir]
  */
object PlanAudit {

  private val interesting = Seq(
    "facet_rollup_metrics",  // agg pushdown + codegen span
    "join_hash_broadcast",   // broadcast join of small dim
    "join_sort_merge",       // big-big SMJ
    "rank_top_k",            // TakeOrderedAndProject (no global sort)
    "page_offset",           // offset pushdown
    "collapse_group_head",   // window + filter
    "text_dedup_minhash_lsh",// LSH band bucket join
    "vec_ann_topk",          // brute-force knn scan shape
    "mlt_tfidf",             // 5-row interesting-term broadcast join
    "time_routed_partitions",// day-partition pruning (PartitionFilters)
    "fts_index_termstats",   // term-table point read (PushedFilters)
    "sql_handler",           // /sql path: Catalyst pushdown of SQL text
    "ltr_rerank",            // broadcast rerank window + feature-scan join
    "cluster_results",       // result-set bounded tf x corpus df join
    "rrf_fusion",            // retrieved-window fusion: TakeOrdered pages, no global sort
    "text_decontaminate",    // benchmark side broadcasts, corpus side streams
    "vec_ann_int8",          // quantized-tier candidates + float-tier rerank join
    "vec_ann_binary",        // 8B/vector Hamming scan (codegen bit_count) + rerank
    "eval_regression_surface", // one-shuffle grouped OLS, 2-col pruned scan
    "eval_distribution_surface", // pdf/cdf column math: pure narrow projection
    "xml_ingest",            // per-row StAX parse as a plain projection
    "doc_transform",         // page-bounded docid ranking (no unpartitioned Window)
    "stream_intersect",      // set op as semi join (Catalyst picks BHJ/SMJ)
    "facet_2d",              // topX by limit + per-x PARTITIONED ranking window
    "vec_dedup_lsh",         // id-only bucket self-join, float tier joined post-dedup
    "score_nodes",           // bounded node list x broadcast corpus stats
    "fts_span_near",         // compiled positional UDF: one narrow scan, no explode/join
    "text_sample_mixture",   // stratified sampler: narrow md5 filter + tiny final agg
    "text_token_count_bpe")  // generated replace-chain: one narrow string projection

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit (generated by graft.ops.PlanAudit)\n\n")
    sb.append("Reviewed properties: parquet scans carry PushedFilters + pruned\n")
    sb.append("ReadSchema; small dims broadcast; top-k compiles to\n")
    sb.append("TakeOrderedAndProject (per-partition heap + driver merge, no global\n")
    sb.append("sort); aggregations are partial+final hash aggregates inside\n")
    sb.append("WholeStageCodegen spans; offsets/limits stay above the exchange.\n")
    graft.SparkEntry.allOps.filter(o => interesting.contains(o.name)).foreach { op =>
      val df = op.run(spark, dir)
      sb.append(s"\n## ${op.name}\n\n${op.doc}\n\n```\n")
      sb.append(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      sb.append("```\n")
      if (op.name == "time_routed_partitions") {
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("PartitionFilters") && plan.contains("day"),
          "day-range predicate must engage partition pruning")
      }
    }
    // PostFilter cost ordering (SURVEY §2.2): Solr runs cost>=100 filters
    // as post-filters AFTER the cheap DocSet intersection
    // (solr/core/src/java/org/apache/solr/search/ExtendedQueryBase.java
    // cost semantics). The Catalyst rendering: comparable predicates are
    // PUSHED into the parquet scan (row-group pruning), while the opaque
    // expensive UDF predicate stays in the residual Filter node above it —
    // evaluated only on rows surviving the pushed filters, which IS the
    // post-filter ordering, chosen automatically.
    locally {
      val expensive = org.apache.spark.sql.functions.udf(
        (t: String) => { Thread.sleep(0); t.hashCode % 7 == 0 })
      val df = spark.read.parquet(s"$dir/documents.parquet")
        .where(org.apache.spark.sql.functions.col("doc_id") < 500 &&
          expensive(org.apache.spark.sql.functions.col("text")))
      sb.append("\n## post-filter ordering (cheap predicate pushed to scan; expensive UDF residual)\n\n```\n")
      sb.append(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      sb.append("```\n")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("LessThan(doc_id,500)"),
        "cheap predicate must reach the scan")
    }
    // the search path, both execution shapes: the cached searcher must
    // compile to ONE narrow stage over the in-memory postings scan (no
    // Exchange anywhere below TakeOrdered), the uncached fallback to a
    // pushdown parquet read + one groupByKey exchange
    val idx = FtsOps.index(spark, dir, "documents")
    val cached = new graft.query.Searcher(spark, idx)
    assert(cached.usesColocatedPath, "plan audit expects the colocated path")
    val hits1 = cached.topKHits("data query fast window", 10)
    sb.append(s"\n## fts topKHits, cached searcher (single-stage: InMemoryTableScan → per-partition WAND → TakeOrdered; NO exchange)\n\n```\n")
    sb.append(hits1.queryExecution.explainString(ExplainMode.fromString("formatted")))
    sb.append("```\n")
    // cursorMark page 2 (`after` = page 1's last hit) must compile to the
    // SAME single-stage shape — the cursor rides in the broadcast metadata
    val page1 = cached.topKHits("data query fast window", 5).collect()
    val page2 = cached.topKHits(
      graft.query.QueryParser.parse("data query fast window"), 5, after = page1.lastOption)
    sb.append(s"\n## fts searchAfter page 2 (identical single-stage plan; cursor in broadcast metadata)\n\n```\n")
    sb.append(page2.queryExecution.explainString(ExplainMode.fromString("formatted")))
    sb.append("```\n")
    cached.close()
    val fallback = new graft.query.Searcher(spark, idx, cache = false)
    val hits2 = fallback.topKHits("data query fast window", 10)
    sb.append(s"\n## fts topKHits, uncached fallback (parquet term-pushdown scan → groupByKey exchange → WAND)\n\n```\n")
    sb.append(hits2.queryExecution.explainString(ExplainMode.fromString("formatted")))
    sb.append("```\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println(s"[plan-audit] wrote PLANS.md (${sb.length} chars)")
    spark.stop()
  }
}
