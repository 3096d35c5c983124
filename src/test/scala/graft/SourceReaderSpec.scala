package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The one-line Iceberg-swap claim, made mechanically true (VERDICT r4 task
  * #6): every registry op and the index build resolve source-table scans
  * through the single `Op.reader` hook. The test swaps in a resolver for a
  * VIRTUAL sfDir that does not exist on disk and runs one table-reading op
  * per family (relational agg, join, events, text/dedup, vectors, and the
  * full engine path including its index build). Any scan that bypasses the
  * hook — a literal `spark.read.parquet(s"$dir/...")` — dies on the missing
  * path, so a future regression fails loudly here rather than silently
  * rotting the swap claim. */
class SourceReaderSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val realDir = "/root/testdata/sf0.001"
  private val virtualDir = "/graft-virtual-src/sf0.001" // must NOT exist

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("source-reader-spec")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("every source scan resolves through Op.reader (the Iceberg swap point)") {
    assert(!new java.io.File(virtualDir).exists(), s"$virtualDir must not exist")
    val resolved = new java.util.concurrent.atomic.AtomicInteger
    graft.ops.Op.withReader { (s, dir, name) =>
      resolved.incrementAndGet()
      val real = if (dir == virtualDir) realDir else dir
      s.read.parquet(s"$real/$name.parquet")
    } {
      // one representative per family; each reads at least one source table
      val names = Seq(
        "agg_having",          // relational aggregation (lineitem)
        "join_hash_broadcast", // join family (orders x customer)
        "events_latest_by_key",// events table / RealTimeGet
        "text_dedup_exact",    // text pipeline (documents)
        "vec_ann_topk",        // vectors (embeddings)
        "eval_kmeans",         // ML evaluator tier (events)
        "fts_topk_ranked")     // engine path: IndexBuilder build + search
      val failures = names.flatMap { n =>
        try { SparkEntry.queries(n)(spark, virtualDir).count(); None }
        catch { case e: Throwable =>
          Some(s"$n: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        }
      }
      assert(failures.isEmpty,
        s"ops bypassed Op.reader (or failed under it):\n${failures.mkString("\n")}")
      assert(resolved.get() > 0, "the swapped resolver was never invoked")
    }
  }
}
