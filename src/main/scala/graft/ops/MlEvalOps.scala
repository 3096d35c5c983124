package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Op.t

/** The streaming-expression ML/matrix evaluator tier — the last named block
  * of the reference's 310-function `/stream` surface that had no oracled
  * rendering (`solr/solrj-streaming/.../io/Lang.java:491,528,548,552,563`:
  * `matrix`, `matrixMult`, `kmeans`, `fft`/`ifft`, `knnRegress`).
  *
  * Every op here is DETERMINISTIC and hash-oracled, which means the usual
  * float traps are engineered out rather than hoped away:
  *   - kmeans runs on integer cents with centroids kept as exact integer
  *     (sum, count) pairs; the only doubles are `sum.toDouble / count`
  *     divisions whose operands are identical in both engines, so every
  *     IEEE result — and therefore every assignment — is identical;
  *   - knnRegress ranks neighbours by the repo's established bit-parity
  *     cosine (left-to-right fold == DuckDB list_reduce), rounded to 4 dp
  *     with a vec_id tie-break before the top-k cut;
  *   - the DFT is generated as the SAME left-to-right expression chain in
  *     Spark Columns and in DuckDB SQL text from one Scala loop, over
  *     integer inputs, so the doubles agree bit-for-bit before rounding.
  *
  * The random-draw evaluators (`sample`, `uniformDistribution().sample()`)
  * remain out of scope by design: their outputs are random streams, not
  * deterministic values.
  */
object MlEvalOps {

  // cos(2*pi*m/8) and sin(2*pi*m/8) for m = 0..7, exactly: {0, +-1, +-r},
  // r = sqrt(0.5) — both engines evaluate sqrt(0.5) to the same double.
  private val cosSym = Vector("1", "R", "0", "-R", "-1", "-R", "0", "R")
  private val sinSym = Vector("0", "R", "1", "R", "0", "-R", "-1", "-R")

  /** One DFT-bin term chain for bin k over inputs x0..x7 (symbol `R` =
    * sqrt(0.5)); `f(n)` renders the n-th input, `sym` picks cos or sin.
    * Emits a LEFT-TO-RIGHT sum chain "((t0 + t1) + t2) ..." — the same
    * string shape is compiled by Spark (expr) and DuckDB, so accumulation
    * order is pinned by construction. */
  private def dftChain(k: Int, sym: Vector[String], f: Int => String,
      negate: Boolean): String = {
    val terms = (0 until 8).map { n =>
      sym((k * n) % 8) match {
        case "0"  => "0.0"
        case "1"  => s"CAST(${f(n)} AS DOUBLE)"
        case "-1" => s"(-CAST(${f(n)} AS DOUBLE))"
        case "R"  => s"(CAST(${f(n)} AS DOUBLE) * sqrt(0.5))"
        case "-R" => s"(-(CAST(${f(n)} AS DOUBLE) * sqrt(0.5)))"
      }
    }
    val chain = terms.reduceLeft((a, b) => s"($a + $b)")
    if (negate) s"(-$chain)" else chain
  }

  /** events.value in integer cents (the exact-arithmetic feature both
    * engines agree on; round-half behavior only differs for exact .5
    * negatives, absent from this data by construction). */
  private def centsSql =
    """SELECT event_id, CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events WHERE value IS NOT NULL""".stripMargin

  // the bit-parity cosine fold (Spark + DuckDB sides) comes from
  // VectorOps — one definition per engine, no cross-module drift
  private def duckCos(a: String, b: String): String =
    VectorOps.duckCosPublic(a, b)

  def ops: Seq[Op] = Seq(

    Op("eval_knn_regress",
      "knnRegress(trainSet, testSet, k): k-nearest-neighbour regression " +
        "(solrj-streaming eval/KnnRegressionEvaluator.java, Lang.java:563) " +
        "— for each test vector (vec_id < 5) the prediction is the mean " +
        "label of its k=8 cosine-nearest training vectors (vec_id >= 5). " +
        "Neighbour ranking by round(cos, 4) with vec_id tie-break (the " +
        "repo's bit-parity cosine fold); labels are integers so the mean " +
        "is exact. Scale shape: test side broadcasts (queries are few), " +
        "train side is one scan + per-query bounded windows",
      Some(s"""WITH test AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
              |train AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 5),
              |scored AS (SELECT t.qid, tr.vec_id, tr.label,
              |    round(${duckCos("tr.embedding", "t.qe")}, 4) AS cos
              |  FROM train tr CROSS JOIN test t),
              |ranked AS (SELECT qid, label, row_number() OVER
              |    (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM scored)
              |SELECT qid, round(CAST(sum(label) AS DOUBLE) / count(*), 6) AS pred
              |FROM ranked WHERE rn <= 8 GROUP BY qid ORDER BY qid""".stripMargin),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val test = e.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val train = e.where(col("vec_id") >= 5)
          .select(col("vec_id"), col("embedding"), col("label"))
        val scored = train.crossJoin(broadcast(test))
          .select(col("qid"), col("vec_id"), col("label"),
            round(VectorOps.cosinePublic(col("embedding"), col("qe")), 4).as("cos"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
        scored.withColumn("rn", row_number().over(w))
          .where(col("rn") <= 8)
          .groupBy(col("qid"))
          .agg(round(sum(col("label")).cast("double") / count(lit(1)), 6).as("pred"))
          .orderBy(col("qid"))
      }),

    Op("eval_kmeans",
      "kmeans(matrix, k): Lloyd's algorithm, k=4, TWO iterations, on " +
        "events.value in integer cents (eval/KmeansEvaluator.java, " +
        "Lang.java:528). Init = the values of the 4 smallest event_ids " +
        "(deterministic, the evaluator's seeded-init analogue); centroids " +
        "live as exact integer (sum, count) pairs and the only doubles " +
        "are sum/count divisions over identical operands, so every " +
        "assignment (argmin |v - c|, ties to the lowest cluster) is " +
        "engine-identical. Empty clusters carry their previous centroid " +
        "with n = 0. Per iteration: one broadcast of 4 centroids + one " +
        "partial-aggregated groupBy — the textbook distributed-kmeans " +
        "shape that holds at any corpus size",
      Some(s"""WITH vals AS ($centsSql),
              |c0 AS (SELECT row_number() OVER (ORDER BY event_id) - 1 AS j,
              |    CAST(v AS DOUBLE) AS cd FROM vals ORDER BY event_id LIMIT 4),
              |a1 AS (SELECT event_id, v, j, row_number() OVER (PARTITION BY event_id
              |    ORDER BY abs(CAST(v AS DOUBLE) - cd), j) AS rn FROM vals CROSS JOIN c0),
              |g1 AS (SELECT j, CAST(sum(v) AS DOUBLE) / count(*) AS cd
              |  FROM a1 WHERE rn = 1 GROUP BY j),
              |c1 AS (SELECT c0.j, coalesce(g1.cd, c0.cd) AS cd
              |  FROM c0 LEFT JOIN g1 ON c0.j = g1.j),
              |a2 AS (SELECT event_id, v, j, row_number() OVER (PARTITION BY event_id
              |    ORDER BY abs(CAST(v AS DOUBLE) - cd), j) AS rn FROM vals CROSS JOIN c1),
              |g2 AS (SELECT j, count(*) AS n, CAST(sum(v) AS DOUBLE) / count(*) AS cd
              |  FROM a2 WHERE rn = 1 GROUP BY j)
              |SELECT c1.j AS cluster, CAST(coalesce(g2.n, 0) AS BIGINT) AS n,
              |  round(coalesce(g2.cd, c1.cd), 6) AS centroid
              |FROM c1 LEFT JOIN g2 ON c1.j = g2.j ORDER BY cluster""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val vals = t(s, dir, "events").where(col("value").isNotNull)
          .select(col("event_id"), round(col("value") * 100).cast("long").as("v"))
        // init: 4 smallest event_ids -> (j, centroid-as-double); bounded
        // driver collect (4 rows), the IVF-style seeded-init pattern
        var cents: Seq[Double] = vals.orderBy(col("event_id")).limit(4)
          .select(col("v")).as[Long].collect().toSeq.map(_.toDouble)
        require(cents.length == 4, "eval_kmeans: fewer than 4 events")
        // argmin over the 4 embedded centroid doubles, ties -> lowest j;
        // the literals are the exact doubles the oracle derives, so the
        // CASE here and the oracle's (ORDER BY dist, j LIMIT 1) agree
        def assign(cs: Seq[Double]): Column = {
          def d(j: Int) = abs(col("v").cast("double") - lit(cs(j)))
          when(d(0) <= d(1) && d(0) <= d(2) && d(0) <= d(3), 0)
            .when(d(1) <= d(2) && d(1) <= d(3), 1)
            .when(d(2) <= d(3), 2)
            .otherwise(3)
        }
        // iteration 1: aggregate exact (sum, count), recompute centroids
        val g1 = vals.groupBy(assign(cents).as("j"))
          .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
          .as[(Int, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
        cents = cents.indices.map(j =>
          g1.get(j).map { case (sv, n) => sv.toDouble / n }.getOrElse(cents(j)))
        // iteration 2: final assignment + per-cluster output row
        val g2 = vals.groupBy(assign(cents).as("cluster"))
          .agg(count(lit(1)).as("n"),
            (sum(col("v")).cast("double") / count(lit(1))).as("cd"))
        val full = s.createDataFrame(cents.indices.map(j => (j, cents(j))))
          .toDF("cluster", "prev")
        full.join(g2, Seq("cluster"), "left")
          .select(col("cluster"),
            coalesce(col("n"), lit(0L)).as("n"),
            round(coalesce(col("cd"), col("prev")), 6).as("centroid"))
          .orderBy(col("cluster"))
      }),

    Op("eval_matrix_surface",
      "matrix(...) + matrixMult + transpose (eval/MatrixEvaluator.java, " +
        "MatrixMultiplyEvaluator.java, Lang.java:491,548): M is the " +
        "event_type x 6-hour-bucket count matrix (5x4, exact integers); " +
        "the op emits the Gram matrix G = M * transpose(M) — every entry " +
        "an integer sum of products, hash-exact. The contraction is a " +
        "join on the shared (bucket) dimension + partial-aggregated sums " +
        "— the relational matrix-multiply that scales to sparse matrices " +
        "sharded by row",
      Some("""WITH m AS (SELECT event_type AS r, CAST(EXTRACT(hour FROM ts) AS INTEGER) // 6 AS c,
             |    count(*) AS x FROM events GROUP BY 1, 2)
             |SELECT a.r AS i, b.r AS j, CAST(sum(a.x * b.x) AS BIGINT) AS g
             |FROM m a JOIN m b ON a.c = b.c
             |GROUP BY 1, 2 ORDER BY i, j""".stripMargin),
      (s, dir) => {
        val m = t(s, dir, "events")
          .groupBy(col("event_type").as("r"),
            (hour(col("ts")).cast("int") / lit(6)).cast("int").as("c"))
          .agg(count(lit(1)).as("x"))
        val a = m.select(col("r").as("i"), col("c"), col("x").as("xa"))
        val b = m.select(col("r").as("j"), col("c"), col("x").as("xb"))
        a.join(b, "c")
          .groupBy(col("i"), col("j"))
          .agg(sum(col("xa") * col("xb")).cast("long").as("g"))
          .orderBy(col("i"), col("j"))
      }),

    Op("eval_fft_surface",
      "fft(series) (eval/FFTEvaluator.java, Lang.java:552): 8-point DFT " +
        "of the hourly event-count series x_n = count(hour(ts) = n), " +
        "n = 0..7. The twiddle factors at N=8 are exactly {0, +-1, " +
        "+-sqrt(0.5)}, and each bin's real/imag part is GENERATED as the " +
        "same left-to-right sum chain in Spark and DuckDB from one Scala " +
        "loop — integer inputs, identical IEEE ops, bit-equal doubles " +
        "before the 6-dp round. ifft is the conjugate of the same kernel " +
        "scaled by 1/N (sign-flipped sin row, same generated chain). " +
        "Scale shape: the series itself is one conditional aggregation " +
        "over the corpus, collected once; the DFT is O(N^2) arithmetic on " +
        "that one row",
      Some {
        val xs = (0 until 8).map(n =>
          s"CAST(sum(CASE WHEN EXTRACT(hour FROM ts) = $n THEN 1 ELSE 0 END) AS BIGINT) AS x$n")
          .mkString(", ")
        val bins = (0 until 8).map { k =>
          val re = dftChain(k, cosSym, n => s"x$n", negate = false)
          val im = dftChain(k, sinSym, n => s"x$n", negate = true)
          s"SELECT $k AS k, round($re, 6) AS re, round($im, 6) AS im FROM base"
        }.mkString(" UNION ALL ")
        s"WITH base AS (SELECT $xs FROM events) $bins ORDER BY k"
      },
      (s, dir) => {
        val xs = (0 until 8).map(n =>
          sum(when(hour(col("ts")) === n, 1).otherwise(0)).cast("long").as(s"x$n"))
        val agg = t(s, dir, "events").agg(xs.head, xs.tail: _*)
        val base = s.createDataFrame(java.util.Arrays.asList(agg.collect(): _*), agg.schema)
        val bins = (0 until 8).map { k =>
          base.select(lit(k).as("k"),
            round(expr(dftChain(k, cosSym, n => s"x$n", negate = false)), 6).as("re"),
            round(expr(dftChain(k, sinSym, n => s"x$n", negate = true)), 6).as("im"))
        }
        bins.reduce(_.unionByName(_)).orderBy(col("k"))
      })
  )
}
