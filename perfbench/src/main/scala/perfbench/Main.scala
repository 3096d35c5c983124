package perfbench

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Runs one workload (or `all` three) and prints its metrics; the last
  * stdout line is `RESULT <json>`.
  *
  * Usage: perfbench.Main --workload build|query|ingest|all --seed N
  *   --seconds S --trace 0|1 --work DIR --out DIR --cores C */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, out: String, cores: Int)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("work"), get("out"), get("cores").toInt)
  }

  private def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("solrspark-perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def metricsJson(ms: Iterable[(String, (Double, String))]): JObject =
    JObject(ms.map { case (k, (v, u)) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is not a number: $v")
      k -> JObject("value" -> JDouble(v), "unit" -> JString(u))
    }.toList)

  def json(v: JValue): String = compact(render(v))

  private def report(r: Run, a: Args): Unit = {
    val frac = if (r.attempted == 0) 0.0 else r.failed.toDouble / r.attempted
    r.named("failed_frac") = (frac, "ratio")
    println(s"== ${r.workload}: seed ${a.seed}, ${a.seconds} s, trace ${if (a.trace) "on" else "off"}, " +
      s"local[${a.cores}]; ${r.attempted} operations, ${r.failed} failed")
    def show(kind: String, ms: Iterable[(String, (Double, String))]): Unit =
      ms.foreach { case (k, (v, u)) => println(f"  $kind%-6s $k%-46s $v%16.4f $u") }
    show("e2e", r.e2e)
    show("named", r.named)
    show("layer", r.layer)
    r.notes.foreach { case (k, v) => println(s"  note   $k ${json(v)}") }
    r.failures.take(20).foreach(f => println(s"  FAILED $f"))
    println("E2E " + json(JObject("workload" -> JString(r.workload),
      "metrics" -> metricsJson(r.e2e ++ r.named))))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workloads = if (a.workload == "all") Seq("build", "query", "ingest") else Seq(a.workload)
    val spark = session(a)
    val runs = try workloads.map { w =>
      val tracer = new Tracer(spark.sparkContext, a.trace)
      val r = new Run(w, spark, tracer, a.seed, a.seconds, a.cores, s"${a.work}/$w")
      Workloads.run(r)
      if (a.trace) {
        Layers.All.foreach { case (k, u) => if (!r.layer.contains(k)) r.layer(k) = (0.0, u) }
        tracer.write(s"${a.out}/trace-$w-seed${a.seed}.json", JObject(
          "workload" -> JString(w), "seed" -> JInt(a.seed), "seconds" -> JInt(a.seconds),
          "cores" -> JInt(a.cores), "e2e" -> metricsJson(r.e2e), "named" -> metricsJson(r.named),
          "layer" -> metricsJson(r.layer), "notes" -> JObject(r.notes.toList)))
      }
      tracer.close()
      report(r, a)
      r
    } finally spark.stop()

    def metricsOf(r: Run) =
      if (a.trace) Layers.All.map { case (k, _) => k -> r.layer(k) } else r.e2e.toSeq
    val metrics =
      if (runs.length == 1) metricsOf(runs.head)
      else runs.flatMap(r => metricsOf(r).map { case (k, v) => s"${r.workload}.$k" -> v })
    println("RESULT " + json(JObject(
      "correct" -> JBool(runs.forall(_.failed == 0)),
      "attempted" -> JInt(runs.map(_.attempted).sum),
      "failed" -> JInt(runs.map(_.failed).sum),
      "metrics" -> metricsJson(metrics))))
  }
}
