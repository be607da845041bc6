package iocbench

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** `query_mix`: closed loop, one client, over the warm store. Set-up adds
  * `Warm.all`; then one cold pass and warm passes until the window is used
  * (at least one), each pass a noop write per query in a seed-shuffled order.
  *
  * After the cold pass, each query runs once more, untimed, with an `observe`
  * of its row count and an order-independent hash (sum of per-row xxhash64
  * of the row's JSON); both must equal the goldens in perfbench/goldens.txt.
  * The timed executions carry no check. */
object QueryMix {

  val Queries: Seq[String] = Seq(
    "ioc_first_seen", "ioc_etl_audit", "ioc_run_ledger", "ioc_confirmation_lag",
    "q5_join", "q9_profit", "q21_waiting", "cube_agg", "grouping_sets",
    "events_sessionize", "events_wau_sketch", "dedup_ngram_jaccard",
    "dedup_substring", "sim_recall_pqr", "text_rake", "text_winnowing",
    "graph_pagerank", "window_topk", "join_asof", "basket_pairs")

  /** The checked form of a query result: (rows, hash). */
  def observed(df: DataFrame, obs: Observation): DataFrame =
    df.observe(obs, count(lit(1)).as("n"),
      sum(pmod(xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*))),
        lit(2147483647L))).as("h"))

  /** One timed execution: a noop write of the query. */
  def execute(spark: SparkSession, o: Opts, name: String): Double = {
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(name)(spark, o.data).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** One checked execution: the query's (rows, hash). */
  def check(spark: SparkSession, o: Opts, name: String): (Long, Long) = {
    val obs = Observation(s"check_$name")
    observed(graft.SparkEntry.queries(name)(spark, o.data), obs)
      .write.format("noop").mode("overwrite").save()
    val row = Await.result(obs.future, 60.seconds)
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  /** Goldens file: one `name rows hash` line per query. */
  def goldens(path: String): Map[String, (Long, Long)] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().filter(_.trim.nonEmpty).map { l =>
      val Array(n, r, h) = l.trim.split("\\s+")
      n -> (r.toLong, h.toLong)
    }.toMap finally src.close()
  }

  def run(spark: SparkSession, trace: Trace, o: Opts, setupS: Double): Outcome = {
    val golden = goldens(o.goldens)
    val warmT0 = System.nanoTime()
    val ledger = trace.span("warm") { graft.operators.Warm.all(spark, o.data) }
    val warmS = (System.nanoTime() - warmT0) / 1e9
    val cacheMb = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1e6

    var attempted = 0L
    var failed = 0L
    val perQuery = scala.collection.mutable.Map[String, Vector[Double]]().withDefaultValue(Vector())
    val passWalls = scala.collection.mutable.ArrayBuffer[Double]()
    val codegen = scala.collection.mutable.Map[String, (Long, Double)]().withDefaultValue((0L, 0.0))

    def pass(p: Int): Unit = {
      val kind = if (p == 0) "mix.cold" else "mix.warm"
      val order = new scala.util.Random(o.seed * 1000 + p).shuffle(Queries)
      val (c0, ms0) = Trace.codegen()
      val t0 = System.nanoTime()
      trace.span(kind) {
        order.foreach { name =>
          attempted += 1
          try {
            val secs = trace.span(s"q.$name") { execute(spark, o, name) }
            if (p > 0) perQuery(name) :+= secs
          } catch { case e: Exception =>
            failed += 1
            System.err.println(s"[iocbench] $name failed: $e")
          }
        }
      }
      passWalls += (System.nanoTime() - t0) / 1e9
      val (c1, ms1) = Trace.codegen()
      val (c, ms) = codegen(kind)
      codegen(kind) = (c + c1 - c0, ms + ms1 - ms0)
    }

    pass(0)
    // output checks: untimed, outside every span, once per run; they run
    // side by side (one job per core) only to keep the run short
    val checkT0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(o.cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val checks = Queries.map(name => name -> Future(Try(check(spark, o, name))))
    checks.foreach { case (name, f) =>
      attempted += 1
      Await.result(f, 170.seconds) match {
        case Success(got) if golden.get(name).contains(got) =>
        case Success(got) =>
          failed += 1
          System.err.println(s"[iocbench] $name: got $got, golden ${golden.get(name)}")
        case Failure(e) =>
          failed += 1
          System.err.println(s"[iocbench] $name check failed: $e")
      }
    }
    pool.shutdown()
    val checkS = (System.nanoTime() - checkT0) / 1e9
    val warmStart = System.nanoTime()
    var p = 1
    while (p == 1 || (System.nanoTime() - warmStart) / 1e9 < o.seconds) { pass(p); p += 1 }
    trace.drain()
    val warmPasses = passWalls.size - 1
    val warmWalls = passWalls.tail.toSeq
    val (tailS, tailPct) = Main.tailOfOps(warmWalls)

    def passLayers(kind: String, passes: Int): Seq[(String, Double)] = {
      val t = trace.spark(kind)
      val (c, ms) = codegen(kind)
      Seq("plan_ms" -> t.planMs.toDouble, "codegen_classes" -> c.toDouble,
        "codegen_ms" -> ms, "stages" -> t.stages.toDouble, "task_cpu_s" -> t.taskCpuS,
        "shuffle_bytes" -> t.shuffleBytes.toDouble, "idle_ms" -> t.idleMs.toDouble)
        .map { case (k, v) => s"$kind.$k" -> v / passes }
    }
    val e2e = Seq(
      "setup_s" -> (setupS + warmS),
      "cold_s" -> passWalls.head,
      "p50_ms" -> Main.median(warmWalls) * 1000,
      "p90_ms" -> tailS * 1000,
      "rate_per_s" -> Queries.size * warmPasses / warmWalls.sum)
    val layers =
      Seq("warm.wall_s" -> warmS, "mix.cache_mb" -> cacheMb) ++
        ledger.map { case (b, s) => s"warm.${b}_s" -> s } ++
        passLayers("mix.cold", 1) ++ passLayers("mix.warm", warmPasses) ++
        Queries.map(q => s"q.${q}_s" -> Main.median(perQuery(q)))
    Outcome(attempted, failed, e2e, layers, Seq("samples" -> warmPasses.toDouble,
      "p90_pct" -> tailPct.toDouble, "check_s" -> checkS, "cache_mb" -> cacheMb))
  }
}
