package iocbench

import org.apache.spark.sql.SparkSession

/** What one workload run reports: operations attempted and failed (a throw
  * or a failed output check), the end-to-end metrics, the per-layer metrics
  * (printed when traced, with the end-to-end ones as `trace.<name>`) and
  * diagnostics. */
final case class Outcome(attempted: Long, failed: Long,
                         e2e: Seq[(String, Double)],
                         layers: Seq[(String, Double)],
                         diag: Seq[(String, Double)] = Nil)

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, data: String, goldens: String, corpus: String,
                      cores: Int)

/** Benchmark process: one workload, one seed, one JSON result line.
  *
  *   iocbench.Main --workload W --seed N --seconds S --trace 0|1
  *                 --work DIR --data DIR --goldens FILE --corpus FILE --cores C
  *
  * `--work` is a scratch directory the run owns; `--data` holds the parquet
  * tables the query mix reads and `--goldens` its expected results;
  * `--corpus` sets the generated inputs of the other two workloads. With
  * `--workload goldens` the process instead prints one `golden <query> <rows>
  * <hash>` line per mix query, which is how the goldens file is made.
  * Set-up (session start and warm-up, plus `Warm.all` for the query mix) is
  * the process's one real start, class loading and JIT warm-up included. */
object Main {

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        graft.Tuning.initialShufflePartitions(o.data, o.cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "5000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session start plus the warm-up graft.Bench performs: a codegen'd
    * aggregate and the flagship email ETL query; the query mix, which reads
    * the tables, also touches each of them once. */
  def setupOnce(o: Opts): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val s = session(o)
    s.range(1000000L).selectExpr("sum(id)").collect()
    graft.SparkEntry.queries("ioc_email_etl")(s, o.data)
      .write.format("noop").mode("overwrite").save()
    if (o.workload == "query_mix")
      Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings").foreach { t =>
        s.read.parquet(s"${o.data}/$t.parquet").write.format("noop").mode("overwrite").save()
      }
    (s, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  /** The tail figure of `p90_ms`: the highest nearest-rank percentile from
    * p90 down to p51 with at least ten distinct groups (repeated operations,
    * or the micro-batches that delivered the samples) beyond it; the median
    * when none has that many. Returns the value and the percentile used (50
    * for the median). */
  def tail(samples: Seq[(Double, Long)]): (Double, Int) = {
    val sorted = samples.sortBy(_._1).toArray
    if (sorted.isEmpty) return (0.0, 50)
    (90 to 51 by -1).iterator.map { p =>
      val idx = math.min(sorted.length - 1, math.max(0, math.ceil(p / 100.0 * sorted.length).toInt - 1))
      val beyond = sorted.iterator.drop(idx + 1).map(_._2).toSet.size
      (sorted(idx)._1, p, beyond)
    }.find(_._3 >= 10).map(t => (t._1, t._2)).getOrElse((median(sorted.map(_._1).toSeq), 50))
  }

  /** [[tail]] over samples that are each their own operation. */
  def tailOfOps(xs: Seq[Double]): (Double, Int) =
    tail(xs.zipWithIndex.map { case (x, i) => (x, i.toLong) })

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("data"), need("goldens"),
      need("corpus"),
      m.getOrElse("cores", "4").toInt)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    if (o.workload == "goldens") {
      val (s, _) = setupOnce(o)
      graft.operators.Warm.all(s, o.data)
      QueryMix.Queries.sorted.foreach { q =>
        val (rows, hash) = QueryMix.check(s, o, q)
        println(s"golden $q $rows $hash")
      }
      s.stop()
      sys.exit(0)
    }
    val trace = new Trace(o.trace)
    val run: (SparkSession, Trace, Opts, Double) => Outcome = o.workload match {
      case "ioc_snapshot" => Snapshot.run
      case "tweet_stream" => LiveStream.run
      case "query_mix" => QueryMix.run
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val (spark, setupS) = setupOnce(o)
    trace.attach(spark)
    val out = run(spark, trace, o, setupS)
    trace.drain()
    spark.stop()
    val e2e = out.e2e.map { case (k, v) => s""""$k":${num(v)}""" }
    val layers =
      if (!o.trace) Nil
      else (out.layers ++ out.e2e.map { case (k, v) => s"trace.$k" -> v })
        .map { case (k, v) => s""""$k":${num(v)}""" }
    val diag = out.diag
      .map { case (k, v) => s""""$k":${num(v)}""" }
    println(s"""{"iocbench":{"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""e2e":${e2e.mkString("{", ",", "}")},"layers":${layers.mkString("{", ",", "}")},""" +
      s""""diag":${diag.mkString("{", ",", "}")}}}""")
    System.out.flush()
    sys.exit(0)
  }
}
