package iocbench

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.sinks.RestBatchSink
import graft.streaming.TweetStream

/** `tweet_stream`: open loop. A generator thread offers raw tweets at a
  * fixed rate into an in-process MemoryStream; the stream runs
  * TweetStream.iocStream → keyed RestBatchSink in foreachBatch. Each IOC is
  * timed from its tweet's due time (not its send time) to the POST that
  * carries it, so a stall is charged to every tweet queued behind it. The
  * first `warmup_s` seconds of tweets are delivered and checked but not timed. */
object LiveStream {

  val DrainTimeoutS = 30
  val GenTickMs = 20
  // a fixed trigger keeps each micro-batch at one interval of tweets, so
  // latency is queueing within the interval plus the batch's own cost
  val TriggerMs = 250L

  def run(spark: SparkSession, trace: Trace, o: Opts, setupS: Double): Outcome = {
    val profile = Profile.load(o.corpus)
    val (rate, warmupS) = (profile.streamRate, profile.streamWarmupS)
    val total = rate * (warmupS + o.seconds)
    val corpus = Corpus.generate(o.seed, profile.copy(emails = 0, tweets = total))
    val expected = corpus.tweetRows.total
    val kv = new CountingKvTransport
    // rows of a micro-batch are split over the session's cores, like a
    // partitioned topic would deliver them
    val mem = new MemoryStream[String](1, spark, Some(o.cores))(Encoders.STRING)
    val periodNs = 1e9 / rate
    // The first tweet falls due 10 ms after a trigger tick at least 0.5 s
    // out (ticks sit on multiples of the interval in wall-clock time), so
    // the first batch waits the same 240 ms on every run.
    val (nowMs, nowNs) = (System.currentTimeMillis(), System.nanoTime())
    val firstDueMs = (nowMs + 500) / TriggerMs * TriggerMs + TriggerMs + 10
    val tap = new StreamTap(nowNs + (firstDueMs - nowMs) * 1000000L, periodNs, total,
      expected.toInt)
    CountingKv.reset(withKeys = false, tap)
    val q = TweetStream.iocStream(mem.toDF()).writeStream
      .option("checkpointLocation", s"${o.work}/stream-ckpt")
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        tap.batch = id
        trace.span("stream.sink") {
          RestBatchSink.write(batch, Snapshot.Endpoint, kv, keyed = true)
        }
        ()
      }
      .start()

    var lateMaxNs = 0L
    val gen = new Thread(() => {
      var sent = 0
      while (sent < total) {
        val now = System.nanoTime()
        val due = math.min(total.toLong, ((now - tap.t0Ns) / periodNs).toLong + 1).toInt
        if (due > sent) {
          mem.addData(corpus.tweets.slice(sent, due).toSeq)
          lateMaxNs = math.max(lateMaxNs,
            System.nanoTime() - (tap.t0Ns + (sent * periodNs).toLong))
          sent = due
        }
        Thread.sleep(GenTickMs)
      }
    }, "iocbench-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    val drainDeadline = System.nanoTime() + DrainTimeoutS * 1000000000L
    while (CountingKv.records.get < expected && System.nanoTime() < drainDeadline &&
      q.exception.isEmpty) Thread.sleep(20)
    q.stop()
    val progress = q.recentProgress.toSeq

    // output check: every tweet's keyed IOC records were POSTed, exactly once
    var missing = 0L
    var i = 0
    while (i < total) {
      missing += math.abs(corpus.tweetIocsById(i) - tap.perId.get(i)); i += 1
    }
    val typesOk = CountingKv.typeCounts == corpus.tweetRows
    if (missing > 0 || !typesOk || q.exception.nonEmpty)
      System.err.println(s"[iocbench] stream check: missing=$missing types=" +
        s"${CountingKv.typeCounts} expected=${corpus.tweetRows} error=${q.exception}")
    val failed = missing + (if (!typesOk && missing == 0) 1 else 0) +
      (if (q.exception.nonEmpty) 1 else 0)

    // timed records: tweets due after the warm-up
    val n = math.min(tap.cursor.get, expected.toInt)
    val firstTimed = rate * warmupS
    val timed = (0 until n).filter(k => tap.tweetOf(k) >= firstTimed)
    val lat = timed.map(k => tap.latencyNs(k) / 1e6).toArray
    val (tailMs, tailPct) = Main.tail(timed.map(k => (tap.latencyNs(k) / 1e6, tap.batchOf(k).toLong)))
    val winStart = tap.t0Ns + warmupS * 1000000000L
    val winEnd = winStart + o.seconds * 1000000000L
    val inWindow = (0 until n).count(k => tap.postNs(k) >= winStart && tap.postNs(k) < winEnd)

    val active = progress.filter(_.numInputRows > 0)
    def p50(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double): Double =
      Main.median(active.map(f))
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val idle = progress.sliding(2).collect { case Seq(a, b) =>
      val aEnd = java.time.Instant.parse(a.timestamp).toEpochMilli + dur(a, "triggerExecution")
      java.time.Instant.parse(b.timestamp).toEpochMilli - aEnd
    }.toSeq
    val sinkMs = trace.durations("stream.sink").map(_ * 1000)

    val e2e = Seq(
      "setup_s" -> setupS,
      "cold_s" -> (tap.firstPostNs.get - tap.t0Ns) / 1e9,
      "p50_ms" -> Main.median(lat.toSeq),
      "p90_ms" -> tailMs,
      "rate_per_s" -> inWindow / o.seconds.toDouble)
    val layers = Seq(
      "stream.batches" -> active.size.toDouble,
      "stream.rows_per_batch_p50" -> p50(_.numInputRows.toDouble),
      "stream.trigger_ms_p50" -> p50(dur(_, "triggerExecution")),
      "stream.plan_ms_p50" -> p50(dur(_, "queryPlanning")),
      "stream.offsets_ms_p50" -> p50(p => dur(p, "latestOffset") + dur(p, "walCommit")),
      "stream.commit_ms_p50" -> p50(dur(_, "commitOffsets")),
      "stream.idle_ms_p50" -> Main.median(idle),
      "stream.sink_ms_p50" -> Main.median(sinkMs),
      "stream.sink_ms_p90" -> Main.pct(sinkMs, 0.9),
      "stream.posts" -> CountingKv.posts.get.toDouble,
      "stream.bytes" -> CountingKv.bytes.get.toDouble,
      "gen.late_ms_max" -> lateMaxNs / 1e6)
    Outcome(expected, failed, e2e, layers, Seq("samples" -> lat.length.toDouble, "p90_pct" -> tailPct.toDouble,
        "batches" -> active.size.toDouble,
        "late_ms_max" -> lateMaxNs / 1e6))
  }
}
