package iocbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel
import graft.pipeline.{EmailPipeline, TweetPipeline}
import graft.sinks.{CsvSink, ParquetSink, RestBatchSink}
import graft.sources.LivePastebin

/** `ioc_snapshot`: closed loop, one client. Each snapshot takes the raw
  * corpus (H-ISAC mails as parquet, raw tweets as JSONL) to the last sink
  * byte, into a fresh store directory:
  *
  *  - mails: EmailPipeline → ParquetSink store + CsvSink + keyed RestBatchSink;
  *  - tweets: ReplayJsonlSource (AvailableNow) → TweetPipeline.flatten →
  *    LivePastebin.fetchPages (stub pages) → TweetPipeline.withPastebin →
  *    the same store and keyed RestBatchSink.
  *
  * The first snapshot is the cold one; the rest of the window repeats it.
  * Output checks run after each snapshot, outside its timing. */
object Snapshot {

  val Endpoint = "https://kv.invalid/storage/collections/data/iocs/batch_save"
  val TweetBatch = 20000

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def run(spark: SparkSession, trace: Trace, o: Opts, setupS: Double): Outcome = {
    val profile = Profile.load(o.corpus)
    val corpus = Corpus.generate(o.seed, profile)
    val root = Paths.get(o.work, "snapshot")
    val emailPath = root.resolve("emails.parquet").toString
    val tweetPath = root.resolve("tweets.jsonl")
    Files.createDirectories(root)
    spark.createDataFrame(
      spark.sparkContext.parallelize(corpus.emails.map(e => Row(e.id, e.sender,
        e.subject, e.body,
        java.sql.Timestamp.valueOf(f"2024-01-${e.receivedDay}%02d 12:00:00"))), o.cores),
      graft.model.Schemas.email).write.parquet(emailPath)
    Files.write(tweetPath, corpus.tweets.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val fetcher = new StubPages(o.seed, profile.goneShare)
    val kv = new CountingKvTransport
    val expected = corpus.emailRows + corpus.tweetRows + corpus.pasteRows
    val items = corpus.emails.size + corpus.tweets.length

    var attempted = 0L
    var failed = 0L
    var restFailures = 0L
    // per-snapshot layer counts, summed; restarted after the cold snapshot
    final class Acc {
      var batches, tweetItems, pages, pageHits, emailIocs, tweetIocs = 0L
      var storeBytes, csvBytes, posts, postBytes = 0L
    }
    var acc = new Acc

    def post(df: DataFrame): Unit = trace.span("rest.write") {
      try RestBatchSink.write(df, Endpoint, kv, keyed = true)
      catch { case e: Exception => restFailures += 1; throw e }
    }

    def snapshot(k: Int): Double = {
      val dir = root.resolve(s"snap-$k")
      val store = dir.resolve("store").toString
      CountingKv.reset(withKeys = true)
      val t0 = System.nanoTime()
      val emails = spark.read.parquet(emailPath)
      val iocs = EmailPipeline(emails, graft.SparkEntry.DateAdded)
        .persist(StorageLevel.MEMORY_AND_DISK)
      acc.emailIocs += trace.span("email.extract") { iocs.count() }
      trace.span("store.write") { ParquetSink.write(iocs, store) }
      val csvPath = trace.span("csv.write") {
        CsvSink.write(iocs, dir.resolve("csv").toString, java.time.LocalDate.of(2026, 8, 12))
      }
      post(iocs)
      iocs.unpersist()

      val raw = spark.readStream.format("graft.streaming.ReplayJsonlSource")
        .option("path", tweetPath.toString).option("maxPerBatch", TweetBatch.toString).load()
      val q = trace.span("replay.drain") {
        val q = TweetPipeline.flatten(raw).writeStream
          .option("checkpointLocation", dir.resolve("ckpt").toString)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (flat: DataFrame, _: Long) =>
            flat.persist(StorageLevel.MEMORY_AND_DISK)
            val lookup = trace.span("pastebin.fetch") {
              val p = LivePastebin.fetchPages(flat, fetcher).persist(StorageLevel.MEMORY_AND_DISK)
              p.select(size(col("lines"))).collect().foreach { r =>
                acc.pages += 1; if (r.getInt(0) > 0) acc.pageHits += 1 }
              p
            }
            val enriched = trace.span("pastebin.join") {
              val e = TweetPipeline.withPastebin(flat, lookup).persist(StorageLevel.MEMORY_AND_DISK)
              acc.tweetIocs += e.count()
              e
            }
            trace.span("store.write") { ParquetSink.write(enriched, store) }
            post(enriched)
            enriched.unpersist(); lookup.unpersist(); flat.unpersist()
            ()
          }
          .start()
        q.awaitTermination()
        q
      }
      val wall = (System.nanoTime() - t0) / 1e9
      q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
        acc.batches += 1; acc.tweetItems += p.numInputRows }

      // output checks, outside the timed region: one per sink
      val stored = spark.read.parquet(store).groupBy("type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val csvRows = spark.read.option("header", "true").csv(csvPath).count()
      val kvOk = CountingKv.records.get == expected.total &&
        CountingKv.typeCounts == expected && CountingKv.keys.size == expected.total
      val checks = Seq(
        "store" -> (stored == expected.asMap.filter(_._2 > 0)),
        "csv" -> (csvRows == corpus.emailRows.total),
        "kv" -> kvOk)
      attempted += checks.size
      checks.filterNot(_._2).foreach { case (name, _) =>
        failed += 1
        System.err.println(s"[iocbench] snapshot $k: $name check failed " +
          s"(store=$stored csv=$csvRows kv=${CountingKv.typeCounts}/${CountingKv.keys.size} " +
          s"expected=$expected)")
      }
      acc.storeBytes += dirBytes(Paths.get(store))
      acc.csvBytes += dirBytes(Paths.get(csvPath))
      acc.posts += CountingKv.posts.get
      acc.postBytes += CountingKv.bytes.get
      wall
    }

    def guarded(k: Int): Option[Double] =
      try Some(snapshot(k))
      catch { case e: Exception =>
        attempted += 3; failed += 3
        System.err.println(s"[iocbench] snapshot $k failed: $e")
        None
      }

    val cold = guarded(0)
    // per-layer figures describe the steady snapshots only
    trace.reset()
    acc = new Acc
    val t0 = System.nanoTime()
    val walls = scala.collection.mutable.ArrayBuffer[Double]()
    var k = 1
    // at least two steady snapshots; then stop before one that would
    // likely end past the window
    while (walls.size < 2 ||
      (System.nanoTime() - t0) / 1e9 + Main.median(walls.toSeq) <= o.seconds) {
      guarded(k).foreach(walls += _)
      k += 1
      if (walls.isEmpty && k > 3) throw new IllegalStateException("no snapshot succeeded")
    }
    trace.drain()
    val n = walls.size.toDouble

    def per(v: Double): Double = v / n
    def layer(name: String): Seq[(String, Double)] = {
      val t = trace.spark(name)
      Seq(s"$name.task_cpu_s" -> per(t.taskCpuS), s"$name.stages" -> per(t.stages))
    }
    val layers =
      Seq("email.extract_s" -> per(trace.seconds("email.extract")),
        "email.items" -> corpus.emails.size.toDouble,
        "email.iocs" -> per(acc.emailIocs.toDouble),
        "replay.drain_s" -> per(trace.seconds("replay.drain")),
        "replay.batches" -> per(acc.batches.toDouble),
        "tweet.items" -> per(acc.tweetItems.toDouble),
        "tweet.iocs" -> per(acc.tweetIocs.toDouble),
        "pastebin.fetch_s" -> per(trace.seconds("pastebin.fetch")),
        "pastebin.join_s" -> per(trace.seconds("pastebin.join")),
        "pastebin.pages" -> per(acc.pages.toDouble),
        "pastebin.hit_ratio" -> (if (acc.pages == 0) 0.0 else acc.pageHits.toDouble / acc.pages),
        "store.write_s" -> per(trace.seconds("store.write")),
        "store.bytes" -> per(acc.storeBytes.toDouble),
        "csv.write_s" -> per(trace.seconds("csv.write")),
        "csv.bytes" -> per(acc.csvBytes.toDouble),
        "rest.write_s" -> per(trace.seconds("rest.write")),
        "rest.posts" -> per(acc.posts.toDouble),
        "rest.bytes" -> per(acc.postBytes.toDouble),
        "rest.failures" -> restFailures.toDouble) ++
        Seq("email.extract", "replay.drain", "pastebin.fetch", "pastebin.join",
          "store.write", "csv.write", "rest.write").flatMap(layer)

    val coldS = cold.getOrElse(0.0)
    val (tailS, tailPct) = Main.tailOfOps(walls.toSeq)
    val e2e = Seq(
      "setup_s" -> setupS,
      "cold_s" -> coldS,
      "p50_ms" -> Main.median(walls.toSeq) * 1000,
      "p90_ms" -> tailS * 1000,
      "rate_per_s" -> items * n / walls.sum)
    Outcome(attempted, failed, e2e, layers, Seq("samples" -> n, "p90_pct" -> tailPct.toDouble,
      "items" -> items.toDouble))
  }
}
