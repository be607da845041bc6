package iocbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicIntegerArray, AtomicLong}
import graft.sinks.Transport

/** KV endpoint stand-in owned by the benchmark: every POST is parsed just
  * enough to count records per IOC type, collect `_key`s and, on the stream,
  * time each record against its tweet's due time. Runs inside executor tasks;
  * with a `local[n]` master those share the JVM, so the totals are read
  * directly from [[CountingKv]]. */
final class CountingKvTransport extends Transport {
  def post(endpoint: String, payload: String): Unit = CountingKv.record(payload)
}

/** Per-record latency recorder for the open-loop stream: tweet `i` is due at
  * `t0Ns + i * periodNs`. */
final class StreamTap(val t0Ns: Long, val periodNs: Double, tweets: Int, capacity: Int) {
  val perId = new AtomicIntegerArray(tweets)
  val latencyNs = new Array[Long](capacity)
  val postNs = new Array[Long](capacity)
  val tweetOf = new Array[Int](capacity)
  val batchOf = new Array[Long](capacity)
  val cursor = new AtomicInteger(0)
  @volatile var batch: Long = -1L
  val firstPostNs = new AtomicLong(0L)

  def record(id: Int, now: Long): Unit = {
    perId.incrementAndGet(id)
    firstPostNs.compareAndSet(0L, now)
    val k = cursor.getAndIncrement()
    if (k < capacity) {
      latencyNs(k) = now - (t0Ns + (id * periodNs).toLong)
      postNs(k) = now
      tweetOf(k) = id
      batchOf(k) = batch
    }
  }
}

object CountingKv {
  val posts = new AtomicLong
  val bytes = new AtomicLong
  val records = new AtomicLong
  val byType: Array[AtomicLong] = Array.fill(4)(new AtomicLong)
  val keys: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  @volatile var collectKeys = false
  @volatile var tap: StreamTap = null

  def reset(withKeys: Boolean, streamTap: StreamTap = null): Unit = {
    posts.set(0); bytes.set(0); records.set(0); byType.foreach(_.set(0))
    keys.clear(); collectKeys = withKeys; tap = streamTap
  }

  def typeCounts: Counts = Counts(byType(0).get, byType(1).get, byType(2).get, byType(3).get)

  private val IdTag = "{\"id\":\""
  private val TypeTag = "\"type\":\""
  private val KeyTag = "\"_key\":\""

  /** Records are `to_json` rows of the canonical frame plus `_key`, so the
    * fields arrive in schema order: id first, then type, then _key. */
  def record(payload: String): Unit = {
    val now = System.nanoTime()
    posts.incrementAndGet()
    bytes.addAndGet(payload.length.toLong)
    val t = tap
    var i = payload.indexOf(IdTag)
    while (i >= 0) {
      val idStart = i + IdTag.length
      val idEnd = payload.indexOf('"', idStart)
      val ty = payload.indexOf(TypeTag, idEnd) + TypeTag.length
      val slot = payload.charAt(ty) match {
        case 'i' => 0
        case 'h' => 1
        case 'u' => 2
        case _ => 3
      }
      byType(slot).incrementAndGet()
      records.incrementAndGet()
      val key = payload.indexOf(KeyTag, ty)
      if (collectKeys && key >= 0)
        keys.add(payload.substring(key + KeyTag.length, key + KeyTag.length + 32))
      if (t != null) t.record(payload.substring(idStart, idEnd).toInt, now)
      i = payload.indexOf(IdTag, ty)
    }
  }
}
