package iocbench

import java.util.SplittableRandom
import graft.sources.PageFetcher

/** Input properties the extraction cost depends on, read from
  * perfbench/corpus.json. The seed only decides which items get which
  * property; sizes are per snapshot corpus, rates per stream run. */
final case class Profile(
    emails: Int,                // H-ISAC-style mails per snapshot corpus
    tweets: Int,                // raw tweets per snapshot corpus
    streamRate: Int,            // tweets offered per second on the stream
    streamWarmupS: Int,         // untimed lead-in of the stream
    bodyChars: (Int, Int),      // email body length range (uniform in log space)
    emailIocs: (Int, Int),      // planted IOCs per kept email
    tweetIocs: (Int, Int),      // planted IOCs per kept tweet
    defangShare: Double,        // share of email ip/url/email IOCs with defanged dots or @
    replyShare: Double,         // share of emails carrying a quoted reply chain
    offTopicShare: Double,      // share of emails without "indicator" in the subject
    retweetShare: Double,       // share of tweets the pipeline must drop
    extendedShare: Double,      // share of tweets whose text sits in extended_tweet
    pastebinShare: Double,      // share of tweets linking a pastebin page
    goneShare: Double,          // share of linked pages that come back empty
    repeatShare: Double)        // share of IOCs drawn from a pool shared across items

object Profile {
  def load(path: String): Profile = {
    val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    def range(k: String) = (j.get(k).get(0).asInt, j.get(k).get(1).asInt)
    def share(k: String) = j.get(k).asDouble
    Profile(
      emails = j.get("snapshot").get("emails").asInt,
      tweets = j.get("snapshot").get("tweets").asInt,
      streamRate = j.get("stream").get("tweets_per_s").asInt,
      streamWarmupS = j.get("stream").get("warmup_s").asInt,
      bodyChars = range("email_body_chars"), emailIocs = range("iocs_per_email"),
      tweetIocs = range("iocs_per_tweet"), defangShare = share("defang_share"),
      replyShare = share("reply_chain_share"), offTopicShare = share("off_topic_share"),
      retweetShare = share("retweet_share"), extendedShare = share("extended_tweet_share"),
      pastebinShare = share("pastebin_link_share"), goneShare = share("pastebin_gone_share"),
      repeatShare = share("repeated_indicator_share"))
  }
}

/** Per-type IOC counts; index order follows [[Corpus.Types]]. */
final case class Counts(ip: Long, hash: Long, url: Long, email: Long) {
  def +(o: Counts): Counts = Counts(ip + o.ip, hash + o.hash, url + o.url, email + o.email)
  def total: Long = ip + hash + url + email
  def asMap: Map[String, Long] = Map("ip" -> ip, "hash" -> hash, "url" -> url, "email" -> email)
}
object Counts {
  val zero: Counts = Counts(0, 0, 0, 0)
  def of(t: String): Counts = t match {
    case "ip" => Counts(1, 0, 0, 0)
    case "hash" => Counts(0, 1, 0, 0)
    case "url" => Counts(0, 0, 1, 0)
    case "email" => Counts(0, 0, 0, 1)
  }
}

final case class Email(id: String, sender: String, subject: String, body: String,
                       receivedDay: Int)

/** A generated corpus plus what the pipeline must make of it.
  *  - `emailRows`: rows the email path emits (kept mails, before the reply marker);
  *  - `tweetRows`: rows extracted from kept tweet texts;
  *  - `pasteRows`: classified lines of the first pastebin page each kept tweet links;
  *  - `tweetIocsById`: tweet-text rows per tweet id (the stream check). */
final case class Corpus(emails: Seq[Email], tweets: Array[String],
                        emailRows: Counts, tweetRows: Counts, pasteRows: Counts,
                        tweetIocsById: Array[Int])

/** Deterministic IOC page source for the enrichment path: each pastebin URL
  * maps to a fixed page built from the URL and the seed, so the expected
  * enrichment rows are known without a network. */
final class StubPages(seed: Long, goneShare: Double) extends PageFetcher {
  def fetch(url: String): Seq[String] = StubPages.page(seed, goneShare, url)
}

object StubPages {
  def page(seed: Long, goneShare: Double, url: String): Seq[String] = {
    val r = new SplittableRandom(seed * 31 + url.hashCode)
    if (r.nextDouble() < goneShare) Seq.empty
    else {
      val n = 2 + r.nextInt(8)
      (0 until n).map { _ =>
        r.nextInt(5) match {
          case 0 => s"192.168.${r.nextInt(256)}.${r.nextInt(256)}"
          case 1 => s"paste-${r.nextInt(100000)}.example.net/drop"
          case 2 => Corpus.hex(r, 40)
          case 3 => "see attached notes"
          case _ => s"203.0.${r.nextInt(256)}.${r.nextInt(256)}"
        }
      }.distinct
    }
  }

  /** Row type of a page line after `Iocs.classify`, None when unmatched. */
  def classify(line: String): Option[String] =
    if (line.contains(".") && line.matches("[0-9]+(\\.[0-9]+)*")) Some("ip")
    else if (line.contains(".")) Some("url")
    else if (line.matches("^[a-zA-Z0-9]{32,64}.*")) Some("hash")
    else None
}

/** Seeded corpus generator for `ioc_snapshot` and `tweet_stream`.
  *
  * Every planted IOC sits on its own token with non-word characters around
  * it, so each extraction regex yields it exactly once; filler prose is
  * lower-case words only and cannot match any IOC pattern. IOCs quoted
  * after the reply-chain marker are planted too, but must not come out. */
object Corpus {
  val Types: Seq[String] = Seq("ip", "hash", "url", "email")

  private val words = ("threat actor campaign observed network traffic beacon " +
    "payload loader stage dropper credential phishing lure domain infrastructure " +
    "sinkhole telemetry analyst report sector hospital clinic vendor patch advisory " +
    "ransomware affiliate negotiation exfiltration persistence lateral movement " +
    "scheduled task registry service account privilege escalation mitigation").split(' ')

  private[iocbench] def hex(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append("0123456789abcdef".charAt(r.nextInt(16))); i += 1 }
    sb.toString
  }

  private def between(r: SplittableRandom, lohi: (Int, Int)): Int =
    lohi._1 + r.nextInt(lohi._2 - lohi._1 + 1)

  private def filler(r: SplittableRandom, sb: StringBuilder, chars: Int): Unit = {
    val end = sb.length + chars
    while (sb.length < end) {
      sb.append(words(r.nextInt(words.length)))
      sb.append(if (r.nextInt(12) == 0) ".\n" else " ")
    }
    sb.append('\n')
  }

  /** One email IOC of type `t`; `n` picks the indicator value. */
  private def emailIoc(t: String, n: Int, defang: Boolean, r: SplittableRandom): String = {
    val dot = if (defang) "[.]" else "."
    t match {
      case "ip" => s"ip: 10$dot${(n >> 16) & 255}$dot${(n >> 8) & 255}$dot${n & 255}"
      case "hash" =>
        val h = new SplittableRandom(n.toLong * 7919).nextLong()
        val len = Seq(32, 40, 64)(n % 3)
        "hash: " + (f"${h}%016x" * 4).take(len)
      case "url" =>
        // the URL pattern only admits the defanged hxxp(s)/meow(s) schemes
        s"url: hxxps://evil-$n${dot}example${dot}com/payload"
      case "email" =>
        val at = if (defang && r.nextBoolean()) "[@]" else "@"
        s"contact: mailto:analyst$n${at}bad[.]domain[.]com"
    }
  }

  /** Distinct indicator numbers for one item: pool draws (shared across
    * items) for `repeatShare`, fresh numbers otherwise. */
  private def pick(r: SplittableRandom, k: Int, repeat: Double, fresh: () => Int): Seq[Int] = {
    val out = scala.collection.mutable.LinkedHashSet[Int]()
    while (out.size < k)
      out += (if (r.nextDouble() < repeat) 1 + r.nextInt(500) else fresh())
    out.toSeq
  }

  def generate(seed: Long, p: Profile): Corpus = {
    val r = new SplittableRandom(seed)
    var next = 1000
    val fresh = () => { next += 1; next }

    var emailRows = Counts.zero
    val emails = (0 until p.emails).map { i =>
      val offTopic = r.nextDouble() < p.offTopicShare
      val reply = r.nextDouble() < p.replyShare
      val (lo, hi) = p.bodyChars
      val target = math.exp(math.log(lo) + r.nextDouble() * (math.log(hi) - math.log(lo))).toInt
      val k = between(r, p.emailIocs)
      val iocs = (0 until k).map(_ => Types(r.nextInt(4)))
        .groupBy(identity).toSeq.sortBy(_._1)
        .flatMap { case (t, ts) => pick(r, ts.size, p.repeatShare, fresh).map(t -> _) }
      val shuffled = iocs.sortBy(_ => r.nextInt())
      val sb = new StringBuilder(target + 512)
      sb.append("Dear team,\nNew indicators follow.\n")
      val perGap = math.max(40, (target - 200) / (shuffled.size + 1))
      shuffled.foreach { case (t, n) =>
        filler(r, sb, perGap)
        sb.append(emailIoc(t, n, r.nextDouble() < p.defangShare, r)).append('\n')
      }
      filler(r, sb, perGap)
      sb.append("Regards,\nAnalyst\n")
      if (reply) {
        sb.append("\nFrom: H-ISAC Amber List\nSent: earlier\n")
        filler(r, sb, 200)
        sb.append(emailIoc("ip", 1 + r.nextInt(500), true, r)).append('\n')
        sb.append(emailIoc("url", fresh(), true, r)).append('\n')
      }
      if (!offTopic) shuffled.foreach { case (t, _) => emailRows = emailRows + Counts.of(t) }
      Email(s"conv-$seed-$i", s"sender-${r.nextInt(200)}",
        if (offTopic) s"FYI digest $i" else s"Indicator update $i",
        sb.toString, 1 + r.nextInt(9))
    }

    var tweetRows = Counts.zero
    var pasteRows = Counts.zero
    val byId = new Array[Int](p.tweets)
    val pagePool = math.max(1, (p.tweets * p.pastebinShare / 3).toInt)
    val tweets = Array.tabulate(p.tweets) { i =>
      val retweet = r.nextDouble() < p.retweetShare
      val k = between(r, p.tweetIocs)
      val iocs = (0 until k).map(_ => Seq("ip", "hash", "url")(r.nextInt(3)))
        .groupBy(identity).toSeq.sortBy(_._1)
        .flatMap { case (t, ts) => pick(r, ts.size, p.repeatShare, fresh).map(t -> _) }
      val text = new StringBuilder
      if (retweet && r.nextBoolean()) text.append("RT @bot: ")
      text.append(words(r.nextInt(words.length))).append(' ')
      iocs.sortBy(_ => r.nextInt()).foreach { case (t, n) =>
        text.append(t match {
          case "ip" => s"172.${16 + ((n >> 16) & 15)}.${(n >> 8) & 255}.${n & 255}"
          case "hash" =>
            val h = new SplittableRandom(n.toLong * 104729).nextLong()
            (f"${h}%016x" * 4).take(Seq(32, 40, 64)(n % 3))
          case "url" => s"hxxp://drop-$n.example.org/p"
        })
        text.append(' ').append(words(r.nextInt(words.length))).append(' ')
      }
      val body = text.toString.trim
      val extended = r.nextDouble() < p.extendedShare
      val paste = r.nextDouble() < p.pastebinShare
      val pasteUrl = s"https://pastebin.com/raw/p$seed-${r.nextInt(pagePool)}"
      val urls =
        if (paste) s"""[{"expanded_url":"https://example.com/story"},{"expanded_url":"$pasteUrl"}]"""
        else "[]"
      val textField =
        if (extended) s""""text":"${if (retweet && body.startsWith("RT @")) "RT @bot: " else ""}short preview","extended_tweet":{"full_text":"$body"}"""
        else s""""text":"$body""""
      if (!retweet) {
        byId(i) = iocs.size
        iocs.foreach { case (t, _) => tweetRows = tweetRows + Counts.of(t) }
        if (paste)
          StubPages.page(seed, p.goneShare, pasteUrl).flatMap(StubPages.classify)
            .foreach(t => pasteRows = pasteRows + Counts.of(t))
      }
      s"""{"created_at":"2024-02-0${1 + (i % 9)}","id":$i,$textField,"retweeted":${retweet && !body.startsWith("RT @")},"user":{"screen_name":"u${i % 997}"},"entities":{"hashtags":[{"text":"malware"}],"urls":$urls}}"""
    }
    Corpus(emails, tweets, emailRows, tweetRows, pasteRows, byId)
  }
}
