package graftbench

import java.time.Instant
import java.util.SplittableRandom

/** One generated tweet and what the pipeline must make of it.
  *
  * `key` is the tweet's due time in epoch milliseconds. It is stamped
  * into `created_at` (and, for a malformed payload, into the raw text as
  * `due=<key>`), so every index row can be traced back to its tweet. */
final case class Tweet(key: Long, json: String, malformed: Boolean,
                       userId: Long, hashtags: Seq[String], score: Int) {

  /** The sentiment the index must hold. A malformed payload parses to
    * all-null fields, and a null score falls through to "neutral". */
  def sentiment: String =
    if (malformed || score == 0) "neutral" else if (score > 0) "positive" else "negative"
}

/** Seeded tweet generator shared by the ingest and index workloads.
  *
  * Text mixes the engine's sentiment lexicon with neutral filler words;
  * hashtags and users are Zipf-skewed, as on a real feed; about 1% of
  * payloads are malformed JSON. The expected hashtags and score of each
  * tweet are known by construction, never by running the pipeline. Tweet
  * `i` depends only on (seed, i), so any process can regenerate it. */
final class TweetGen(seed: Long) {
  import TweetGen._

  private val hashtagCdf = zipfCdf(Hashtags, 1.1)
  private val userCdf = zipfCdf(Users, 1.0)

  def hashtag(rank: Int): String = "#h" + pad(rank, 3)
  def userId(rank: Int): Long = 1000L + rank

  private def rng(i: Long, salt: Long): SplittableRandom =
    new SplittableRandom(mix(seed * 0x9E3779B97F4A7C15L + i * 31 + salt))

  def tweet(i: Int, key: Long): Tweet = {
    val r = rng(i, 1)
    val created = Instant.ofEpochMilli(key).toString
    if (r.nextInt(100) == 0) {
      val json = s"""{"created_at":"$created","text":"due=$key truncated"""
      return Tweet(key, json, malformed = true, -1L, Nil, 0)
    }
    val user = userId(sample(userCdf, r))
    val nTags = Seq(0, 0, 0, 1, 1, 1, 1, 2, 2, 3)(r.nextInt(10))
    val tags = Iterator.continually(hashtag(sample(hashtagCdf, r)))
      .distinct.take(nTags).toVector
    val nWords = 6 + r.nextInt(15)
    var score = 0
    val words = Vector.fill(nWords) {
      if (r.nextInt(3) == 0) {
        val (w, s) = Lexicon(r.nextInt(Lexicon.size))
        score += s
        if (r.nextInt(10) == 0) w.capitalize else w
      } else Filler(r.nextInt(Filler.size))
    }
    // hashtags go in at random places; some carry trailing punctuation,
    // which the #\w+ extraction must strip
    val tokens = tags.foldLeft(words) { (ws, t) =>
      val at = r.nextInt(ws.size + 1)
      val tok = if (r.nextInt(4) == 0) t + "!" else t
      ws.patch(at, Seq(tok), 0)
    }
    val geo =
      if (r.nextInt(10) < 3)
        s""","geo":{"lat":${coord(r, 90)},"lon":${coord(r, 180)}}"""
      else ""
    val json = s"""{"created_at":"$created","text":"${tokens.mkString(" ")}",""" +
      s""""user":{"id":$user,"name":"user$user"}$geo}"""
    // hashtags come out in text order
    val inOrder = tokens.filter(_.startsWith("#")).map(_.stripSuffix("!"))
    Tweet(key, json, malformed = false, user, inOrder, score)
  }

  /** The query mix the index is read with. */
  def query(r: SplittableRandom): IndexQuery = r.nextInt(4) match {
    case 0 => ByHashtag(hashtag(sample(hashtagCdf, r)))
    case 1 => BySentiment(Seq("positive", "negative", "neutral")(r.nextInt(3)))
    case 2 => ByUser(userId(sample(userCdf, r)))
    case _ => HashtagSentiment(hashtag(sample(hashtagCdf, r)))
  }
}

sealed trait IndexQuery
final case class ByHashtag(tag: String) extends IndexQuery
final case class BySentiment(sentiment: String) extends IndexQuery
final case class ByUser(id: Long) extends IndexQuery
final case class HashtagSentiment(tag: String) extends IndexQuery

/** What each query must return over a set of tweets, derived from the
  * generator's own expectations. Row-returning queries are checked by
  * the exact set of keys; the count query by its whole result. */
final class Expected(tweets: Seq[Tweet]) {
  private val byTag: Map[String, Seq[Tweet]] =
    tweets.flatMap(t => t.hashtags.distinct.map(_ -> t)).groupMap(_._1)(_._2)
  private val bySentiment = tweets.groupBy(_.sentiment)
  private val byUser = tweets.filterNot(_.malformed).groupBy(_.userId)

  def keys(q: IndexQuery): Set[Long] = q match {
    case ByHashtag(t) => byTag.getOrElse(t, Nil).map(_.key).toSet
    case BySentiment(s) => bySentiment.getOrElse(s, Nil).map(_.key).toSet
    case ByUser(u) => byUser.getOrElse(u, Nil).map(_.key).toSet
    case HashtagSentiment(_) => sys.error("count query has no key set")
  }

  def counts(q: HashtagSentiment): Map[String, Long] =
    byTag.getOrElse(q.tag, Nil).groupBy(_.sentiment).map { case (s, ts) => s -> ts.size.toLong }
}

object TweetGen {
  val Lexicon: Vector[(String, Int)] = graft.functions.Fixtures.sentimentLexicon.toVector
  val Filler: Vector[String] = Vector("the", "a", "data", "stream", "query",
    "index", "tweet", "today", "is", "on", "new", "release", "cluster", "job")
  val Hashtags = 200
  val Users = 500

  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  private def coord(r: SplittableRandom, range: Double): String =
    "%.5f".formatLocal(java.util.Locale.ROOT, (r.nextDouble() * 2 - 1) * range)

  /** `n` zero-padded to `width` digits, whatever the JVM's locale. */
  def pad(n: Int, width: Int): String =
    String.format(java.util.Locale.ROOT, s"%0${width}d", Int.box(n))

  /** Rank (0-based) drawn from a Zipf CDF. */
  def sample(cdf: Array[Double], r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    (if (i >= 0) i else -i - 1) min (cdf.length - 1)
  }

  /** SplitMix64 finaliser: decorrelates neighbouring seeds. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
