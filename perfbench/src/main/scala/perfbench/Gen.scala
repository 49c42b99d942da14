package perfbench

/** One reference-style log row. Column names are the flattened forms
  * of the reference's dotted paths (`user.metrics.clicks` →
  * `user_metrics_clicks`), so R5 path resolution is exercised. */
final case class LogRow(
    doc_id: Long,
    level: String,
    source_region: String,
    source_host: String,
    user_id: String,
    user_metrics_clicks: Long,
    user_metrics_latency_ms: Double,
    message: String)

final case class Doc(doc_id: Long, text: String)

/** Seeded input generation. Every value is a pure function of
  * (seed, doc id), so the oracle recomputes any row on the driver
  * without reading what the program wrote. */
object Gen {

  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, id: Long, field: Int): Long =
    mix(mix(seed * 0x632BE59BD9B4E019L + field) ^ id)

  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))

  def below(h: Long, n: Int): Int = ((h >>> 1) % n).toInt

  /** Skewed, low-cardinality: INFO is ~40 % of rows. */
  val Levels = Array("INFO", "DEBUG", "WARN", "ERROR", "TRACE", "FATAL")
  private val LevelCdf = Array(0.40, 0.65, 0.80, 0.90, 0.97, 1.0)
  val Regions = Array("us-east", "us-west", "eu-west", "eu-central",
    "ap-south", "ap-northeast", "sa-east", "af-south")
  val HostsPerRegion = 64
  /** user_id draws from this many values. */
  val Users = 100000
  private val Words = Array("request", "served", "timeout", "retry", "cache",
    "miss", "hit", "upstream", "latency", "user", "session", "token", "expired",
    "queue", "backlog", "flush", "write", "read", "shard", "replica", "leader",
    "elected", "disk", "full", "gc", "pause", "heap", "thread", "pool", "drain")

  def row(seed: Long, id: Long): LogRow = {
    val u = unit(hash(seed, id, 1))
    var l = 0
    while (u >= LevelCdf(l)) l += 1
    val region = below(hash(seed, id, 2), Regions.length)
    val host = below(hash(seed, id, 3), HostsPerRegion)
    val sb = new StringBuilder
    var w = 0
    while (w < 6) {
      if (w > 0) sb.append(' ')
      sb.append(Words(below(hash(seed, id, 10 + w), Words.length)))
      w += 1
    }
    LogRow(
      doc_id = id,
      level = Levels(l),
      source_region = Regions(region),
      source_host = Regions(region) + (if (host < 10) "-h0" else "-h") + host,
      user_id = pad("u", below(hash(seed, id, 4), Users), 6),
      user_metrics_clicks = below(hash(seed, id, 5), 1000).toLong,
      user_metrics_latency_ms = below(hash(seed, id, 6), 500000) / 100.0,
      message = sb.toString)
  }

  private def pad(prefix: String, v: Int, width: Int): String = {
    val d = v.toString
    val sb = new StringBuilder(prefix)
    var i = d.length
    while (i < width) { sb.append('0'); i += 1 }
    sb.append(d).toString
  }

  // ---- near-duplicate corpus with planted chains ----

  val DocWords = 40

  /** Chain lengths, cycled: long tailed, most 1–4 docs, one of 8 and
    * one of 16 per 100 docs. The layout does not depend on the seed,
    * so every seed gives the CC loop the same graph shape (and round
    * count); the seed picks the words. */
  val ChainCycle = Array(1, 2, 1, 3, 1, 1, 4, 2, 1, 16, 1, 3, 2, 1, 1, 4, 1, 2, 8, 1, 2, 3, 1, 1, 2, 4, 1, 2, 1, 3, 1, 2, 1, 4, 3, 1, 2, 1, 4, 1, 2, 1)

  /** A corpus of `n` docs cut into chains. Doc i+1 of a chain is doc i
    * with one word replaced, so neighbours have word-3-shingle Jaccard
    * 35/41 ≈ 0.85 (above the 0.8 threshold) and docs two steps apart
    * ≈ 0.73 (below it): each chain is a path, not a clique, and CC
    * needs about log2(length) rounds to collapse it. Returns the docs
    * and the planted (id, id+1) pairs. */
  def corpus(seed: Long, n: Int): (Array[Doc], Array[(Long, Long)]) = {
    val docs = new Array[Doc](n)
    val planted = Array.newBuilder[(Long, Long)]
    var id = 0
    var chain = 0
    while (id < n) {
      val len = math.min(ChainCycle(chain % ChainCycle.length), n - id)
      val words = Array.tabulate(DocWords)(w => s"w${below(hash(seed, chain, 1000 + w), 1 << 20)}")
      var k = 0
      while (k < len) {
        if (k > 0) {
          val pos = below(hash(seed, id, 102), DocWords)
          words(pos) = s"x${below(hash(seed, id, 103), 1 << 20)}"
          planted += ((id - 1).toLong -> id.toLong)
        }
        docs(id) = Doc(id.toLong, words.mkString(" "))
        id += 1
        k += 1
      }
      chain += 1
    }
    (docs, planted.result())
  }

  /** Distinct word 3-shingles, the sets graft's verify step compares. */
  def shingles(text: String, k: Int = 3): Set[String] = {
    val t = text.split(' ')
    if (t.length < k) Set(t.mkString(" "))
    else t.sliding(k).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val i = a.count(b.contains)
    i.toDouble / (a.size + b.size - i)
  }
}
