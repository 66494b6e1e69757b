package perfbench

import graft.core.KRecord

/** Seeded input generation. Everything a workload consumes, and everything
  * its output is checked against, is a pure function of the seed. */
object Gen {
  val Types: IndexedSeq[String] = IndexedSeq("click", "error", "purchase", "signup", "view")

  /** SplitMix64 finaliser: a well-mixed 64-bit hash of (seed, stream, i). */
  def mix(seed: Long, stream: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i + 0x632BE59BD9B4E5L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def unit(seed: Long, stream: Long, i: Long): Double = (mix(seed, stream, i) >>> 11) * (1.0 / (1L << 53))

  def seq(i: Long): String = f"$i%012d"
  def shardId(s: Int): String = f"shard-$s%03d"
  def shardIndex(id: String): Int = id.stripPrefix("shard-").toInt

  /** What a correct run must produce from a set of shards. `finalCheckpoints`
    * is each shard's last non-dead-lettered sequence number: the engine saves
    * a shard's checkpoint after every batch that produced items, and the last
    * such batch ends at that record. */
  final case class Expected(records: Long, typeCounts: Map[String, Long], deadLetters: Long,
      softFailures: Long, finalCheckpoints: Map[String, String])

  final case class Stream(shards: Map[String, IndexedSeq[KRecord]], expected: Expected) {
    def lengths: Map[String, Long] = shards.map { case (k, v) => k -> v.length.toLong }
  }

  /** Outcome of a record, carried in its payload so the benchmark's processor
    * and the expectation agree by construction. */
  private def mode(seed: Long, k: Long, failing: Boolean): String = {
    val u = unit(seed, 2, k)
    if (!failing) "ok" else if (u < HardShare) "hard" else if (u < HardShare + SoftShare) "soft" else "ok"
  }

  /** Shares of backlog records that soft-fail once and that are dead-lettered. */
  val SoftShare = 0.10
  val HardShare = 0.01

  private def build(seed: Long, lens: IndexedSeq[Int], failing: Boolean,
      globalIndex: (Int, Int) => Long): Stream = {
    val typeCounts = Array.fill(Types.length)(0L)
    var dead = 0L; var soft = 0L
    val ckpt = Map.newBuilder[String, String]
    val shards = lens.indices.map { s =>
      val sid = shardId(s)
      var last: String = null
      val recs = (0 until lens(s)).map { i =>
        val k = globalIndex(s, i)
        val t = (mix(seed, 1, k) >>> 1) % Types.length
        val m = mode(seed, k, failing)
        m match {
          case "hard" => dead += 1
          case other =>
            if (other == "soft") soft += 1
            typeCounts(t.toInt) += 1
            last = seq(i)
        }
        val value = (mix(seed, 3, k) >>> 1) % 100000
        KRecord(seq(i), s"pk-$k", s"${Types(t.toInt)}|$value|$m".getBytes("UTF-8"), None, sid)
      }
      if (last != null) ckpt += sid -> last
      sid -> recs
    }.toMap
    Stream(shards, Expected(lens.map(_.toLong).sum, Types.zip(typeCounts).toMap, dead, soft,
      ckpt.result()))
  }

  /** The catch-up backlog: `shards` shards of about `medianLen` records, with
    * `hot` seeded hot shards at 4x that length; records fail at
    * [[SoftShare]] and [[HardShare]]. */
  def backlog(seed: Long, shards: Int, medianLen: Int, hot: Int): Stream = {
    val hotSet = scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
      .shuffle((0 until shards).toList).take(hot).toSet
    val lens = (0 until shards).map { s =>
      if (hotSet(s)) 4 * medianLen
      else math.round(medianLen * (0.75 + 0.5 * unit(seed, 4, s))).toInt
    }
    build(seed, lens, failing = true, (s, i) => s.toLong * 1000000L + i)
  }

  /** The open-loop schedule: `total` records dealt round-robin over `shards`
    * shards, so schedule position k is shard k % shards, index k / shards. */
  def schedule(seed: Long, shards: Int, total: Int): Stream = {
    val lens = (0 until shards).map(s => total / shards + (if (s < total % shards) 1 else 0))
    build(seed, lens, failing = false, (s, i) => i.toLong * shards + s)
  }
}
