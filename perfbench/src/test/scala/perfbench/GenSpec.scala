package perfbench

class GenSpec extends org.scalatest.funsuite.AnyFunSuite {
  private def flat(s: Gen.Stream) =
    s.shards.toSeq.sortBy(_._1).flatMap(_._2).map(r => (r.shardId, r.sequenceNumber, r.partitionKey, r.dataUtf8))

  test("the backlog and its expectation are a pure function of the seed") {
    val a = Gen.backlog(7, 64, 50, 4); val b = Gen.backlog(7, 64, 50, 4)
    assert(flat(a) == flat(b))
    assert(a.expected == b.expected)
    val c = Gen.backlog(8, 64, 50, 4)
    assert(flat(a) != flat(c))
  }

  test("the schedule is a pure function of the seed and deals positions round-robin") {
    val a = Gen.schedule(3, 4, 10)
    assert(flat(a) == flat(Gen.schedule(3, 4, 10)))
    assert(a.lengths == Map("shard-000" -> 3L, "shard-001" -> 3L, "shard-002" -> 2L, "shard-003" -> 2L))
    assert(a.shards("shard-001")(2).partitionKey == "pk-9") // position 2 * 4 + 1
    assert(a.expected.deadLetters == 0 && a.expected.softFailures == 0)
  }

  test("the backlog is skewed: the hot shards are four times the median length") {
    val lens = Gen.backlog(1, 64, 500, 4).lengths.values.toSeq.sorted
    assert(lens.takeRight(4).forall(_ == 2000L))
    assert(Stats.median(lens.map(_.toDouble)) > 450 && Stats.median(lens.map(_.toDouble)) < 550)
  }

  test("the expectation agrees with the payloads") {
    val s = Gen.backlog(5, 16, 200, 2)
    val modes = s.shards.values.flatten.map(_.dataUtf8.split('|')(2)).groupBy(identity).view.mapValues(_.size).toMap
    assert(s.expected.deadLetters == modes.getOrElse("hard", 0).toLong)
    assert(s.expected.softFailures == modes.getOrElse("soft", 0).toLong)
    assert(s.expected.typeCounts.values.sum == s.expected.records - s.expected.deadLetters)
    s.shards.foreach { case (sid, recs) =>
      val last = recs.filterNot(_.dataUtf8.endsWith("|hard")).last.sequenceNumber
      assert(s.expected.finalCheckpoints(sid) == last)
    }
  }
}
