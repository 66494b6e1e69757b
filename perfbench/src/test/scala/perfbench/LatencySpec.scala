package perfbench

import graft.sources.GraftOffset

class LatencySpec extends org.scalatest.funsuite.AnyFunSuite {
  private val index = Gen.shardIndex _
  private def json(m: Map[String, Long]) = GraftOffset(m).json()

  // Two shards at 1000 records/s from t0 = 10:00:00.000: schedule position k
  // is due k ms after t0; shard s holds positions s, s + 2, s + 4, ...
  private val t0 = Report.epochMs("2026-01-01T10:00:00.000Z")
  private val progress = Seq(
    // batch 0 starts at +4 ms, runs 6 ms, commits shard 0 [0, 3) and shard 1 [0, 2)
    ("2026-01-01T10:00:00.004Z", 6.0, null, json(Map("shard-000" -> 3L, "shard-001" -> 2L))),
    // batch 1 starts at +15 ms, runs 5 ms, commits shard 0 [3, 5) and shard 1 [2, 5)
    ("2026-01-01T10:00:00.015Z", 5.0, json(Map("shard-000" -> 3L, "shard-001" -> 2L)),
      json(Map("shard-000" -> 5L, "shard-001" -> 5L))))
  private val commits = progress.map { case (ts, trig, a, b) => Latency.commitOf(ts, trig, a, b, index) }

  test("a batch's commit ends at its trigger start plus triggerExecution") {
    assert(commits.map(_.endMs - t0) == Seq(10.0, 20.0))
    assert(commits.head.ranges == Map(0 -> (0L, 3L), 1 -> (0L, 2L)))
    assert(commits(1).ranges == Map(0 -> (3L, 5L), 1 -> (2L, 5L)))
  }

  test("record latency is commit end minus the record's due time") {
    val lat = Latency.recordLatencies(commits, 2, t0, 1000.0).sorted.toSeq
    // batch 0: positions 0, 2, 4 (shard 0) and 1, 3 (shard 1) -> 10-0, 10-2, 10-4, 10-1, 10-3
    // batch 1: positions 6, 8 (shard 0) and 5, 7, 9 (shard 1) -> 20-6, 20-8, 20-5, 20-7, 20-9
    assert(lat == Seq(6.0, 7.0, 8.0, 9.0, 10.0, 11.0, 12.0, 13.0, 14.0, 15.0))
  }

  test("committed ranges must tile each shard exactly once") {
    assert(Latency.tilingProblems(commits, _ => 5L, 2).isEmpty)
    val replayed = commits :+ Latency.Commit(t0 + 30, Map(0 -> (4L, 5L)))
    assert(Latency.tilingProblems(replayed, _ => 5L, 2).exists(_.contains("[4, 5) after 5")))
    assert(Latency.tilingProblems(commits.take(1), _ => 5L, 2).exists(_.contains("committed 3 of 5")))
  }
}
