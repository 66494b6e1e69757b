package graft.analytics

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Pins the streaming state-partition sizing contract
  * (StreamingQueries.statePartitionsFor / withStatePartitions): the
  * shuffle-partition count of a stateful query is frozen into the
  * state-store layout at the first checkpoint, so it is sized from source
  * bytes up front — floor 4, clamped to the session default — and the
  * session conf must be restored after the drain (including on failure),
  * through the same `withConf` swap every session-conf change uses. */
class StatePartitionsSpec extends AnyFunSuite with Matchers with SparkSpec {

  test("sizing rule: floor 4, ~1 partition per mbPerPartition, clamped to session default") {
    val mb = 1L << 20
    // tiny gate-SF input collapses to the floor regardless of density
    StreamingQueries.statePartitionsFor(32, 2 * mb, 16) shouldBe 4
    StreamingQueries.statePartitionsFor(32, 2 * mb, 4) shouldBe 4
    // rehearsal-SF input sizes by density: 162 MB -> 11 at 16 MB/part,
    // full session parallelism at 4 MB/part
    StreamingQueries.statePartitionsFor(32, 162 * mb, 16) shouldBe 11
    StreamingQueries.statePartitionsFor(32, 162 * mb, 4) shouldBe 32
    // 100 TB dwarfs any core count -> clamp returns session default
    StreamingQueries.statePartitionsFor(1000, 100L * mb * mb, 16) shouldBe 1000
    // never above the session default even between floor and clamp
    StreamingQueries.statePartitionsFor(8, 162 * mb, 16) shouldBe 8
    // the clamp WINS over the floor (ADVICE r9): a session default below 4
    // is never exceeded — "never above the session default" is absolute
    StreamingQueries.statePartitionsFor(2, 2 * mb, 16) shouldBe 2
    StreamingQueries.statePartitionsFor(2, 162 * mb, 16) shouldBe 2
  }

  test("withStatePartitions sets the sized count inside and restores the session default after, including on failure") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val dir = java.nio.file.Files.createTempDirectory("graft-spp").toFile
    dir.deleteOnExit()
    // a "table" of ~2 MB -> floor 4 inside the block
    val f = new java.io.File(dir, "events.parquet")
    f.deleteOnExit() // the dir hook can't delete a non-empty dir
    val out = new java.io.FileOutputStream(f)
    out.write(new Array[Byte](2 << 20)); out.close()
    var inside = ""
    StreamingQueries.withStatePartitions(spark, dir.getPath) {
      inside = spark.conf.get(key)
    }
    inside shouldBe "4"
    spark.conf.get(key) shouldBe prev
    // restore must survive a failing body
    an[RuntimeException] should be thrownBy {
      StreamingQueries.withStatePartitions(spark, dir.getPath) {
        throw new RuntimeException("boom")
      }
    }
    spark.conf.get(key) shouldBe prev
  }

  test("withConf restores a set key and unsets an unset key, also when the body throws") {
    val key = "graft.test.withConf"
    def run(fail: Boolean): Unit = {
      def body(): Unit = {
        spark.conf.get(key) shouldBe "new"
        if (fail) throw new IllegalStateException("boom")
      }
      if (fail) intercept[IllegalStateException](StreamingQueries.withConf(spark, key -> "new")(body()))
      else StreamingQueries.withConf(spark, key -> "new")(body())
    }
    for (fail <- Seq(false, true)) withClue(s"body throws = $fail: ") {
      spark.conf.getOption(key) shouldBe None
      run(fail)
      spark.conf.getOption(key) shouldBe None
      StreamingQueries.withConf(spark, key -> "old") {
        run(fail)
        spark.conf.get(key) shouldBe "old"
      }
      spark.conf.getOption(key) shouldBe None
    }
  }
}
