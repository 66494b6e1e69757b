package graft.analytics

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The streaming queries' file source must read `events.parquet` in BOTH
  * physical layouts: the driver testdata's single file, and a
  * Spark-written DIRECTORY of part files (graft.ScaleUp's output). The
  * directory case regressed silently once — the leaf-name glob matched
  * nothing inside the directory and the stream drained ZERO rows while
  * still "succeeding" (caught only because the sf1 bench timing collapsed
  * to 0.2 s). This spec pins both layouts to the batch row count, and
  * that each drain shape (memory sink, file sink, complete-mode
  * overwrite, engine run) returns only after its query has stopped. */
class EventsFileStreamSpec extends AnyFunSuite with Matchers with SparkSpec {

  private val srcDir = "/root/testdata/sf0.001"

  test("s6 window counts agree between single-file and directory events layouts") {
    val batch = spark.read.parquet(s"$srcDir/events.parquet").count()
    batch should be > 0L

    // directory layout: re-write the events table the way ScaleUp does
    val tmp = Files.createTempDirectory("graft_evdir_").toString
    try {
      spark.read.parquet(s"$srcDir/events.parquet")
        .repartition(2).write.parquet(s"$tmp/events.parquet")
      val partFiles = Files.list(Paths.get(s"$tmp/events.parquet"))
      try partFiles.count() should be > 1L
      finally partFiles.close() // Files.list holds a directory handle

      val fromFile = StreamingQueries.streamWindowCounts(spark, srcDir)
        .agg(org.apache.spark.sql.functions.sum("n_events")).head.getLong(0)
      val fromDir = StreamingQueries.streamWindowCounts(spark, tmp)
        .agg(org.apache.spark.sql.functions.sum("n_events")).head.getLong(0)

      fromFile shouldBe batch
      fromDir shouldBe batch
    } finally {
      import scala.jdk.CollectionConverters._
      val all = Files.walk(Paths.get(tmp))
      try all.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally all.close()
    }
  }

  test("memory, file-sink, complete-overwrite and engine drains leave no streaming query active") {
    for (name <- Seq("s6_stream_window_counts", "s7_stream_dedup",
        "s9_stream_sessions", "s1_stream_count_by_type")) withClue(s"$name: ") {
      val out = StreamingQueries.queries(name)(spark, srcDir)
      spark.streams.active shouldBe empty
      out.count() should be > 0L
    }
  }
}
