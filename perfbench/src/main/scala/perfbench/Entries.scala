package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** The analytics side: registered entries run one after another by a
  * single caller, each checked against its DuckDB oracle after the run. */
object Entries {
  /** Streaming entries (the engine path and the state stores) and batch
    * entries (joins, native expressions, StageCache-backed retrieval,
    * dedup). */
  val Names: Seq[String] = Seq(
    "s6_stream_window_counts", "q3_revenue_by_nation", "t26_dup_ngram_fraction", "e14_hybrid_rrf", "d7_containment_dedup")

  final case class EntryRun(entry: String, pass: Int, constructS: Double, executeS: Double,
      rows: Array[Row], schema: StructType, catalystMs: Map[String, Double], error: Option[String]) {
    def wallS: Double = constructS + executeS
    /** Order-insensitive fingerprint of the result, to check passes agree. */
    lazy val fingerprint: Seq[String] = rows.map(_.toString).toSeq.sorted
  }

  def runOnce(spark: SparkSession, dataDir: String, name: String, pass: Int): EntryRun = {
    val fn = SparkEntry.queries(name)
    val s0 = Trace.nowNs
    val t0 = System.nanoTime()
    val result = try {
      val df = Trace.timed("analytics", "construct", "analytics.construct", "")(fn(spark, dataDir))
      val t1 = System.nanoTime()
      val rows = Trace.timed("analytics", "execute", "analytics.execute", "")(df.collect())
      val t2 = System.nanoTime()
      val phases = df.queryExecution.tracker.phases
      Trace.catalyst(df.queryExecution)
      EntryRun(name, pass, (t1 - t0) / 1e9, (t2 - t1) / 1e9, rows, df.schema,
        phases.map { case (k, s) => k -> (s.endTimeMs - s.startTimeMs).toDouble }.toMap, None)
    } catch {
      case e: Exception => EntryRun(name, pass, (System.nanoTime() - t0) / 1e9, 0.0, Array.empty,
        new StructType(), Map.empty, Some(e.toString))
    }
    if (Trace.on) Trace.add(Span(s"entry-$pass-$name", "", "analytics", "entry", s0, Trace.nowNs, s"$pass:$name"))
    result
  }

  def pass(spark: SparkSession, dataDir: String, p: Int): Seq[EntryRun] =
    Names.map(runOnce(spark, dataDir, _, p))

  val MinPasses = 3

  /** Steady passes until `seconds` have gone by, at least [[MinPasses]]. */
  def steady(spark: SparkSession, dataDir: String, seconds: Double, firstPass: Int): Seq[Seq[EntryRun]] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = Seq.newBuilder[Seq[EntryRun]]
    var p = firstPass
    while (p < firstPass + MinPasses || System.nanoTime() < deadline) {
      out += pass(spark, dataDir, p); p += 1
    }
    out.result()
  }

  /** Per-entry median over passes. */
  def medians(passes: Seq[Seq[EntryRun]], f: EntryRun => Double): Map[String, Double] =
    passes.flatten.groupBy(_.entry).map { case (k, rs) => k -> Stats.median(rs.map(f)) }

  /** Writes each entry's last result for the oracle comparison, with the
    * oracle SQL beside it; returns runs whose result differed from the last
    * pass or that failed. */
  def writeForOracle(spark: SparkSession, passes: Seq[Seq[EntryRun]], outDir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val last = passes.last
    last.filter(_.error.isEmpty).foreach { r =>
      spark.createDataFrame(r.rows.toList.asJava, r.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/${r.entry}")
    }
    val oracles = Names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), Json(oracles))
    val byName = last.map(r => r.entry -> r).toMap
    passes.flatten.flatMap { r =>
      r.error.map(e => s"${r.entry} pass ${r.pass}: $e").orElse(
        if (byName(r.entry).error.isEmpty && r.fingerprint != byName(r.entry).fingerprint)
          Some(s"${r.entry} pass ${r.pass}: result differs from pass ${byName(r.entry).pass}")
        else None)
    }
  }
}
