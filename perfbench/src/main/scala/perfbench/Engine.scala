package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.core._
import graft.engine.GraftProcessor
import graft.monitoring.{EventSink, MetricsAggregator}
import graft.processor.RecordProcessor
import graft.sources.{GraftOffset, IndexedSourceClient, InMemorySourceClient}

/** Outcome counts kept by the benchmark's own processors (the engine's
  * monitoring bridge does not report real failure counts). */
object Outcomes {
  val attempts, ok, soft, hard = new LongAdder
  def reset(): Unit = Seq(attempts, ok, soft, hard).foreach(_.reset())
}

/** The engine workloads' processor. The payload is `type|value|mode`: mode
  * `soft` fails the first attempt, `hard` is a poison record that is
  * dead-lettered. Items are (type, sequence number). */
final class MixProcessor extends RecordProcessor[(String, String)] {
  override def processRecord(r: KRecord, m: RecordMetadata): Either[ProcessingError, Option[(String, String)]] = {
    Outcomes.attempts.increment()
    val p = r.dataUtf8
    p.substring(p.lastIndexOf('|') + 1) match {
      case "hard" =>
        Outcomes.hard.increment()
        Left(ProcessingError.HardFailure(s"poison record ${r.shardId}/${r.sequenceNumber}"))
      case "soft" if m.attemptNumber == 0 =>
        Outcomes.soft.increment()
        Left(ProcessingError.SoftFailure("transient"))
      case _ =>
        Outcomes.ok.increment()
        Right(Some((p.substring(0, p.indexOf('|')), r.sequenceNumber)))
    }
  }

  /** A shard's items must be in sequence order, of known types, and end at
    * the sequence number about to be checkpointed. */
  override def beforeCheckpoint(items: Seq[(String, String)],
      m: CheckpointMetadata): Either[BeforeCheckpointError, Unit] = {
    var prev = ""
    val ordered = items.forall { case (t, s) =>
      val good = s > prev && Gen.Types.contains(t); prev = s; good
    }
    if (ordered && prev == m.sequenceNumber) Right(())
    else Left(BeforeCheckpointError.HardError(s"shard ${m.shardId}: items do not end at ${m.sequenceNumber}"))
  }
}

/** The live workload's trivial processor: every record yields its type. */
final class TypeProcessor extends RecordProcessor[String] {
  override def processRecord(r: KRecord, m: RecordMetadata): Either[ProcessingError, Option[String]] = {
    Outcomes.attempts.increment(); Outcomes.ok.increment()
    val p = r.dataUtf8
    Right(Some(p.substring(0, p.indexOf('|'))))
  }
}

/** An open-loop stream: schedule position k (shard k % n, index k / n)
  * becomes visible at `t0Ms + k * 1000 / rate`. Visibility depends only on
  * the wall clock, so a slow consumer cannot slow the producer. */
final class ScheduledClient(shards: Map[String, IndexedSeq[KRecord]], n: Int, rate: Double)
    extends InMemorySourceClient(shards) {
  @volatile var t0Ms: Long = Long.MaxValue
  private val total: Long = shards.values.map(_.length.toLong).sum

  def dueBy(nowMs: Long): Long =
    if (nowMs < t0Ms) 0L else math.min(total, ((nowMs - t0Ms) * rate / 1000.0).toLong + 1)

  override def shardLength(streamName: String, shardId: String): Long = {
    val k = dueBy(System.currentTimeMillis())
    val s = Gen.shardIndex(shardId)
    if (k > s) (k - 1 - s) / n + 1 else 0L
  }
}

/** What one engine query did, read from its progress reports. */
final case class QueryRun(startMs: Double, wallS: Double, progress: Seq[StreamingQueryProgress],
    problems: Seq[String]) {
  def batches: Seq[StreamingQueryProgress] = progress.filter(Report.executed)
  /** Catch-up latency of every record: from the query's start to the end of
    * the micro-batch that committed it. */
  def catchUpMs: Array[Double] = batches.toArray.flatMap { p =>
    val c = Engine.commit(p)
    Array.fill(c.ranges.values.map { case (a, b) => b - a }.sum.toInt)(c.endMs - startMs)
  }
}

object Engine {
  val BackfillShards = 64
  val BackfillMedianLen = 500
  val BackfillHot = 4
  val LiveShards = 256
  val LiveCap = 4

  def traced[A](on: Boolean, a: A)(wrap: A => A): A = if (on) wrap(a) else a

  private def mismatch(what: String, got: Map[String, Any], want: Map[String, Any]): Seq[String] =
    (got.keySet ++ want.keySet).toSeq.sorted.flatMap { k =>
      val (g, w) = (got.get(k), want.get(k))
      if (g == w) None else Some(s"$what[$k]: got ${g.getOrElse("none")}, want ${w.getOrElse("none")}")
    }

  /** Per-type item counts, dead letters, soft failures and every shard's
    * stored checkpoint against the expectation. */
  def checkOutputs(exp: Gen.Expected, typeCounts: Map[String, Long], store: CheckpointStore,
      shards: Iterable[String]): Seq[String] = {
    mismatch("items", typeCounts, exp.typeCounts) ++
      (if (Outcomes.hard.sum != exp.deadLetters) Seq(s"dead letters: got ${Outcomes.hard.sum}, want ${exp.deadLetters}") else Nil) ++
      (if (Outcomes.soft.sum != exp.softFailures) Seq(s"soft failures: got ${Outcomes.soft.sum}, want ${exp.softFailures}") else Nil) ++
      mismatch("checkpoint", shards.map(s => s -> store.getCheckpoint(s).getOrElse("none")).toMap,
        shards.map(s => s -> exp.finalCheckpoints.getOrElse(s, "none")).toMap)
  }

  /** One `Trigger.AvailableNow` drain of the backlog into a parquet-append
    * sink, with a fresh store, sink directory and query checkpoint. */
  def drain(spark: SparkSession, backlog: Gen.Stream, exp: Gen.Expected, dir: String,
      trace: Boolean): QueryRun = {
    import spark.implicits._
    val itemsDir = s"$dir/items"
    val store = new FileCheckpointStore(s"$dir/store")
    val gp = new GraftProcessor[(String, String)](
      ProcessorConfig("backfill", batchSize = 100, maxBatchRetrievalLoops = Some(10)),
      traced[RecordProcessor[(String, String)]](trace, new MixProcessor)(new TracedProcessor(_)),
      traced[IndexedSourceClient](trace, new InMemorySourceClient(backlog.shards))(new TracedClient(_)),
      traced[CheckpointStore](trace, store)(new TracedStore(_)),
      onItems = (ds: Dataset[(String, String)], _: Long) =>
        Trace.timed("engine", "onItems", "engine.onItems", "") {
          ds.toDF("event_type", "seq").write.mode("append").parquet(itemsDir)
          Trace.catalyst(ds.queryExecution)
        })
    Outcomes.reset()
    val startMs = Trace.nowNs / 1e6
    val t0 = System.nanoTime()
    val q = gp.start(spark, s"$dir/query")
    val failure = try { q.awaitTermination(); None } catch { case e: Exception => Some(e.toString) }
    val wallS = (System.nanoTime() - t0) / 1e9
    gp.cleanup()
    val problems = failure.toSeq ++ (if (failure.nonEmpty) Nil else {
      val counts = scala.util.Try(spark.read.parquet(itemsDir).groupBy("event_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap).getOrElse(Map.empty[String, Long])
      checkOutputs(exp, counts, store, backlog.shards.keys)
    })
    QueryRun(startMs, wallS, q.recentProgress.toSeq, problems)
  }

  def commit(p: StreamingQueryProgress): Latency.Commit =
    Latency.commitOf(p.timestamp, p.durationMs.get("triggerExecution").doubleValue,
      p.sources.head.startOffset, p.sources.head.endOffset, Gen.shardIndex)

  /** A live run's measured part: the records due from `fromMs` on, and the
    * micro-batches (`units`) that committed them. */
  final case class LiveRun(run: QueryRun, fromMs: Double, latencies: Array[Double], units: Int, lastCommitMs: Double) {
    def committedPerS: Double = latencies.length / ((lastCommitMs - fromMs) / 1000.0)
  }

  /** The open-loop schedule: `warmS` seconds that are not measured, then
    * `seconds` that are, then a bounded wait for the tail to commit. Fails
    * on any output mismatch, on duplicated or lost records, and on a backlog
    * that grows over the run. The schedule must hold `rate * (warmS +
    * seconds)` records. */
  def live(spark: SparkSession, sched: Gen.Stream, exp: Gen.Expected, rate: Double, warmS: Double,
      seconds: Double, dir: String, trace: Boolean): LiveRun = {
    import spark.implicits._
    val store = new FileCheckpointStore(s"$dir/store")
    val client = new ScheduledClient(sched.shards, LiveShards, rate)
    val counts = new ConcurrentHashMap[String, LongAdder]()
    val cfg = ProcessorConfig("live", maxConcurrentShards = Some(LiveCap))
    val gp = new GraftProcessor[String](cfg,
      traced[RecordProcessor[String]](trace, new TypeProcessor)(new TracedProcessor(_)),
      traced[IndexedSourceClient](trace, client)(new TracedClient(_)),
      traced[CheckpointStore](trace, store)(new TracedStore(_)),
      sink = traced[EventSink](trace, new MetricsAggregator())(new TracedSink(_)),
      onItems = (ds: Dataset[String], _: Long) =>
        Trace.timed("engine", "onItems", "engine.onItems", "") {
          ds.groupBy("value").count().collect().foreach(r =>
            counts.computeIfAbsent(r.getString(0), _ => new LongAdder).add(r.getLong(1)))
          Trace.catalyst(ds.queryExecution)
        })
    Outcomes.reset()
    val total = exp.records
    client.t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val q = gp.start(spark, s"$dir/query", GraftProcessor.continuousTrigger(cfg))
    val scheduleEnd = client.t0Ms + ((warmS + seconds) * 1000).toLong
    def committed: Long = Option(q.lastProgress).filter(_.sources.nonEmpty)
      .map(p => GraftOffset.fromJson(p.sources.head.endOffset).positions.values.sum).getOrElse(0L)
    while (System.currentTimeMillis() < scheduleEnd && q.isActive) Thread.sleep(20)
    val tailDeadline = System.currentTimeMillis() + 20000L
    while (committed < total && q.isActive && System.currentTimeMillis() < tailDeadline) Thread.sleep(10)
    val failure = q.exception.map(_.toString)
    q.stop()
    gp.cleanup()
    val wallS = (System.nanoTime() - t0) / 1e9
    val batches = q.recentProgress.toSeq.filter(Report.executed)
    val commits = batches.map(commit)
    val fromK = math.ceil(warmS * rate).toLong
    val measured = commits.filter(_.ranges.exists { case (s, (_, b)) => (b - 1) * LiveShards + s >= fromK })
    val lat = Latency.recordLatencies(measured, LiveShards, client.t0Ms.toDouble, rate, fromK)
    val lens = sched.lengths
    val growing = {
      val perBatch = commits.map(c => c.endMs - c.ranges.map { case (s, (a, _)) =>
        Latency.dueMs(a * LiveShards + s, client.t0Ms.toDouble, rate) }.minOption.getOrElse(c.endMs))
      val n = perBatch.size
      if (n < 8) Seq(s"only $n micro-batches committed")
      else {
        val early = Stats.median(perBatch.take(n / 2)); val late = Stats.median(perBatch.drop(3 * n / 4))
        if (late > 2 * early + 200) Seq(f"backlog grew: oldest-record wait $early%.0f ms early, $late%.0f ms late") else Nil
      }
    }
    val problems = failure.toSeq ++
      (if (committed < total) Seq(s"backlog left: $committed of $total committed 20 s after the schedule ended") else Nil) ++
      Latency.tilingProblems(commits, s => lens(Gen.shardId(s)), LiveShards) ++ growing ++
      checkOutputs(exp, counts.asScala.map { case (k, v) => k -> v.sum }.toMap, store, sched.shards.keys)
    LiveRun(QueryRun(client.t0Ms.toDouble, wallS, q.recentProgress.toSeq, problems),
      Latency.dueMs(fromK, client.t0Ms.toDouble, rate), lat, measured.size,
      commits.map(_.endMs).maxOption.getOrElse(scheduleEnd.toDouble))
  }

  /** The reference's stress configuration (8 shards x 80 records, batch 10,
    * cap 8, every 10th record soft-failing twice); returns wall ms. */
  def stress640(spark: SparkSession, dir: String): Double = {
    import spark.implicits._
    val shards = (0 until 8).map { sh =>
      s"shard-$sh" -> (0 until 80).map(i =>
        KRecord(f"$i%010d", s"pk-$i", s"payload-$sh-$i".getBytes("UTF-8"), None, s"shard-$sh"))
    }.toMap
    val processed = new LongAdder
    val proc = new RecordProcessor[String] {
      override def processRecord(r: KRecord, m: RecordMetadata) =
        if (r.sequenceNumber.endsWith("0") && m.attemptNumber < 2)
          Left(ProcessingError.SoftFailure(s"transient ${m.attemptNumber}"))
        else Right(Some(r.dataUtf8))
    }
    val store = new InMemoryCheckpointStore
    val gp = new GraftProcessor[String](ProcessorConfig("stress", batchSize = 10, maxConcurrentShards = Some(8)),
      proc, new InMemorySourceClient(shards), store,
      onItems = (ds: Dataset[String], _: Long) => { processed.add(ds.count()); () })
    val t0 = System.nanoTime()
    val r = gp.run(spark, s"$dir/stress")
    val ms = (System.nanoTime() - t0) / 1e6
    require(r.isRight && processed.sum == 640L && store.all.values.toSet == Set("0000000079"),
      s"stress config failed: $r, ${processed.sum} items")
    ms
  }
}
