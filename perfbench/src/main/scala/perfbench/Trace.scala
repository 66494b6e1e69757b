package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.core.{CheckpointMetadata, CheckpointStore, KRecord, RecordMetadata}
import graft.monitoring.{EventSink, ProcessingEvent}
import graft.processor.RecordProcessor
import graft.sources.{GetRecordsResult, IndexedSourceClient, ShardInfo}

/** One traced interval. Times are epoch nanoseconds. `parent` is the id of
  * the span that caused this one ("" = resolve by time containment when the
  * report is built); `op` is the micro-batch or entry run it belongs to. */
final case class Span(id: String, parent: String, layer: String, name: String,
    startNs: Long, endNs: Long, op: String = "") {
  def durNs: Long = endNs - startNs
}

/** In-memory span store and per-boundary counters. Spans are kept in memory
  * and written out once, when the benchmark ends. Off (the default) costs one
  * volatile read per wrapped call. */
object Trace {
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  private val nanoBase = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nowNs: Long = System.nanoTime() + nanoBase
  def msToNs(ms: Double): Long = (ms * 1e6).toLong
  def nextId(prefix: String): String = s"$prefix${ids.incrementAndGet()}"

  def add(s: Span): Unit = { spans.add(s); () }
  def count(key: String, n: Long = 1L): Unit =
    counters.computeIfAbsent(key, _ => new LongAdder).add(n)
  def all: Vector[Span] = spans.asScala.toVector
  def counterSnapshot: Map[String, Long] = counters.asScala.map { case (k, v) => k -> v.sum() }.toMap

  def reset(): Unit = { spans.clear(); counters.clear() }

  /** Catalyst's phase times for a query that has run, as spans. */
  def catalyst(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
    if (on) qe.tracker.phases.foreach { case (ph, p) =>
      add(Span(nextId("n"), "", "catalyst", ph, msToNs(p.startTimeMs.toDouble), msToNs(p.endTimeMs.toDouble)))
    }

  /** The running Spark task's span id, when called inside a task. */
  def taskParent: String = Option(TaskContext.get()).fold("")(t => s"task-${t.taskAttemptId()}")

  /** Time `f` as a span of `layer`, also adding its count and nanoseconds
    * to the counters `<counterKey>.n` / `<counterKey>.ns`. */
  def timed[A](layer: String, name: String, counterKey: String, parent: => String = taskParent)(f: => A): A =
    if (!on) f
    else {
      val s = nowNs
      try f
      finally {
        val e = nowNs
        add(Span(nextId("n"), parent, layer, name, s, e))
        count(s"$counterKey.n"); count(s"$counterKey.ns", e - s)
      }
    }
}

/** `sources` boundary: every call the engine makes on the stream client.
  * Shard listing and lengths are the planner's calls (driver); getRecords is
  * the executor-side paging. */
final class TracedClient(inner: IndexedSourceClient) extends IndexedSourceClient {
  override def listShards(streamName: String): Seq[ShardInfo] =
    Trace.timed("sources", "listShards", "sources.plan", "")(inner.listShards(streamName))
  override def shardLength(streamName: String, shardId: String): Long =
    Trace.timed("sources", "shardLength", "sources.plan", "")(inner.shardLength(streamName, shardId))
  override def getShardIterator(streamName: String, shardId: String,
      t: graft.core.ShardIteratorType): String = inner.getShardIterator(streamName, shardId, t)
  override def iteratorAtIndex(streamName: String, shardId: String, index: Long): String =
    inner.iteratorAtIndex(streamName, shardId, index)
  override def indexOfIterator(streamName: String, shardId: String, iterator: String): Long =
    inner.indexOfIterator(streamName, shardId, iterator)
  override def embeddableRecords(streamName: String, shardId: String,
      start: Long, end: Long): Option[IndexedSeq[KRecord]] =
    inner.embeddableRecords(streamName, shardId, start, end)
  override def getRecords(iterator: String, limit: Int): GetRecordsResult = {
    val r = Trace.timed("sources", "getRecords", "sources.getRecords")(inner.getRecords(iterator, limit))
    if (Trace.on) Trace.count("sources.records", r.records.length.toLong)
    r
  }
}

/** `processor` boundary (processRecord) and the engine's validation call
  * (beforeCheckpoint), both executor-side. */
final class TracedProcessor[T](inner: RecordProcessor[T]) extends RecordProcessor[T] {
  override def processRecord(r: KRecord, m: RecordMetadata) =
    Trace.timed("processor", "processRecord", "processor.process")(inner.processRecord(r, m))
  override def beforeCheckpoint(items: Seq[T], m: CheckpointMetadata) =
    Trace.timed("engine", "beforeCheckpoint", "engine.validate")(inner.beforeCheckpoint(items, m))
}

/** `store` boundary: application checkpoint reads and saves. */
final class TracedStore(inner: CheckpointStore) extends CheckpointStore {
  override def getCheckpoint(shardId: String): Option[String] =
    Trace.timed("store", "getCheckpoint", "store.get")(inner.getCheckpoint(shardId))
  override def saveCheckpoint(shardId: String, sequenceNumber: String): Unit =
    Trace.timed("store", "saveCheckpoint", "store.save")(inner.saveCheckpoint(shardId, sequenceNumber))
}

/** `monitoring` boundary: a tee in front of the real sink. */
final class TracedSink(inner: EventSink) extends EventSink {
  override def emit(event: ProcessingEvent): Unit =
    Trace.timed("monitoring", "emit", "monitoring.emit")(inner.emit(event))
}

/** Spark scheduler and Structured Streaming events, collected only in the
  * traced run. */
object Listen {
  final case class Task(id: Long, stage: Int, stageAttempt: Int, launchMs: Long, finishMs: Long,
      runMs: Long, gcMs: Long, deserMs: Long, resultSerMs: Long, gettingResultMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, peakMem: Long) {
    def schedulerDelayMs: Long =
      math.max(0L, (finishMs - launchMs) - runMs - deserMs - resultSerMs - gettingResultMs)
  }
  final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
  final case class Stage(id: Int, attempt: Int, submitMs: Long, doneMs: Long)
}

final class Listen extends SparkListener {
  import Listen._
  val tasks = new ConcurrentLinkedQueue[Task]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    { jobs.put(e.jobId, Job(e.jobId, e.time, -1L, e.stageIds)); () }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(Stage(i.stageId, i.attemptNumber(), i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L))); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) tasks.add(Task(info.taskId, e.stageId, e.stageAttemptId, info.launchTime,
      info.finishTime, m.executorRunTime, m.jvmGCTime, m.executorDeserializeTime,
      m.resultSerializationTime, if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory))
    ()
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      { progress.add(e.progress); () }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

/** What one traced phase recorded: its span tree, counters and listener
  * data. */
final case class Phase(spans: Seq[Span], counters: Map[String, Long], listen: Listen, wallS: Double) {
  def counter(k: String): Long = counters.getOrElse(k, 0L)
  /** Total milliseconds of the calls counted under `k`. */
  def ms(k: String): Double = counter(s"$k.ns") / 1e6
  lazy val self: Map[String, Long] = Report.selfTimes(spans)
  private lazy val byId = spans.map(s => s.id -> s).toMap
  def named(layer: String, name: String): Seq[Span] = spans.filter(s => s.layer == layer && s.name == name)
  /** Whether `s` has an ancestor of this layer and name. */
  def under(s: Span, layer: String, name: String): Boolean = {
    var p = byId.get(s.parent); var hit = false; var depth = 0
    while (p.isDefined && !hit && depth < 64) {
      hit = p.get.layer == layer && p.get.name == name; p = byId.get(p.get.parent); depth += 1
    }
    hit
  }
  /** Spark jobs per span of (layer, name), counting jobs nested under one. */
  def jobsPer(layer: String, name: String): Double = {
    val n = named(layer, name).size
    if (n == 0) 0.0 else named("spark", "job").count(under(_, layer, name)).toDouble / n
  }
}

/** Builds the span tree and the per-layer figures from what one traced phase
  * recorded. */
object Report {
  /** Micro-batch phases in execution order. */
  val Phases: Seq[String] = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** Container levels, outermost first, for resolving parents by time. */
  val Containers: Seq[(String, String)] =
    Seq("analytics" -> "entry", "analytics" -> "construct", "analytics" -> "execute", "streaming" -> "trigger") ++
      Phases.map(p =>
        if (p == "addBatch") "engine" -> "batch" else "streaming" -> p) ++
      Seq("engine" -> "onItems", "spark" -> "job")

  def phase(l: Listen, wallS: Double): Phase = {
    val raw = Trace.all ++ sparkSpans(l) ++ l.progress.asScala.toSeq.filter(executed).flatMap(progressSpans)
    Phase(propagateOps(resolveParents(raw, Containers)), Trace.counterSnapshot, l, wallS)
  }


  def epochMs(iso: String): Double = java.time.Instant.parse(iso).toEpochMilli.toDouble

  def executed(p: StreamingQueryProgress): Boolean = p.durationMs.containsKey("addBatch")

  /** Spans for one micro-batch from its progress report: the trigger, and
    * its phases laid end to end from the trigger start in execution order.
    * Phase boundaries are therefore reconstructed, not observed. */
  def progressSpans(p: StreamingQueryProgress): Seq[Span] = {
    val start = Trace.msToNs(epochMs(p.timestamp))
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val op = s"${p.id.toString.take(8)}:${p.batchId}"
    val trig = Span(s"trigger-$op", "", "streaming", "trigger", start,
      start + Trace.msToNs(d.getOrElse("triggerExecution", 0L).toDouble), op)
    var t = start
    val phases = Phases.flatMap { ph =>
      d.get(ph).map { ms =>
        val s = Span(s"$ph-$op", trig.id, if (ph == "addBatch") "engine" else "streaming",
          if (ph == "addBatch") "batch" else ph, t, t + Trace.msToNs(ms.toDouble), op)
        t = s.endNs
        s
      }
    }
    trig +: phases
  }

  /** Spark jobs, stages and tasks as spans. */
  def sparkSpans(l: Listen): Seq[Span] = {
    val jobs = l.jobs.values.asScala.toSeq.filter(_.endMs >= 0)
    val stageJob = jobs.flatMap(j => j.stages.map(_ -> s"job-${j.id}")).toMap
    jobs.map(j => Span(s"job-${j.id}", "", "spark", "job", Trace.msToNs(j.startMs.toDouble),
      Trace.msToNs(j.endMs.toDouble))) ++
      l.stages.asScala.toSeq.filter(_.submitMs > 0).map(s =>
        Span(s"stage-${s.id}.${s.attempt}", stageJob.getOrElse(s.id, ""), "spark", "stage",
          Trace.msToNs(s.submitMs.toDouble), Trace.msToNs(s.doneMs.toDouble))) ++
      l.tasks.asScala.toSeq.map(t => Span(s"task-${t.id}", s"stage-${t.stage}.${t.stageAttempt}",
        "spark", "task", Trace.msToNs(t.launchMs.toDouble), Trace.msToNs(t.finishMs.toDouble)))
  }

  /** Timestamp slack of [[resolveParents]]. */
  val TolNs = 1000000L

  /** Give every span without a parent the innermost container span that
    * covers it (within [[TolNs]], since some sources stamp whole
    * milliseconds). Containers are searched from the deepest level
    * (`levels` lists names from outermost to innermost). */
  def resolveParents(spans: Seq[Span], levels: Seq[(String, String)]): Seq[Span] = {
    val byLevel = levels.map { case (layer, name) =>
      spans.filter(s => s.layer == layer && s.name == name).sortBy(_.startNs).toArray
    }.reverse
    def container(s: Span): Option[Span] =
      byLevel.iterator.flatMap { arr =>
        var lo = 0; var hi = arr.length - 1; var found = -1
        while (lo <= hi) {
          val m = (lo + hi) >>> 1
          if (arr(m).startNs <= s.startNs + TolNs) { found = m; lo = m + 1 } else hi = m - 1
        }
        // containers of one level barely overlap: a few candidates at most
        var i = found; var hit: Option[Span] = None
        while (hit.isEmpty && i >= 0 && i > found - 8) {
          val c = arr(i)
          if (c.id != s.id && c.endNs + TolNs >= s.endNs && c.startNs - TolNs <= s.startNs &&
            c.durNs > s.durNs) hit = Some(c)
          i -= 1
        }
        hit
      }.nextOption()
    spans.map { s =>
      if (s.parent.nonEmpty) s
      else container(s).fold(s)(c => s.copy(parent = c.id, op = if (s.op.isEmpty) c.op else s.op))
    }
  }

  /** Every span takes the micro-batch or entry id of its nearest ancestor
    * that has one. */
  def propagateOps(spans: Seq[Span]): Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    val memo = mutable.HashMap.empty[String, String]
    def op(s: Span, depth: Int): String =
      if (s.op.nonEmpty || depth > 64) s.op
      else memo.getOrElseUpdate(s.id, byId.get(s.parent).fold("")(op(_, depth + 1)))
    spans.map(s => if (s.op.nonEmpty) s else s.copy(op = op(s, 0)))
  }

  /** Self time per span: its duration minus the part of it that its
    * children cover (children clipped to the parent's interval). */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      cs.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> math.max(0L, s.durNs - covered)
    }.toMap
  }

  /** (layer, span count, total ms, self ms), one row per layer. */
  def layerTable(spans: Seq[Span]): Seq[(String, Int, Double, Double)] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).toSeq.sortBy(_._1).map { case (layer, ss) =>
      (layer, ss.size, ss.map(_.durNs).sum / 1e6, ss.map(s => self(s.id)).sum / 1e6)
    }
  }

  def write(path: java.nio.file.Path, spans: Seq[Span], table: Seq[(String, Int, Double, Double)]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      table.foreach { case (l, n, tot, self) =>
        w.write(Json(Map("self_time" -> l, "spans" -> n, "total_ms" -> tot, "self_ms" -> self))); w.newLine()
      }
      spans.foreach { s =>
        w.write(Json(Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs, "op" -> s.op)))
        w.newLine()
      }
    } finally w.close()
  }
}
