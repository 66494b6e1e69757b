package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The benchmark process: set up, run one workload, check its outputs and
  * write the result file that `run.py` reports. With `--setup-only 1` it
  * stops after the set-up and reports only `setup_s`.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --out FILE --launched-ms MS [--trace-out FILE] [--data DIR --out-dir DIR]
  *   [--expect-wrong 1] [--setup-only 1]
  */
object Main {
  val Cores = 4
  /** Offered rate of the live reference row: about half the rate at which
    * its configuration saturates on 4 cores. */
  val LiveRate = 10000.0
  /** Unmeasured lead-in of the open-loop schedule: the query's first
    * micro-batches create the stores and warm its code paths. */
  val LiveWarmS = 3.0
  /** Full-size drains in the engine set-up: the drain path needs them before
    * its timing stops improving. */
  val WarmDrains = 2

  final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Metric value with its unit. */
  final case class M(value: Double, unit: String)

  def main(argv: Array[String]): Unit = {
    val args = new Args(argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = args("work")
    val wrong = args.get("expect-wrong").contains("1")
    require(Set("engine-backfill", "entries-mix")(workload), s"unknown workload $workload")
    val dirs = Iterator.from(0).map(i => s"$work/q$i")

    def log(msg: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - args("launched-ms").toLong) / 1000.0}%.1f s: $msg")

    // --- set-up, timed from process launch: the session, and on the engine
    // workload a JIT warm-up of the drain path; the entries' first pass is
    // their own warm-up and is reported on its own
    var spark = session(Cores, work)
    log("session")
    val warmBacklog = Gen.backlog(seed + 7919, Engine.BackfillShards, Engine.BackfillMedianLen, Engine.BackfillHot)
    def warmUp(): Unit = for (_ <- 0 until WarmDrains) {
      val warm = Engine.drain(spark, warmBacklog, warmBacklog.expected, dirs.next(), trace = false)
      require(warm.problems.isEmpty, s"warm-up drain failed: ${warm.problems.mkString("; ")}")
      log(f"warm drain ${warm.wallS}%.2f s")
    }
    val stressMs = if (workload != "engine-backfill") 0.0 else {
      val ms = Engine.stress640(spark, dirs.next()); warmUp(); ms
    }
    val setupS = (System.currentTimeMillis() - args("launched-ms").toDouble) / 1000.0
    log(f"set-up done: $setupS%.2f s (stress config $stressMs%.0f ms)")
    if (args.get("setup-only").contains("1")) {
      Files.writeString(Paths.get(args("out")), Json(Map("setup_s" -> setupS)))
      sys.exit(0)
    }

    val e2e = mutable.LinkedHashMap.empty[String, M]
    val layers = mutable.LinkedHashMap.empty[String, M]
    val problems = mutable.ArrayBuffer.empty[String]
    val phases = mutable.ArrayBuffer.empty[Phase]
    var attempted = 0L
    var failed = 0L

    /** Runs `f` traced: decorators on, fresh listeners attached. */
    def tracedPhase[A](f: => A): (A, Phase) = {
      val listen = new Listen
      spark.sparkContext.addSparkListener(listen)
      spark.streams.addListener(listen.streaming)
      Trace.reset(); Trace.on = true
      val t0 = System.nanoTime()
      val a = f
      val wall = (System.nanoTime() - t0) / 1e9
      Trace.on = false
      org.apache.spark.BusDrain(spark.sparkContext)
      spark.streams.removeListener(listen.streaming)
      spark.sparkContext.removeSparkListener(listen)
      val ph = Report.phase(listen, wall)
      phases += ph
      (a, ph)
    }

    val outcomes = mutable.Map("attempts" -> 0L, "ok" -> 0L, "soft" -> 0L, "hard" -> 0L)
    def addOutcomes(): Unit = {
      outcomes("attempts") += Outcomes.attempts.sum; outcomes("ok") += Outcomes.ok.sum
      outcomes("soft") += Outcomes.soft.sum; outcomes("hard") += Outcomes.hard.sum
    }
    def account(ops: Long, bad: Seq[String]): Unit = {
      attempted += ops
      if (bad.nonEmpty) { failed += math.max(1L, math.min(ops, bad.size.toLong)); problems ++= bad }
    }

    workload match {
      case "engine-backfill" =>
        val backlog = Gen.backlog(seed, Engine.BackfillShards, Engine.BackfillMedianLen, Engine.BackfillHot)
        val exp = if (wrong) perturb(backlog.expected) else backlog.expected
        def drains(traceOn: Boolean): Seq[QueryRun] = {
          val deadline = System.nanoTime() + (seconds * 1e9).toLong
          val out = Seq.newBuilder[QueryRun]
          var n = 0
          while (n < 3 || System.nanoTime() < deadline) {
            val r = Engine.drain(spark, backlog, exp, dirs.next(), traceOn)
            if (traceOn) addOutcomes()
            account(r.batches.size, r.problems); out += r; n += 1
          }
          out.result()
        }
        val runs = drains(traceOn = false)
        log(s"${runs.size} drains: ${runs.map(r => f"${r.wallS}%.2f").mkString(" ")} s")
        val rps = runs.map(backlog.expected.records / _.wallS)
        val catchUp = runs.flatMap(_.catchUpMs)
        e2e("throughput_per_s") = M(Stats.median(rps), "1/s")
        e2e("latency_p50_ms") = M(Stats.median(catchUp), "ms")
        e2e("latency_p95_ms") = M(Stats.tail(catchUp, catchUp.length), "ms")
        if (trace) {
          val (truns, ph) = tracedPhase(drains(traceOn = true))
          engineLayers(layers, ph, truns.flatMap(_.progress), backlog.expected.records * truns.size, outcomes.toMap)
          layers("trace.overhead_ratio") =
            M(Stats.median(rps) / Stats.median(truns.map(backlog.expected.records / _.wallS)), "ratio")
          liveReference(layers, spark, seed, seconds, dirs.next(), wrong, tracedPhase(_), account)
          layers("baseline.stress_640_ms") = M(stressMs, "ms")
          spark.stop()
          spark = session(1, work)
          warmUp()
          val one = Engine.drain(spark, backlog, exp, dirs.next(), trace = false)
          account(one.batches.size, one.problems)
          layers("backfill_rps_1core") = M(backlog.expected.records / one.wallS, "1/s")
        }

      case "entries-mix" =>
        val data = args("data")
        val first = Entries.pass(spark, data, 0)
        log(f"first pass ${first.map(_.wallS).sum}%.2f s")
        val passes = Entries.steady(spark, data, seconds, 1)
        log(s"${passes.size} steady passes: " + passes.map(p => f"${p.map(_.wallS).sum}%.2f").mkString(" "))
        val med = Entries.medians(passes, _.wallS)
        val steadyS = med.values.sum
        val runsMs = passes.flatten.map(_.wallS * 1000)
        e2e("throughput_per_s") = M(Entries.Names.size / steadyS, "1/s")
        e2e("latency_p50_ms") = M(Stats.median(runsMs), "ms")
        // a few dozen runs support no tail above the median: report the
        // slowest entry's median, whatever the number of passes
        e2e("latency_p95_ms") = M(med.values.max * 1000, "ms")
        var all = first +: passes
        all.foreach(p => log(p.map(r => f"${r.entry.take(3)} ${r.wallS}%.2f").mkString("  ")))
        if (trace) {
          val (tpasses, ph) = tracedPhase(Entries.steady(spark, data, seconds, 1 + passes.size))
          val tmed = Entries.medians(tpasses, _.wallS)
          layers("analytics.first_pass_s") = M(first.map(_.wallS).sum, "s")
          entryLayers(layers, ph, tpasses, first.map(_.wallS).sum - steadyS)
          Entries.Names.foreach(n => layers(s"analytics.$n.steady_s") = M(tmed(n), "s"))
          layers("trace.overhead_ratio") = M(tmed.values.sum / steadyS, "ratio")
          all = all ++ tpasses
        }
        account(all.map(_.size).sum.toLong, Entries.writeForOracle(spark, all, args("out-dir")))
    }

    e2e("setup_s") = M(setupS, "s")
    e2e("peak_rss_mb") = M(peakRssMb(), "MB")
    layers("jvm.peak_heap_used_mb") = M(peakHeapMb(), "MB")
    layers("failed_ratio") = M(if (attempted == 0) 0.0 else failed.toDouble / attempted, "ratio")
    spark.stop()

    if (trace) {
      val spans = phases.flatMap(_.spans).toSeq
      val table = Report.layerTable(spans)
      val path = Paths.get(args("trace-out"))
      Report.write(path, spans, table)
      System.err.println(s"[perfbench] ${spans.size} spans -> $path")
      System.err.println("[perfbench] self time by layer:")
      table.foreach { case (l, n, tot, self) =>
        System.err.println(f"[perfbench]   $l%-11s $n%8d spans  total $tot%10.1f ms  self $self%10.1f ms") }
    }
    log("done")
    problems.take(20).foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    val metrics = if (trace) layers else e2e
    val result = Map(
      "correct" -> problems.isEmpty,
      "attempted" -> math.max(1L, attempted),
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) },
      "problems" -> problems.take(50).toSeq)
    Files.writeString(Paths.get(args("out")), Json(result))
    // the result is on disk: exit without waiting for non-daemon threads
    // that stopped streaming queries leave behind
    sys.exit(0)
  }

  /** The open-loop consumer, as a reference row of the traced backfill run:
    * a schedule at [[LiveRate]] over 256 shards with a 100 ms trigger, a
    * concurrency cap of 4, a `MetricsAggregator` attached and a count sink.
    * Its per-batch fixed costs (planning over 256 shards, the offset and
    * commit logs, up to 256 checkpoint saves, monitoring) are what the
    * `live.*` figures and the monitoring layer report. */
  def liveReference(out: mutable.Map[String, M], spark: SparkSession, seed: Long, seconds: Double, dir: String,
      wrong: Boolean, traced: (=> Engine.LiveRun) => (Engine.LiveRun, Phase),
      account: (Long, Seq[String]) => Unit): Unit = {
    val sched = Gen.schedule(seed, Engine.LiveShards, (LiveRate * (LiveWarmS + seconds)).toInt)
    val exp = if (wrong) perturb(sched.expected) else sched.expected
    Outcomes.reset()
    val (r, ph) = traced(Engine.live(spark, sched, exp, LiveRate, LiveWarmS, seconds, dir, trace = true))
    account(r.run.batches.size, r.run.problems)
    val m = mutable.LinkedHashMap.empty[String, M]
    engineLayers(m, ph, r.run.progress, sched.expected.records,
      Map("attempts" -> Outcomes.attempts.sum, "ok" -> Outcomes.ok.sum, "soft" -> 0L, "hard" -> 0L))
    out("live.latency_p50_ms") = M(Stats.median(r.latencies), "ms")
    out("live.latency_p95_ms") = M(Stats.tail(r.latencies, r.units), "ms")
    out("live.throughput_per_s") = M(r.committedPerS, "1/s")
    Seq("engine.batches", "engine.batch_p50_ms", "sources.plan_calls_per_batch", "sources.latest_offset_ms_per_batch",
      "engine.onitems_ms_per_batch", "engine.driver_commit_ms_per_batch", "engine.unattributed_ms",
      "store.saves_per_batch", "store.save_ms", "store.save_p95_ms", "streaming.wal_commit_ms_per_batch",
      "streaming.commit_offsets_ms_per_batch").foreach(k => out(s"live.$k") = m(k))
    Seq("monitoring.events", "monitoring.events_per_record", "monitoring.emit_ms").foreach(k => out(k) = m(k))
  }

  /** A deliberately wrong expectation: one more item of the first type. */
  def perturb(e: Gen.Expected): Gen.Expected =
    e.copy(typeCounts = e.typeCounts.updated(Gen.Types.head, e.typeCounts.getOrElse(Gen.Types.head, 0L) + 1))

  /** Peak bytes used of the Java heap: the sum of each heap pool's peak. */
  def peakHeapMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20)

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Per-layer figures of an engine workload's traced phase. */
  def engineLayers(out: mutable.Map[String, M], ph: Phase, progress: Seq[StreamingQueryProgress],
      records: Long, outcomes: Map[String, Long]): Unit = {
    val batches = progress.filter(Report.executed)
    val batchMs = batches.map(_.durationMs.get("triggerExecution").doubleValue)
    val nb = math.max(1, batches.size).toDouble
    def phase(k: String): Double = batches.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue)).sum
    def ms(k: String): Double = ph.ms(k)
    val calls = ph.counter("sources.getRecords.n")
    out("sources.getrecords_calls") = M(calls.toDouble, "count")
    out("sources.getrecords_ms") = M(ms("sources.getRecords"), "ms")
    out("sources.records_per_call") = M(if (calls == 0) 0.0 else ph.counter("sources.records").toDouble / calls, "count")
    out("sources.plan_calls_per_batch") = M(ph.counter("sources.plan.n") / nb, "count")
    out("sources.latest_offset_ms_per_batch") = M(phase("latestOffset") / nb, "ms")
    out("sources.get_batch_ms_per_batch") = M(phase("getBatch") / nb, "ms")
    val attempts = outcomes("attempts"); val recs = outcomes("ok") + outcomes("hard")
    out("processor.attempts") = M(attempts.toDouble, "count")
    out("processor.records") = M(recs.toDouble, "count")
    out("processor.useful_ratio") = M(if (attempts == 0) 0.0 else recs.toDouble / attempts, "ratio")
    out("processor.process_ms") = M(ms("processor.process"), "ms")
    out("processor.soft_failures") = M(outcomes("soft").toDouble, "count")
    out("processor.hard_failures") = M(outcomes("hard").toDouble, "count")
    val runMs = ph.listen.tasks.asScala.map(_.runMs).sum.toDouble
    out("processor.task_overhead_ms") = M(runMs - ms("sources.getRecords") - ms("processor.process") - ms("engine.validate"), "ms")
    out("engine.batches") = M(batches.size.toDouble, "count")
    out("engine.batch_p50_ms") = M(if (batchMs.isEmpty) 0.0 else Stats.median(batchMs), "ms")
    out("engine.batch_p95_ms") = M(if (batchMs.isEmpty) 0.0 else Stats.tail(batchMs, batchMs.size), "ms")
    out("engine.validate_calls") = M(ph.counter("engine.validate.n").toDouble, "count")
    out("engine.validate_ms") = M(ms("engine.validate"), "ms")
    out("engine.onitems_ms_per_batch") = M(ms("engine.onItems") / nb, "ms")
    out("engine.driver_commit_ms_per_batch") = M((phase("addBatch") - ms("engine.onItems")) / nb, "ms")
    out("engine.jobs_per_batch") = M(ph.jobsPer("engine", "batch"), "count")
    out("engine.unattributed_ms") = M(ph.named("engine", "batch").map(s => ph.self(s.id)).sum / 1e6, "ms")
    val saves = ph.named("store", "saveCheckpoint").map(_.durNs / 1e6)
    out("store.saves") = M(saves.size.toDouble, "count")
    out("store.saves_per_batch") = M(saves.size / nb, "count")
    out("store.save_ms") = M(saves.sum, "ms")
    out("store.save_p95_ms") = M(if (saves.isEmpty) 0.0 else Stats.tail(saves, saves.size), "ms")
    out("store.gets") = M(ph.counter("store.get.n").toDouble, "count")
    val events = ph.counter("monitoring.emit.n")
    out("monitoring.events") = M(events.toDouble, "count")
    out("monitoring.events_per_record") = M(if (records == 0) 0.0 else events.toDouble / records, "ratio")
    out("monitoring.emit_ms") = M(ms("monitoring.emit"), "ms")
    out("streaming.wal_commit_ms_per_batch") = M(phase("walCommit") / nb, "ms")
    out("streaming.commit_offsets_ms_per_batch") = M(phase("commitOffsets") / nb, "ms")
    out("streaming.query_planning_ms_per_batch") = M(phase("queryPlanning") / nb, "ms")
    sparkLayers(out, ph)
    catalyst(out, ph, nb)
  }

  def catalyst(out: mutable.Map[String, M], ph: Phase, per: Double): Unit = {
    val cat = ph.spans.filter(_.layer == "catalyst")
    Seq("analysis", "optimization", "planning").foreach { ph =>
      out(s"catalyst.${ph}_ms") = M(cat.filter(_.name == ph).map(_.durNs / 1e6).sum / per, "ms")
    }
  }

  def sparkLayers(out: mutable.Map[String, M], ph: Phase): Unit = {
    val l = ph.listen
    val wallS = ph.wallS
    val tasks = l.tasks.asScala.toSeq
    val execS = tasks.map(_.runMs).sum / 1000.0
    out("spark.jobs") = M(l.jobs.size.toDouble, "count")
    out("spark.stages") = M(l.stages.size.toDouble, "count")
    out("spark.tasks") = M(tasks.size.toDouble, "count")
    out("spark.exec_run_s") = M(execS, "s")
    out("spark.cpu_util") = M(execS / (wallS * Cores), "ratio")
    out("spark.gc_s") = M(tasks.map(_.gcMs).sum / 1000.0, "s")
    out("spark.scheduler_delay_ms") = M(if (tasks.isEmpty) 0.0 else tasks.map(_.schedulerDelayMs).sum.toDouble / tasks.size, "ms")
    val skews = tasks.groupBy(t => (t.stage, t.stageAttempt)).values.filter(_.size >= 2).map { ts =>
      val run = ts.map(_.runMs.toDouble)
      run.max / math.max(1.0, Stats.median(run))
    }
    out("spark.task_skew") = M(if (skews.isEmpty) 1.0 else Stats.median(skews), "ratio")
    out("spark.shuffle_read_bytes") = M(tasks.map(_.shuffleRead).sum.toDouble, "bytes")
    out("spark.shuffle_write_bytes") = M(tasks.map(_.shuffleWrite).sum.toDouble, "bytes")
    out("spark.spill_bytes") = M(tasks.map(_.spill).sum.toDouble, "bytes")
    out("spark.peak_exec_mem_bytes") = M(tasks.map(_.peakMem).maxOption.getOrElse(0L).toDouble, "bytes")
  }

  /** Per-layer figures of the entries' traced passes. */
  def entryLayers(out: mutable.Map[String, M], ph: Phase, passes: Seq[Seq[Entries.EntryRun]],
      firstMinusSteady: Double): Unit = {
    val l = ph.listen
    val np = passes.size.toDouble
    out("analytics.construct_s") = M(Entries.medians(passes, _.constructS).values.sum, "s")
    out("analytics.execute_s") = M(Entries.medians(passes, _.executeS).values.sum, "s")
    out("analytics.first_minus_steady_s") = M(firstMinusSteady, "s")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def du(f: java.io.File): Long = if (f.isDirectory) Option(f.listFiles).fold(0L)(_.map(du).sum) else f.length
    out("analytics.stagecache_bytes") = M(Option(tmp.listFiles).fold(0L)(
      _.filter(_.getName.startsWith("graft-stage-")).map(du).sum).toDouble, "bytes")
    val prog = l.progress.asScala.toSeq
    val batches = prog.filter(Report.executed)
    val nb = math.max(1, batches.size).toDouble
    def phase(k: String): Double = batches.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue)).sum
    out("streaming.wal_commit_ms_per_batch") = M(phase("walCommit") / nb, "ms")
    out("streaming.commit_offsets_ms_per_batch") = M(phase("commitOffsets") / nb, "ms")
    out("streaming.query_planning_ms_per_batch") = M(phase("queryPlanning") / nb, "ms")
    val ops = prog.flatMap(_.stateOperators)
    out("streaming.state_commit_ms") = M(ops.map(_.commitTimeMs).sum / np, "ms")
    out("streaming.state_update_ms") = M(ops.map(_.allUpdatesTimeMs).sum / np, "ms")
    val lastPerQuery = prog.groupBy(_.runId).values.map(_.maxBy(_.batchId)).toSeq
    out("streaming.state_rows_total") = M(lastPerQuery.flatMap(_.stateOperators).map(_.numRowsTotal).sum / np, "count")
    out("streaming.state_memory_bytes") = M(lastPerQuery.flatMap(_.stateOperators).map(_.memoryUsedBytes).sum / np, "bytes")
    out("engine.batches") = M(batches.size / np, "count")
    out("engine.jobs_per_batch") = M(ph.jobsPer("engine", "batch"), "count")
    out("engine.unattributed_ms") = M(ph.named("engine", "batch").map(s => ph.self(s.id)).sum / 1e6 / np, "ms")
    out("analytics.jobs_per_entry") = M(ph.jobsPer("analytics", "entry"), "count")
    sparkLayers(out, ph)
    catalyst(out, ph, np)
  }
}
