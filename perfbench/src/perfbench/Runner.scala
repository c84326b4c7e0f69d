package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark JVM: one workload, closed loop, one client.
  *
  * `--mode run` does the set-up (session; an untimed check pass that
  * compares every gate's digest with the recorded one and warms JIT,
  * codegen and the context-scoped staged inputs; one untimed warm-up pass),
  * then timed passes over the workload's gates while the next one is
  * expected to end within `--seconds` (at least one; two when traced). Each
  * pass runs on a fresh `spark.newSession()` in a seed-permuted order; a
  * gate is `SparkEntry.queries(name)(session, data)` followed by a `noop`
  * write, as in `graft.Bench`. Between passes the blocks the program left
  * persisted are released. With `--trace 1` every second pass is traced
  * (execution and Catalyst listeners attached, spans recorded).
  *
  * `--mode record` runs every named gate once, writes each result as
  * parquet for `tools/oracle_check.py`, and writes the digests.
  * `--mode train` runs every named gate once and nothing else (the build's
  * class-data-sharing training run).
  *
  * Results go to the JSON file `--out`; spans to `--spans`. */
object Runner {
  val GateProperty = "perfbench.gate"
  private val json = new ObjectMapper()
  def encode(v: Any): String = json.writeValueAsString(toJava(v))

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = session(a("cores").toInt, a("scratch"), a.get("trace").contains("1"))
    try a("mode") match {
      case "run" => new Run(spark, a).main()
      case "record" => record(spark, a)
      case "train" => // loads the classes the class-data archive should hold
        a("gates").split(',').foreach(g => gateFn(g)(spark.newSession(), a("data")).collect())
    } finally spark.stop()
  }

  private def session(cores: Int, scratch: String, trace: Boolean): SparkSession = {
    val b = graft.Tables.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse"))
    if (trace) b.config("spark.sql.queryExecutionListeners", classOf[CatalystListener].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Scala values to the Java collections Jackson encodes. */
  def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case Some(x) => toJava(x)
    case None => null
    case x => x
  }
  def write(path: String, v: Any): Unit = Files.writeString(Paths.get(path), encode(v))

  def gateFn(name: String): (SparkSession, String) => DataFrame =
    graft.SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown gate $name"))

  private def record(spark: SparkSession, a: Map[String, String]): Unit = {
    val out = a("out")
    val gates = a("gates").split(',').toSeq
    val s = spark.newSession()
    val digests = gates.map { g =>
      val df = gateFn(g)(s, a("data"))
      val rows = df.collect()
      val direct = Digest.of(df.columns, rows)
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$g")
      val back = spark.read.parquet(s"$out/$g")
      val reread = Digest.of(back.columns, back.collect())
      require(direct == reread, s"$g: digest of the collected rows differs from the written parquet")
      System.err.println(s"[perfbench] recorded $g rows=${rows.length}")
      g -> Map("digest" -> direct, "rows" -> rows.length)
    }
    write(s"$out/digests.json", digests.toMap)
    write(s"$out/oracle_sql.json", graft.SparkEntry.oracleSql.filter { case (k, _) => gates.contains(k) })
  }
}

final case class GateRec(name: String, id: String, start: Double, built: Double, end: Double,
    ok: Boolean)

/** One benchmark run in `--mode run`. */
final class Run(spark: SparkSession, a: Map[String, String]) {
  private val sc: SparkContext = spark.sparkContext
  private val gates = a("gates").split(',').toSeq
  private val data = a("data")
  private val seconds = a("seconds").toDouble
  private val traceOn = a("trace") == "1"
  private val cores = a("cores").toInt
  private val rnd = new scala.util.Random(a("seed").toLong)

  // wall clock with sub-millisecond resolution, on the epoch scale that
  // listener event times use
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  private val progress = new ProgressListener
  private val traceL = new TraceListener
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val loadavg = mutable.ArrayBuffer.empty[Double]
  private var attempted = 0
  private var failed = 0
  private val errors = mutable.ArrayBuffer.empty[String]

  private def sampleLoad(): Unit =
    loadavg += Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble

  private def fail(msg: String): Unit = {
    failed += 1
    errors += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  private def storageBytes: Long = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Release every block persisted since `baseIds` through public calls
    * (the catalog's cache, then `RDD.unpersist`); returns how many RDDs the
    * program had left persisted. */
  private def release(session: SparkSession, baseIds: Set[Int]): Int = {
    val leaked = sc.getPersistentRDDs.keySet.diff(baseIds).size
    session.catalog.clearCache()
    sc.getPersistentRDDs.foreach { case (id, rdd) => if (!baseIds(id)) rdd.unpersist(blocking = true) }
    leaked
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum
  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def main(): Unit = {
    val expected: Map[String, String] = {
      val tree = new ObjectMapper().readTree(Files.readString(Paths.get(a("digests"))))
      gates.map { g =>
        val d = tree.get(g)
        require(d != null, s"no recorded digest for gate $g")
        g -> d.get("digest").asText()
      }.toMap
    }
    val fns = gates.map(g => g -> Runner.gateFn(g)).toMap
    sampleLoad()
    sc.addSparkListener(progress)

    // ---- set-up: the untimed check pass ----
    // in the workload's own order, not the seed's: the gate that runs
    // first in a cold JVM shapes the JIT's profiles for the whole run
    val checkOrder = gates
    val preIds = sc.getPersistentRDDs.keySet.toSet
    val sessionReadyS = (nowMs - jvmStartMs) / 1000.0
    val checkTimes = mutable.LinkedHashMap.empty[String, Double]
    val checkSession = spark.newSession()
    val checked = checkOrder.map { g =>
      attempted += 1
      val t = nowMs
      val ok = try {
        val df = fns(g)(checkSession, data)
        val got = Digest.of(df.columns, df.collect())
        if (got != expected(g)) fail(s"$g: digest $got, expected ${expected(g)}")
        got == expected(g)
      } catch { case e: Throwable => fail(s"$g (check pass): $e"); false }
      checkTimes(g) = (nowMs - t) / 1000.0
      g -> ok
    }.toMap
    release(checkSession, preIds)
    Bus.drain(sc)
    progress.take()
    val baseIds = sc.getPersistentRDDs.keySet.toSet
    val baseBytes = storageBytes
    var storageOk = true
    def releaseAfter(pass: String): Int = {
      val leaked = release(spark, baseIds)
      // blocks must return to the level measured after the check pass, so
      // every pass starts from the same storage state
      var tries = 0
      while (storageBytes != baseBytes && tries < 50) { Thread.sleep(100); tries += 1 }
      if (storageBytes != baseBytes) {
        storageOk = false
        fail(s"$pass: storage $storageBytes B after release, set-up level $baseBytes B")
      }
      leaked
    }
    // the rest of set-up: one untimed pass exactly like a timed one, in the
    // workload's order, so timed passes do not run through JIT warm-up
    runPass(-1, traced = false, gates, fns, checked)
    releaseAfter("warm-up pass")
    progress.take()
    val setupS = (nowMs - jvmStartMs) / 1000.0

    // ---- timed passes ----
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val walls = mutable.ArrayBuffer.empty[Double]
    val minPasses = if (traceOn) 2 else 1
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passes.size < minPasses || elapsed + walls.sorted.apply(walls.size / 2) <= seconds) {
      val traced = traceOn && passes.size % 2 == 1
      val (pass, wall) = runPass(passes.size, traced, rnd.shuffle(gates), fns, checked)
      passes += pass + ("leaked_rdds" -> releaseAfter(s"pass ${passes.size}"))
      walls += wall
      sampleLoad()
    }

    val status = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    val hwmKb = status.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    Runner.write(a("out"), Map(
      "setup_s" -> setupS,
      "session_ready_s" -> sessionReadyS,
      "check_order" -> checkOrder,
      "check_s" -> checkTimes,
      "check" -> checked,
      "passes" -> passes,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors,
      "storage_baseline_bytes" -> baseBytes,
      "storage_ok" -> storageOk,
      "rss_peak_mb" -> hwmKb / 1024.0,
      "loadavg" -> loadavg,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "cores" -> cores))
    if (traceOn) {
      Files.write(Paths.get(a("spans")), spans.map(Runner.encode).asJava)
    }
  }

  private def runPass(index: Int, traced: Boolean, order: Seq[String],
      fns: Map[String, (SparkSession, String) => DataFrame],
      checked: Map[String, Boolean]): (Map[String, Any], Double) = {
    val session = spark.newSession()
    if (traced) { traceL.reset(); sc.addSparkListener(traceL); Catalyst.take(); Catalyst.enabled = true }
    heapPools.foreach(_.resetPeakUsage())
    var storedPeak = storageBytes
    val gc0 = gcMs
    val cpu0 = cpuNs
    val start = nowMs
    val recs = order.zipWithIndex.map { case (g, k) =>
      val id = s"p$index.g$k"
      sc.setLocalProperty(Runner.GateProperty, id)
      val s = nowMs
      if (!checked(g)) GateRec(g, id, s, s, s, ok = false) // failed its check: never timed
      else {
        attempted += 1
        var built = s
        val ok = try {
          val df = fns(g)(session, data)
          built = nowMs
          df.write.format("noop").mode("overwrite").save()
          true
        } catch { case e: Throwable => fail(s"$g (pass $index): $e"); false }
        val r = GateRec(g, id, s, built, nowMs, ok)
        if (traced) storedPeak = math.max(storedPeak, storageBytes)
        r
      }
    }
    sc.setLocalProperty(Runner.GateProperty, null)
    val end = nowMs
    val cpuS = (cpuNs - cpu0) / 1e9
    val gcS = (gcMs - gc0) / 1000.0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    Bus.drain(sc)
    val batches = progress.take()
    val wall = (end - start) / 1000.0
    val layers = mutable.LinkedHashMap[String, Any]()
    layers ++= Seq(
      "queries.build_s" -> recs.filter(_.ok).map(r => r.built - r.start).sum / 1000.0,
      "queries.execute_s" -> recs.filter(_.ok).map(r => r.end - r.built).sum / 1000.0,
      "jvm.gc_s" -> gcS,
      "jvm.heap_peak_mb" -> heapPeakMb)
    layers ++= Run.streamStats(batches)
    if (traced) {
      sc.removeSparkListener(traceL)
      Catalyst.enabled = false
      val (jobs, stages, persisted, t) = traceL.snapshot()
      Catalyst.take().foreach { case (k, v) => layers(s"catalyst.$k") = v }
      val jobUnion = Run.unionLength(jobs.map(j => (math.max(j.start.toDouble, start),
        math.min(j.end.toDouble, end))).filter { case (x, y) => y > x })
      layers ++= Seq(
        "exec.jobs" -> jobs.size,
        "exec.stages" -> stages.size,
        "exec.tasks" -> t("tasks"),
        "exec.driver_gap_s" -> ((end - start) - jobUnion) / 1000.0,
        "exec.task_run_s" -> t("task_run_ms") / 1000.0,
        "exec.task_wait_s" -> t("task_wait_ms") / 1000.0,
        "exec.core_busy_frac" -> t("task_run_ms") / 1000.0 / (wall * cores),
        "exec.shuffle_read_bytes" -> t("shuffle_read_bytes"),
        "exec.shuffle_write_bytes" -> t("shuffle_write_bytes"),
        "exec.spill_bytes" -> t("spill_bytes"),
        "exec.task_gc_s" -> t("task_gc_ms") / 1000.0,
        "exec.failed_tasks" -> t("failed_tasks"),
        "cache.persisted_rdds" -> persisted,
        "cache.stored_bytes_peak" -> storedPeak)
      recordSpans(index, recs, jobs, stages, batches)
    }
    val pass = Map(
      "index" -> index,
      "traced" -> traced,
      "order" -> order,
      "wall_s" -> wall,
      "cpu_s" -> cpuS,
      "gates" -> recs.map(r => Map("name" -> r.name, "ok" -> r.ok,
        "build_s" -> (r.built - r.start) / 1000.0, "execute_s" -> (r.end - r.built) / 1000.0,
        "total_s" -> (r.end - r.start) / 1000.0)),
      "microbatch_ms" -> batches.map(b => Run.dur(b, "triggerExecution")),
      "layers" -> layers)
    (pass, wall)
  }

  /** Spans of one traced pass, all of a gate's spans sharing its id:
    * gate → gate.build / gate.execute (benchmark-side calls), with
    * stream.batch, job and stage spans from listener events placed under
    * the innermost span of the same gate that contains them. */
  private def recordSpans(index: Int, recs: Seq[GateRec], jobs: Seq[JobRec], stages: Seq[StageRec],
      batches: Seq[StreamingQueryProgress]): Unit = {
    def span(trace: String, id: String, parent: String, kind: String, name: String,
        s: Double, e: Double): Map[String, Any] =
      Map("pass" -> index, "trace" -> trace, "span" -> id, "parent" -> parent, "kind" -> kind,
        "name" -> name, "start_ms" -> s, "end_ms" -> e)
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    for (r <- recs if r.ok) {
      out += span(r.id, r.id, null, "gate", r.name, r.start, r.end)
      out += span(r.id, s"${r.id}.build", r.id, "gate.build", r.name, r.start, r.built)
      out += span(r.id, s"${r.id}.execute", r.id, "gate.execute", r.name, r.built, r.end)
    }
    def within(t: Double, s: Double, e: Double) = t >= s - 1 && t <= e + 1
    def gateAt(t: Double) = recs.find(r => r.ok && within(t, r.start, r.end))
    val batchSpans = batches.flatMap { b =>
      val s = java.time.Instant.parse(b.timestamp).toEpochMilli.toDouble
      gateAt(s).map { r =>
        val parent = if (within(s, r.start, r.built)) s"${r.id}.build" else s"${r.id}.execute"
        span(r.id, s"${r.id}.batch.${b.runId}.${b.batchId}", parent, "stream.batch",
          s"batch ${b.batchId}", s, s + Run.dur(b, "triggerExecution"))
      }
    }
    out ++= batchSpans
    val jobOwner = mutable.Map.empty[Int, (String, String)]
    for (j <- jobs) {
      val owner = recs.find(r => r.ok && r.id == j.gate).orElse(gateAt(j.start.toDouble))
      owner.foreach { r =>
        val t = j.start.toDouble
        val parent = batchSpans.find(b => b("trace") == r.id &&
            within(t, b("start_ms").asInstanceOf[Double], b("end_ms").asInstanceOf[Double]))
          .map(_("span").toString)
          .getOrElse(if (within(t, r.start, r.built)) s"${r.id}.build" else s"${r.id}.execute")
        val id = s"${r.id}.job.${j.id}"
        out += span(r.id, id, parent, "job", s"job ${j.id}", t, j.end.toDouble)
        j.stageIds.foreach(st => jobOwner.getOrElseUpdate(st, (r.id, id)))
      }
    }
    for (st <- stages; (trace, job) <- jobOwner.get(st.id))
      out += span(trace, s"$job.stage.${st.id}.${st.attempt}", job, "stage", s"stage ${st.id}",
        st.submit.toDouble, st.end.toDouble)
    spans ++= out
  }
}

object Run {
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Total length covered by a set of intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    for ((s, e) <- iv.sortBy(_._1)) {
      if (open && s <= curE) curE = math.max(curE, e)
      else { if (open) total += curE - curS; curS = s; curE = e; open = true }
    }
    if (open) total += curE - curS
    total
  }

  /** Per-pass streaming layer figures from the queries' progress reports. */
  def streamStats(ps: Seq[StreamingQueryProgress]): Seq[(String, Any)] = {
    def sum(f: StreamingQueryProgress => Double) = ps.map(f).sum
    def ops(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      sum(_.stateOperators.map(f).sum)
    val byRun = ps.groupBy(_.runId).values.map(_.sortBy(_.batchId))
    val stateBytes = byRun.map(_.map(_.stateOperators.map(_.memoryUsedBytes).sum).maxOption
      .getOrElse(0L)).sum
    val regressions = byRun.map { run =>
      val marks = run.flatMap(p => Option(p.eventTime.get("watermark")))
        .map(w => java.time.Instant.parse(w).toEpochMilli)
      marks.zip(marks.drop(1)).count { case (x, y) => y < x }
    }.sum
    Seq(
      "stream.batches" -> ps.size,
      "stream.useful_batch_ratio" ->
        (if (ps.isEmpty) 0.0 else ps.count(_.numInputRows > 0).toDouble / ps.size),
      "stream.planning_ms" -> sum(dur(_, "queryPlanning")),
      "stream.wal_commit_ms" -> sum(dur(_, "walCommit")),
      "stream.commit_offsets_ms" -> sum(dur(_, "commitOffsets")),
      "stream.latest_offset_ms" -> sum(dur(_, "latestOffset")),
      "stream.add_batch_ms" -> sum(dur(_, "addBatch")),
      "stream.state_commit_ms" -> ops(_.commitTimeMs.toDouble),
      "stream.state_stores" -> ops(_.numStateStoreInstances.toDouble),
      "stream.input_rows" -> sum(_.numInputRows.toDouble),
      "stream.state_rows" -> ops(_.numRowsUpdated.toDouble),
      "stream.state_bytes" -> stateBytes,
      "stream.rows_dropped_by_watermark" -> ops(_.numRowsDroppedByWatermark.toDouble),
      "stream.watermark_regressions" -> regressions)
  }
}
