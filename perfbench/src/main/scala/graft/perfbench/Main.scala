package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.BooleanType

import graft.{GraftSession, SparkEntry}
import graft.dedup.MinHashLSH

/** Benchmark process for one workload and seed (see perfbench/README.md).
  *
  * Sets up (session + seeded inputs) `SetupRounds` times, runs one cold
  * pass that writes every checked output, then a fixed sequence of
  * timed passes: one untraced pass, or traced / untraced / traced with
  * `--trace 1`. The first timed pass is always the process's second
  * pass, so what `iter_cpu_s` measures does not depend on how fast the
  * program is. Writes the trace to `<work>/trace.json` and prints one
  * `PERFBENCH_RESULT <json>` line; `run.py` adds the DuckDB comparison
  * and prints the final result.
  *
  * usage: graft.perfbench.Main --workload W --seed N --seconds S
  *          --trace 0|1 --work DIR --scale F
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, scale: Double)

  /** Setup runs this often; `setup_s` reports the median round. */
  val SetupRounds = 3

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("scale").toDouble)
    require(Workloads.names.contains(a.workload), s"unknown workload ${a.workload}")
    a
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def session(cpus: Int, work: String): SparkSession =
    GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // bounded status-store retention: retained heap must not grow
      // with the number of jobs a pass runs
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()

  /** Row count of each named frame, in one job. */
  private def rowCounts(frames: Seq[(String, DataFrame)]): Map[String, Long] =
    frames.map { case (k, df) => df.select(lit(k).as("k")) }.reduce(_ union _)
      .groupBy("k").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(): Unit
  }

  /** (bytes, files) of the data files under a written path. */
  private def written(path: String): (Long, Long) = {
    def walk(f: File): Iterator[File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).iterator.flatMap(walk)
      else Iterator(f)
    val files = walk(new File(path))
      .filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_")).toSeq
    (files.map(_.length).sum, files.size.toLong)
  }

  /** Wall-clock ms inside [from, to] covered by at least one task. */
  private def covered(windows: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total, end = 0L
    var start = -1L
    windows.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (start < 0 || a > end) {
          if (start >= 0) total += end - start
          start = a; end = b
        } else end = math.max(end, b)
      }
    if (start >= 0) total += end - start
    total
  }

  /** CPU seconds this JVM has used, all threads. The guest kernel keeps
    * time the host stole from its vCPUs out of this count. */
  private def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** vCPU seconds the host has stolen from this machine (`/proc/stat`). */
  private def machineStealSeconds(): Double = {
    val stat = scala.io.Source.fromFile("/proc/stat")
    try stat.getLines().next().trim.split("\\s+")(8).toDouble / 100 finally stat.close()
  }

  final class Iter(val index: Int, val kind: String, val traced: Boolean) {
    var wall, cpu, steal = 0.0
    var startMs, endMs = 0L
    var bytesRead, bytesWritten, filesWritten = 0L
    var listener: Option[SpanListener] = None
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val mark = mutable.LinkedHashMap.empty[String, Double]
    var lastMark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      mark(name) = (now - lastMark) / 1e9
      lastMark = now
    }
    val jvmBoot = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val sizes = Inputs.sizes(a.scale)

    // ---- setup, several times: session start + seeded inputs ----
    val sessionS, setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var dataDir = ""
    for (k <- 1 to SetupRounds) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        deleteTree(new File(dataDir))
      }
      dataDir = s"${a.work}/data$k"
      val t0 = System.nanoTime()
      spark = session(cpus, a.work)
      val t1 = System.nanoTime()
      Inputs.generate(spark, a.workload, dataDir, sizes, a.seed)
      if (a.workload == "medallion_etl") Workloads.writeRaw(spark, dataDir)
      val t2 = System.nanoTime()
      sessionS += (t1 - t0) / 1e9
      setupS += (t2 - t0) / 1e9
    }
    phase("setup")
    val sc = spark.sparkContext

    val wl = Workloads(a.workload, spark, dataDir, s"${a.work}/lake")
    val checkDir = s"${a.work}/check"
    val tracer = new Tracer(sc)
    val inputBytes = new InputBytesListener
    sc.addSparkListener(inputBytes)
    // each checked step's row count in the output DuckDB compares
    val expectedRows = mutable.Map.empty[String, Long]
    var attempted, failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val iters = mutable.ArrayBuffer.empty[Iter]

    def fail(what: String, e: Throwable): Unit = {
      failed += 1
      val msg = Option(e.getMessage).getOrElse(e.toString).linesIterator.take(3).mkString(" | ")
      failures += s"$what: ${e.getClass.getSimpleName}: ${msg.take(400)}"
    }

    def checkRows(step: String, rows: Long): Unit = expectedRows.get(step) match {
      case Some(want) if want == rows =>
      case want => throw new IllegalStateException(
        s"$rows rows, the checked output has ${want.fold("none")(_.toString)}")
    }

    def runStep(it: Iter, st: Step): Unit = {
      attempted += 1
      try tracer.span(st.name, "step", st.layer) {
        val df = tracer.span("build", "build", st.layer)(st.build())
        st.sink match {
          case Some(write) =>
            val path = tracer.span("exec", "exec", st.layer)(write(df))
            val (bytes, files) = written(path)
            if (files == 0) throw new IllegalStateException(s"no files under $path")
            it.bytesWritten += bytes
            it.filesWritten += files
          case None if it.kind == "cold" && st.check.isDefined =>
            // the one-shot pass writes its results, which the check reads
            tracer.span("exec", "exec", st.layer)(
              df.write.mode("overwrite").parquet(s"$checkDir/${st.check.get}"))
          case None =>
            tracer.span("plan", "plan", st.layer)(df.queryExecution.executedPlan)
            checkRows(st.name, tracer.span("exec", "exec", st.layer)(df.queryExecution.toRdd.count()))
        }
      } catch { case NonFatal(e) => fail(s"iteration ${it.index} ${st.name}", e) }
    }

    /** After a timed pass, untimed: each sink wrote the checked row count. */
    def checkSinks(it: Iter): Unit = {
      val sinks = wl.steps.filter(_.checkFrame.isDefined)
      attempted += sinks.size
      val rows = try Right(rowCounts(sinks.map(st => st.name -> st.checkFrame.get())))
        catch { case NonFatal(e) => Left(e) }
      for (st <- sinks)
        try checkRows(st.name, rows.fold(e => throw e, _.getOrElse(st.name, 0L)))
        catch { case NonFatal(e) => fail(s"iteration ${it.index} ${st.name} output", e) }
    }

    def iteration(kind: String, traced: Boolean): Iter = {
      // between iterations, untimed: drop the previous pass's cached
      // frames and let the ContextCleaner free its shuffle blocks
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(100)
      PerfbenchBus.drain(sc)
      val it = new Iter(iters.size, kind, traced)
      iters += it
      tracer.iter = it.index
      if (traced) {
        val l = new SpanListener
        sc.addSparkListener(l)
        it.listener = Some(l)
        tracer.tagging = true
      }
      val read0 = inputBytes.bytesRead
      it.startMs = System.currentTimeMillis()
      val (cpu0, steal0) = (processCpuSeconds(), machineStealSeconds())
      val t0 = System.nanoTime()
      tracer.span(s"iter${it.index}", "iteration", "harness") {
        wl.steps.foreach(runStep(it, _))
      }
      it.wall = (System.nanoTime() - t0) / 1e9
      it.cpu = processCpuSeconds() - cpu0
      it.steal = machineStealSeconds() - steal0
      it.endMs = System.currentTimeMillis()
      tracer.tagging = false
      PerfbenchBus.drain(sc)
      it.listener.foreach(sc.removeSparkListener)
      it.bytesRead = inputBytes.bytesRead - read0
      if (kind == "timed") checkSinks(it)
      it
    }

    // ---- cold pass (writes the checked outputs), checks ----
    val cold = iteration("cold", traced = false)
    phase("cold")
    // steps with a checked output (a step that failed in the cold pass has none)
    val checked = wl.steps.filter(st => st.check.exists { key =>
      try {
        st.checkFrame.foreach(_().write.mode("overwrite").parquet(s"$checkDir/$key"))
        new File(s"$checkDir/$key").isDirectory
      } catch { case NonFatal(e) => fail(s"check output $key", e); false }
    })
    try {
      val rows = rowCounts(checked.map(st => st.name -> spark.read.parquet(s"$checkDir/${st.check.get}")))
      expectedRows ++= checked.map(st => st.name -> rows.getOrElse(st.name, 0L))
    } catch { case NonFatal(e) => fail("check output row counts", e) }
    val checks = wl.steps.flatMap(_.check).distinct
    val oracles = checks.flatMap(k => SparkEntry.oracleSql.get(k).orElse(wl.oracles.get(k)).map(k -> _))
    new File(checkDir).mkdirs()
    Files.write(new File(s"$checkDir/oracle_sql.json").toPath, json(oracles.toMap).getBytes(UTF_8))
    for (g <- wl.checkGates) {
      attempted += 1
      try {
        val rows = SparkEntry.queries(g)(spark, dataDir).collect()
        val ok = rows.nonEmpty && rows.forall(r => r.schema.fields.indices.forall(i =>
          r.schema.fields(i).dataType != BooleanType || r.getBoolean(i)))
        if (!ok) throw new IllegalStateException(rows.mkString("; "))
      } catch { case NonFatal(e) => fail(s"check gate $g", e) }
    }
    phase("checks")

    // ---- timed passes: a fixed sequence, so each sits at a fixed
    // position in the process's warm-up. The traced run puts its
    // untraced pass between two traced ones, so a linear warm-up drift
    // cancels in `trace.overhead`; the warm-up's curvature (pass 2 is
    // the slowest) can only raise it.
    val timed = (if (a.trace) Seq(true, false, true) else Seq(false))
      .map(traced => iteration("timed", traced))
    phase("timed")
    // retained heap: what the last pass left behind, after a full GC
    System.gc(); Thread.sleep(200); System.gc()
    val retainedMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0

    val fingerprints = Inputs.fingerprints(spark, a.workload, dataDir)
    // useful pairs per LSH candidate pair, nearDupSummary's banding
    val nearDupPerCandidate =
      if (!a.trace || a.workload != "corpus_dedup") 0.0
      else try {
        val docs = spark.read.parquet(s"$dataDir/documents.parquet")
        val sigs = MinHashLSH.signatures(docs, "doc_id", "text").cache()
        val pairs = MinHashLSH.candidatePairs(MinHashLSH.bands(sigs, 16, 4)).cache()
        val n = pairs.count()
        val useful = MinHashLSH.verifiedPairs(sigs, pairs, 0.5).count()
        if (n == 0) 0.0 else useful.toDouble / n
      } catch { case NonFatal(e) => fail("near-dup ratio", e); 0.0 }

    phase("tail")
    // ---- metrics ----
    val self = tracer.selfSeconds
    iters.flatMap(_.listener).foreach(_.perSpan.foreach { case (id, c) =>
      if (id >= 0) tracer.spans(id).counters ++= c.values })
    val phases = Seq("build", "plan", "exec")

    def layerMetrics(it: Iter): Seq[(String, Double)] = {
      val mine = tracer.spans.filter(s => s.iter == it.index && phases.contains(s.kind))
      val perLayer = for (l <- Workloads.layers; p <- phases)
        yield s"$l.${p}_s" -> mine.filter(s => s.layer == l && s.kind == p).map(_.seconds).sum
      val counters = it.listener.fold(Seq.empty[(String, Double)]) { l =>
        val c = l.total.values.toMap
        val eager = tracer.spans.filter(s => s.iter == it.index && s.kind == "build")
          .flatMap(s => l.perSpan.get(s.id)).map(_.jobs).sum
        Seq("engine.jobs", "engine.stages", "engine.tasks", "engine.task_run_s",
          "engine.task_cpu_s", "engine.task_deser_s", "engine.task_gc_s",
          "engine.peak_exec_mem_mb", "engine.shuffle_write_bytes",
          "engine.shuffle_read_bytes", "engine.spill_bytes")
          .map(k => k -> c(k.stripPrefix("engine."))) ++ Seq(
          "engine.eager_jobs" -> eager.toDouble,
          "engine.busy_frac" -> c("task_run_s") / (it.wall * cpus),
          "engine.driver_s" -> (it.wall - covered(l.taskWindows.toSeq, it.startMs, it.endMs) / 1e3),
          "sources.records_read" -> c("records_read"))
      }
      perLayer ++ Seq(
        "trace.harness_s" -> (it.wall - mine.map(_.seconds).sum),
        "sources.bytes_read" -> it.bytesRead.toDouble,
        "sources.bytes_written" -> it.bytesWritten.toDouble,
        "sources.files_written" -> it.filesWritten.toDouble) ++ counters
    }

    // the first timed pass: the one `iter_cpu_s` measures in an untraced run
    val first = timed.head
    val metrics: Seq[(String, Double)] =
      if (!a.trace) Seq(
        "setup_s" -> (jvmBoot + median(setupS.toSeq)),
        "cold_iter_cpu_s" -> cold.cpu,
        "iter_cpu_s" -> first.cpu,
        "io_bytes_per_in_byte" ->
          (if (first.bytesRead > 0) (first.bytesRead + first.bytesWritten).toDouble / first.bytesRead
           else 0.0),
        "retained_heap_mb" -> retainedMb)
      else layerMetrics(first) ++ Seq(
        "dedup.near_dup_per_candidate" -> nearDupPerCandidate,
        "GraftSession.start_s" -> median(sessionS.toSeq),
        "trace.overhead" -> (timed(0).wall + timed(2).wall) / (2 * timed(1).wall))

    val load = scala.io.Source.fromFile("/proc/loadavg")
    val loadEnd = try load.mkString.split(" ").head finally load.close()
    val info = Map(
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "cpus" -> cpus,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "loadavg_end" -> loadEnd,
      "jvm_boot_s" -> jvmBoot,
      "seconds_arg" -> a.seconds,
      "scale" -> a.scale,
      "setup_rounds_s" -> setupS.toSeq,
      "session_start_rounds_s" -> sessionS.toSeq,
      "passes_s" -> iters.map(it => Map("kind" -> it.kind, "traced" -> it.traced,
        "wall_s" -> it.wall, "cpu_s" -> it.cpu, "machine_steal_s" -> it.steal)),
      "fingerprints" -> fingerprints.toMap,
      "rows" -> expectedRows.toMap,
      "phases_s" -> mark.toMap)
    val result = Map(
      "metrics" -> metrics.toMap,
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
      "checks" -> checks, "oracle_keys" -> oracles.map(_._1),
      "data_dir" -> dataDir, "check_dir" -> checkDir, "info" -> info)

    val spanRows = tracer.spans.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "iter" -> s.iter, "name" -> s.name,
        "kind" -> s.kind, "layer" -> s.layer, "dur_s" -> s.seconds, "self_s" -> self(s.id),
        "counters" -> s.counters.toMap)
    }
    val iterRows = iters.map { it =>
      Map("iter" -> it.index, "kind" -> it.kind, "traced" -> it.traced, "wall_s" -> it.wall,
        "cpu_s" -> it.cpu, "metrics" -> layerMetrics(it).toMap)
    }
    Files.write(new File(s"${a.work}/trace.json").toPath, json(Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace, "scale" -> a.scale,
      "metrics" -> metrics.toMap, "info" -> info,
      "iterations" -> iterRows.toSeq, "spans" -> spanRows.toSeq)).getBytes(UTF_8))

    println("PERFBENCH_RESULT " + json(result))
    spark.stop()
    // GraftSession's per-pid scratch dir stays empty under SPARK_LOCAL_DIRS
    new File(s"/dev/shm/graft-spark/pid-${ProcessHandle.current().pid()}").delete()
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The result line and the trace file: maps, sequences and scalars. */
  private def json(v: Any): String = mapper.writeValueAsString(v)
}
