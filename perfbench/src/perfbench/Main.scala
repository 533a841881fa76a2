package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line options the runner passes to the JVM. */
final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, quick: Boolean, dir: Path,
                      startMs: Long, slots: Int, clients: Int)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", m.get("quick").contains("1"),
      Paths.get(get("dir")).toAbsolutePath, get("start-ms").toLong,
      get("slots").toInt, get("clients").toInt)
  }
}

/** A workload: builds its fixture and warms up in `setup`; the measured
  * phase then calls `runRound` until `--seconds` have passed, and every
  * output is checked against a computation made apart from the program. */
trait Workload {
  /** Fixture build and warm-up; returns the per-pass warm-up times. */
  def setup(): Seq[Double]
  def runRound(): Unit
  /** Checks after the measured phase, outside any timing. */
  def finish(): Unit
  /** Tables whose `metadata/` and live data files the run reports. */
  def tables: Seq[(String, String)]
}

object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val wh = o.dir.resolve("warehouse")
    Files.createDirectories(wh)
    val spark = session(o, wh)
    val cat = new graft.catalog.GraftCatalog(wh.toString)
    val check = new Check
    val exec = new ExecListener
    if (o.trace) spark.sparkContext.addSparkListener(exec)
    Trace.enabled = o.trace
    val wl: Workload = o.workload match {
      case "bi_serve"    => new BiServe(spark, cat, o, check)
      case "lake_ingest" => new LakeIngest(spark, cat, o, check)
      case "lake_dml"    => new LakeDml(spark, cat, o, check)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Setup.start = o.startMs
    Setup.mark("session")
    val warmup = wl.setup()
    val setupS = (System.currentTimeMillis() - o.startMs) / 1000.0

    val gcBefore = gcMs
    val cpuBefore = cpuNs
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    Trace.open()
    val t0 = System.nanoTime()
    val deadline = t0 + (o.seconds * 1e9).toLong
    var rounds = 0
    while (rounds == 0 || System.nanoTime() < deadline) { wl.runRound(); rounds += 1 }
    val measuredS = (System.nanoTime() - t0) / 1e9
    Trace.close()
    val gcDelta = gcMs - gcBefore
    val cpuS = (cpuNs - cpuBefore) / 1e9
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum

    if (o.trace) flushListeners(spark, exec)
    wl.finish()

    val (metaBytes, dataBytes) = Sizes.of(cat, wh, wl.tables)
    val base = Map[String, Any](
      "workload" -> o.workload, "correct" -> check.ok, "errors" -> check.errors,
      "setup_s" -> setupS, "warmup_ms" -> warmup, "setup_phases" -> Setup.marks.toMap,
      "rounds" -> rounds, "measured_s" -> measuredS, "cpu_s" -> cpuS,
      "meta_bytes" -> metaBytes, "data_bytes" -> dataBytes, "peak_rss_kb" -> peakRssKb,
      "ops" -> Trace.ops.asScala.toSeq.map(r => Map("id" -> r.id, "kind" -> r.kind,
        "ok" -> r.ok, "ms" -> r.ms, "reads" -> r.reads, "writes" -> r.writes,
        "maintains" -> r.maintains, "error" -> Option(r.error))))
    val traced =
      if (!o.trace) Map.empty[String, Any]
      else {
        val (jobs, tasks, taskMs, shuffle, spill) = exec.inWindow
        val plans = PlanListener.inWindow
        Map("gauges" -> (Map[String, Double](
          "exec.jobs" -> jobs, "exec.tasks" -> tasks, "exec.task_ms" -> taskMs,
          "exec.shuffle_bytes" -> shuffle, "exec.spill_bytes" -> spill,
          "scan.files_read" -> plans.map(_.filesRead).sum,
          "jvm.gc_ms" -> gcDelta, "jvm.heap_used_peak_bytes" -> heapPeak,
          "catalog.meta_dir_bytes" -> metaBytes) ++
          Trace.counterSnapshot.map { case (k, v) => k -> v.toDouble } ++
          Sizes.catalogGauges(cat, wh, wl.tables)),
          "plans" -> plans.map(p => Seq(p.analysisMs, p.optimizerMs, p.physicalMs)),
          "spans" -> Trace.spans.asScala.toSeq.map(s =>
            Seq(s.id, s.parent, s.op, s.name, s.startNs, s.endNs)))
      }
    val out = org.json4s.jackson.Serialization.write(base ++ traced)(org.json4s.DefaultFormats)
    Files.writeString(o.dir.resolve("result.json"), out)
    // the Thrift server keeps non-daemon threads: end the JVM explicitly
    System.exit(0)
  }

  private def session(o: Opts, wh: Path): SparkSession = {
    val b = graft.GraftSession.builder(master = s"local[${o.slots}]", shufflePartitions = o.slots)
      .appName(s"perfbench-${o.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", o.dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.dir.resolve("spark-warehouse").toString)
      // boot-time catalog registration, as a spark-defaults deployment
      // does it: isolated Thrift sessions build their conf from the boot
      // SparkConf, so the catalog is visible over the wire too
      .config("spark.sql.catalog.graft", classOf[graft.catalog.GraftSparkCatalog].getName)
      .config("spark.sql.catalog.graft.warehouse", wh.toString)
    if (o.trace) b.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** CPU time of this process, all threads, in nanoseconds. */
  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Listener events arrive asynchronously, in order on one queue: once a
    * marker job posted after the window has been seen, every event from
    * inside the window has been handled. */
  private def flushListeners(spark: SparkSession, exec: ExecListener): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("perfbench-flush", "listener flush")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30_000_000_000L
    while (exec.lastJobGroupSeen != "perfbench-flush" && System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  /** Peak resident set of this process (`VmHWM`), in kB. */
  private def peakRssKb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
}

/** Warm-up: two whole passes of a workload's operations before the
  * measured phase, one in quick mode. The first pass pays class loading,
  * code generation and JIT compilation; the second the bulk of what the
  * first left. More passes would level latency further but do not fit the
  * benchmark's time budget (see README). */
object Warmup {
  def run(quick: Boolean)(pass: => Unit): Seq[Double] =
    (1 to (if (quick) 1 else 2)).map { _ =>
      val t = System.nanoTime()
      pass
      (System.nanoTime() - t) / 1e6
    }
}

/** Seconds from process start at which each set-up step ended. */
object Setup {
  var start = 0L
  val marks = scala.collection.mutable.LinkedHashMap[String, Double]()
  def mark(step: String): Unit = {
    marks(step) = (System.currentTimeMillis() - start) / 1000.0
    System.err.println(s"setup: $step at ${marks(step)} s")
  }
}

/** Correctness verdicts: a mismatch is recorded, never thrown, so one bad
  * answer does not hide the rest. */
final class Check {
  private val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def apply(ok: Boolean, what: => String): Unit =
    if (!ok && errs.size < 50) errs.add(what)
  def equal(expected: Any, actual: Any, what: => String): Unit =
    apply(expected == actual, s"$what: expected $expected, got $actual")
  def ok: Boolean = errs.isEmpty
  def errors: Seq[String] = errs.asScala.toSeq
}

/** Bytes under each table's `metadata/` directory, and bytes of the live
  * data files at its head. */
object Sizes {
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  def of(cat: graft.catalog.GraftCatalog, wh: Path,
         tables: Seq[(String, String)]): (Long, Long) = {
    val meta = tables.map { case (ns, t) => dirBytes(wh.resolve(ns).resolve(t).resolve("metadata")) }.sum
    val data = tables.map { case (ns, t) => cat.files(ns, t).map(_.sizeBytes).sum }.sum
    (meta, data)
  }

  /** Size of each table's newest metadata version, its snapshot count and
    * its live file count, summed over the tables. */
  def catalogGauges(cat: graft.catalog.GraftCatalog, wh: Path,
                    tables: Seq[(String, String)]): Map[String, Double] = {
    val metas = tables.map { case (ns, t) => cat.loadTable(ns, t) }
    val lastJson = tables.map { case (ns, t) =>
      val md = wh.resolve(ns).resolve(t).resolve("metadata")
      val v = Files.readString(md.resolve("version-hint.text")).trim
      Files.size(md.resolve(s"v$v.json"))
    }
    Map("catalog.meta_json_bytes_last" -> lastJson.sum.toDouble,
      "catalog.snapshots_end" -> metas.map(_.snapshots.size).sum.toDouble,
      "catalog.files_live_end" -> metas.map(_.filesAsOf(None).size).sum.toDouble)
  }
}
