package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable

/** Command-line options. `root` is the run's private temp root: every
  * directory Spark, Derby and the workloads write to lives under it. */
final case class Opts(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, smoke: Boolean, root: File,
                      out: File, traceOut: File)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", m.getOrElse("scale", "full") == "smoke",
      new File(need("root")), new File(need("out")),
      new File(need("trace-out")))
  }
}

/** What one measured run hands back to [[Main]]. `e2e` holds the
  * workload's values of the end-to-end metrics other than set-up time
  * and memory; `named` holds the same numbers under the workload's own
  * names, with the sample counts and percentiles behind them. */
final case class Outcome(attempted: Long, failed: Long,
                         e2e: Map[String, Double],
                         named: Seq[(String, Double)],
                         layer: Map[String, Double],
                         inputs: Seq[(String, Double)])

/** Everything a workload's measure phase uses. `seconds` is how long one
  * call of [[Workload.measure]] measures. */
final class Ctx(val spark: SparkSession, val trace: Trace, val opts: Opts,
                val cores: Int, var seconds: Double) {
  private val checkList = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    val d = if (ok) "" else detail
    checkList.synchronized(checkList += ((name, ok, d)))
    if (!ok) System.err.println(s"CHECK FAILED $name: $d")
  }
  def checks: Seq[(String, Boolean, String)] = checkList.synchronized(checkList.toList)
  /** Wall-clock deadline of the measure phase. */
  def deadline(): Long = System.nanoTime() + (seconds * 1e9).toLong
}

/** One workload: set-up builds its inputs into a fresh directory (it is
  * run several times and timed), measure runs the timed loop on the
  * inputs of the last set-up. A traced run calls measure twice on the
  * same set-up, the second time with tracing paused, so measure must
  * leave the workload ready to be measured again. */
trait Workload {
  def setup(spark: SparkSession, opts: Opts, cores: Int, dir: File): Unit
  def measure(ctx: Ctx): Outcome
}

object Main {
  val SetupReps = 3
  /** Workloads that are not run on their own, by the workload whose traced
    * run measures their layers: `serve` (and the catalog subset its traced
    * measure runs) inside traced `cdc_stream` runs. */
  val Hosted: Map[String, Seq[String]] = Map("cdc_stream" -> Seq("serve"))
  /** How long a hosted workload's traced measure runs. */
  val HostedSeconds = 8.0

  def session(name: String, cores: Int, dir: File): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      // the engine's bench configuration (graft.Bench)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.ui.enabled", "false")
      // isolation: nothing lands outside this run's temp root
      .config("spark.sql.warehouse.dir",
        new File(dir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(dir, "spark-local").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(dir, "checkpoints").getAbsolutePath)
      .getOrCreate()

  def workload(name: String): Workload = name match {
    case "etl_batch" => new EtlBatch
    case "cdc_stream" => new CdcStream
    case "serve" => new Serve
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def procStatusKb(key: String): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith(key + ":") =>
        l.split("\\s+")(1).toDouble }.getOrElse(Double.NaN)

  private def load1m(): Double =
    try new String(Files.readAllBytes(new File("/proc/loadavg").toPath),
      StandardCharsets.UTF_8).trim.split("\\s+")(0).toDouble
    catch { case _: Exception => Double.NaN }

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    val loadBefore = load1m()
    System.setProperty("derby.system.home",
      new File(opts.root, "derby").getAbsolutePath)
    System.setProperty("derby.stream.error.file",
      new File(opts.root, "derby/derby.log").getAbsolutePath)
    val w = workload(opts.workload)

    // set-up: start the session once, then build the inputs (generation,
    // index and schema builds) several times into fresh directories;
    // set-up time is the session start plus the median input build
    val t0 = System.nanoTime()
    val spark = session(opts.workload, cores, opts.root)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStart = (System.nanoTime() - t0) / 1e9
    val setupTimes = (1 to SetupReps).map { rep =>
      val t1 = System.nanoTime()
      w.setup(spark, opts, cores, new File(opts.root, s"inputs$rep"))
      (System.nanoTime() - t1) / 1e9
    }

    val trace = new Trace(opts.trace,
      s"${opts.workload}-${opts.seed}-${System.currentTimeMillis()}",
      spark.sparkContext)
    // traced, the run's time is split: the traced measure, then the same
    // measure with tracing paused, whose p50_ms is the overhead's baseline
    val ctx = new Ctx(spark, trace, opts, cores,
      if (opts.trace) opts.seconds / 2.0 else opts.seconds.toDouble)
    val gc0 = gcSeconds()
    val outcome = w.measure(ctx)
    trace.drain()
    val gc = gcSeconds() - gc0
    val baseline = if (!opts.trace) None else {
      trace.enabled = false
      val b = w.measure(ctx)
      trace.drain()
      Some(b)
    }
    // traced, the hosted workloads run after it on the same session, each
    // with its own set-up, traced
    val hosted = if (!opts.trace) Nil else Hosted.getOrElse(opts.workload, Nil).map { name =>
      val h = workload(name)
      h.setup(spark, opts, cores, new File(opts.root, s"hosted-$name"))
      trace.enabled = true
      ctx.seconds = HostedSeconds
      val o = h.measure(ctx)
      trace.drain()
      o
    }
    val failed = outcome.failed + baseline.map(_.failed).getOrElse(0L) +
      hosted.map(_.failed).sum + trace.taskFailures
    val attempted = (outcome.attempted +
      baseline.map(_.attempted).getOrElse(0L) + hosted.map(_.attempted).sum).max(1L)
    val loadAfter = load1m()

    val e2e = outcome.e2e ++ Map(
      "setup_s" -> (sessionStart + Stats.median(setupTimes)),
      "peak_rss_mb" -> procStatusKb("VmHWM") / 1024.0)
    val layer = outcome.layer ++ hosted.flatMap(_.layer) ++ baseline.map(b =>
      "trace.overhead_frac" -> (outcome.e2e("p50_ms") / b.e2e("p50_ms") - 1.0)) ++ Map(
      "jvm.gc_s" -> gc,
      "trace.unattributed_jobs" -> trace.unattributedJobs.toDouble,
      "run.error_rate" -> failed.toDouble / attempted,
      "run.task_retries" -> trace.taskRetries.toDouble)

    def nums(xs: Iterable[(String, Double)]) =
      Json.obj(xs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    val checks = ctx.checks.map { case (n, ok, d) =>
      Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString,
        "detail" -> Json.str(d))) }.mkString("[", ",", "]")
    val stamp = Json.obj(Seq(
      "nproc" -> cores.toString,
      "master" -> Json.str(spark.sparkContext.master),
      "xmx_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "jdk" -> Json.str(sys.props.getOrElse("java.runtime.version", "?")),
      "spark" -> Json.str(spark.version),
      "scala" -> Json.str(scala.util.Properties.versionNumberString),
      "seed" -> opts.seed.toString,
      "seconds" -> opts.seconds.toString,
      "scale" -> Json.str(if (opts.smoke) "smoke" else "full"),
      "traced" -> opts.trace.toString,
      "run_id" -> Json.str(trace.runId),
      "load_1m_before" -> Json.num(loadBefore),
      "load_1m_after" -> Json.num(loadAfter),
      "setup_runs_s" -> setupTimes.map(Json.num).mkString("[", ",", "]"),
      "session_start_s" -> Json.num(sessionStart),
      "overhead_base_p50_ms" -> Json.num(
        baseline.map(_.e2e("p50_ms")).getOrElse(Double.NaN)),
      "inputs" -> nums(outcome.inputs ++ hosted.flatMap(_.inputs))))
    val record = Json.obj(Seq(
      "workload" -> Json.str(opts.workload),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "checks" -> checks,
      "e2e" -> nums(e2e),
      "named" -> nums(outcome.named ++ hosted.flatMap(_.named)),
      "layer" -> nums(layer),
      "stamp" -> stamp))
    Files.write(opts.out.toPath, record.getBytes(StandardCharsets.UTF_8))
    if (opts.trace)
      Files.write(opts.traceOut.toPath, trace.toJson.getBytes(StandardCharsets.UTF_8))
    trace.detach()
    spark.stop()
  }
}
