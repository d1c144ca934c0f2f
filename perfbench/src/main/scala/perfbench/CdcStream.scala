package perfbench

import graft.streaming.MicroBatchMerge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import java.io.File
import scala.collection.mutable

/** `cdc_stream`: a closed loop of small change files through
  * `MicroBatchMerge.start` over a large accumulated parquet state. Each
  * file lands (atomic rename into the watched directory) only after the
  * previous batch has committed; a batch's time runs from landing to
  * `processAllAvailable` returning, which is after the state swap.
  *
  * `MicroBatchMerge` merges each batch as a full snapshot: keys absent
  * from it are tombstoned. So the stream carries the live set, about 1 %
  * of the state, and every earlier key stays in the state as a tombstone.
  * A batch keeps most live keys, changes the payload of some, drops some
  * (tombstones) and adds new ones (inserts).
  */
final class CdcStream extends Workload {
  private final case class Rec(id: Long, name: String, category: String,
                               amount: Double, qty: Int, eventTs: java.sql.Timestamp)

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType), StructField("category", StringType),
    StructField("amount", DoubleType), StructField("qty", IntegerType),
    StructField("event_ts", TimestampType)))

  private var dir: File = _
  private var stateRows = 0L
  private var live = mutable.LinkedHashMap.empty[Long, Rec]
  private var nextId = 0L
  private var rnd: java.util.SplittableRandom = _
  /** Every batch landed since set-up, in order, and the next file's number. */
  private val changes = mutable.ArrayBuffer.empty[Change]
  private var batchNo = 0

  private def stateDir = new File(dir, "state").getAbsolutePath
  private def historyDir = new File(dir, "history").getAbsolutePath
  private def sourceDir = new File(dir, "incoming")
  private def stagingDir = new File(dir, "staging")

  def setup(spark: SparkSession, opts: Opts, cores: Int, d: File): Unit = {
    dir = d
    dir.mkdirs()
    // large enough that rewriting the state is a visible share of a
    // batch's cost: on 4 cores a warm batch takes ~1.25 s at 40 000 rows,
    // ~2.7 s at 400 000 and ~4 s at 2 000 000; larger states leave too few
    // batches in a run
    stateRows = if (opts.smoke) 10000L else 100000L
    changes.clear()
    batchNo = 0
    val liveEvery = 100 // 1 % of the state is live
    rnd = new java.util.SplittableRandom(opts.seed)
    val seed = opts.seed
    // the accumulated state: every key ever seen, all but the live 1 %
    // already tombstoned
    val state = spark.range(0, stateRows, 1, cores).select(
      col("id"),
      concat(lit("name_"), col("id")).as("name"),
      concat(lit("cat_"), pmod(hash(col("id"), lit(seed)), lit(40))).as("category"),
      (pmod(hash(col("id"), lit(seed + 1)), lit(100000)) / 100.0).as("amount"),
      pmod(hash(col("id"), lit(seed + 2)), lit(100)).as("qty"),
      timestamp_seconds(lit(1500000000L) +
        pmod(hash(col("id"), lit(seed + 3)), lit(50000000))).as("event_ts"),
      lit("2029-01-01 00:00:00").cast("timestamp").as("updated_at"),
      // exactly one key in liveEvery is live: 37 is prime to liveEvery, so
      // id * 37 + seed runs through every residue equally often
      (pmod(col("id") * 37 + lit(seed), lit(liveEvery.toLong)) =!= 0).as("is_deleted"))
    state.write.mode("overwrite").parquet(stateDir)
    live = mutable.LinkedHashMap.empty
    spark.read.parquet(stateDir).filter(!col("is_deleted")).orderBy("id").collect()
      .foreach { r =>
        live(r.getLong(0)) = Rec(r.getLong(0), r.getString(1), r.getString(2),
          r.getDouble(3), r.getInt(4), r.getTimestamp(5))
      }
    nextId = stateRows
    sourceDir.mkdirs()
    stagingDir.mkdirs()
    // the stream's schema source
    spark.createDataFrame(java.util.List.of[Row](), schema)
      .write.mode("overwrite").parquet(new File(dir, "schema").getAbsolutePath)
  }

  private final case class Change(inserts: Long, updates: Long, tombstones: Long)

  /** `n` distinct keys of `keys`, drawn with the run's generator. */
  private def sample(keys: Vector[Long], n: Int): Vector[Long] = {
    val a = keys.toArray
    (0 until n).foreach { i =>
      val j = i + rnd.nextInt(a.length - i)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.take(n).toVector
  }

  /** Next change file's rows and its known effect, advancing the live set.
    * Every batch drops 10 % of the live keys, updates 20 % of the rest and
    * adds 10 % new ones, as exact counts: the live set keeps its size and
    * every batch carries the same number of changes. */
  private def nextBatch(): (Seq[Rec], Change) = {
    val m = live.size
    val deletes = sample(live.keys.toVector, math.round(m * 0.10).toInt)
    deletes.foreach(live.remove)
    val updated = sample(live.keys.toVector, math.round(live.size * 0.20).toInt)
    updated.foreach { k =>
      val r = live(k)
      live(k) = r.copy(amount = r.amount + 1 + rnd.nextInt(1000) / 100.0)
    }
    val updates = updated.size.toLong
    val inserts = math.round(m * 0.10).max(1L)
    (0L until inserts).foreach { _ =>
      val id = nextId
      nextId += 1
      live(id) = Rec(id, s"name_$id", s"cat_${rnd.nextInt(40)}",
        rnd.nextInt(100000) / 100.0, rnd.nextInt(100),
        new java.sql.Timestamp(1500000000000L + rnd.nextLong(50000000000L)))
    }
    (live.values.toSeq, Change(inserts, updates, deletes.size.toLong))
  }

  /** Write a change file to staging; returns the parquet file to land. */
  private def stage(spark: SparkSession, i: Int, recs: Seq[Rec]): File = {
    val out = new File(stagingDir, s"batch_$i")
    val rows = recs.map(r => Row(r.id, r.name, r.category, r.amount, r.qty, r.eventTs))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(out.getAbsolutePath)
    out.listFiles().find(_.getName.endsWith(".parquet")).get
  }

  /** Credits SQL executions of the stream to the state swap (the write of
    * `<state>.tmp` and its count) or to the SCD2 history append, with the
    * task time and bytes of their jobs. */
  private final class SwapListener extends SparkListener {
    val kind = mutable.Map.empty[Long, String]
    val started = mutable.Map.empty[Long, Long]
    val jobExec = mutable.Map.empty[Int, Long]
    val stageExec = mutable.Map.empty[Int, Long]
    val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    private def add(k: String, v: Double): Unit = totals(k) = totals(k) + v
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          val plan = s.physicalPlanDescription
          val k =
            if (plan.contains(stateDir + ".tmp")) "swap"
            else if (plan.contains("InsertIntoHadoopFsRelationCommand") &&
              plan.contains(historyDir)) "merge"
            else "other"
          kind(s.executionId) = k
          started(s.executionId) = s.time
        case end: SparkListenerSQLExecutionEnd =>
          started.remove(end.executionId).foreach { t0 =>
            add(kind(end.executionId) + ".s", (end.time - t0) / 1e3)
          }
        case _ => ()
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach { id =>
          jobExec(e.jobId) = id.toLong
          e.stageIds.foreach(stageExec(_) = id.toLong)
        }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageExec.get(e.stageId).flatMap(kind.get).foreach { k =>
        add(k + ".task_s", e.taskInfo.duration / 1e3)
        Option(e.taskMetrics).foreach { m =>
          add(k + ".shuffle_bytes", (m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten).toDouble)
        }
      }
    }
  }

  private def du(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)

  private def check(ctx: Ctx, changes: Seq[Change]): Unit = {
    val spark = ctx.spark
    val state = spark.read.parquet(stateDir)
    val rows = state.count()
    ctx.check("cdc.state_rows", rows == stateRows, s"state rows $rows != $stateRows")
    val liveGot = state.filter(!col("is_deleted"))
      .select("id", "name", "category", "amount", "qty", "event_ts").collect()
      .map(r => Rec(r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3),
        r.getInt(4), r.getTimestamp(5))).sortBy(_.id).toSeq
    val liveExp = live.values.toSeq.sortBy(_.id)
    ctx.check("cdc.live_rows", liveGot == liveExp,
      s"live rows differ: ${liveGot.size} rows vs expected ${liveExp.size}")
    val histByBatch = spark.read.parquet(historyDir).groupBy("valid_to").count()
      .orderBy("valid_to").collect().map(_.getLong(1)).toSeq
    val histExp = changes.map(c => c.updates + c.tombstones).filter(_ > 0).toSeq
    ctx.check("cdc.history_per_batch", histByBatch == histExp,
      s"history rows per batch $histByBatch != $histExp")
    val deleted = state.filter(col("is_deleted")).count()
    val deletedExp = stateRows - live.size
    ctx.check("cdc.tombstones", deleted == deletedExp,
      s"tombstoned rows $deleted != $deletedExp")
  }

  def measure(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.trace
    val swap = new SwapListener
    if (tr.enabled) spark.sparkContext.addSparkListener(swap)
    val batchTimes, warmupTimes = mutable.ArrayBuffer.empty[Double]
    val measured = mutable.ArrayBuffer.empty[Change]
    val batch0 = changes.size
    var changeBytes = 0L
    var compared = 0L
    var failed = 0L
    val initialRows = stateRows
    var deadline = Long.MaxValue
    // the stream thread inherits this thread's job properties at start,
    // so every job it runs is credited to the "streaming" span; a second
    // measure resumes the same query from its checkpoint
    tr.span("streaming") {
      val query = MicroBatchMerge.start(spark, sourceDir.getAbsolutePath,
        new File(dir, "schema").getAbsolutePath, Seq("id"), stateDir,
        historyDir, new File(dir, "checkpoint").getAbsolutePath,
        Trigger.ProcessingTime(0L))
      try {
        var i = 0
        // the first batches plan and compile the merge, and batch time
        // keeps falling while the JIT catches up (on 4 cores ~3.5 s, then
        // ~2.1 s, and 1.5-1.8 s from the fourth to the sixth on); they are
        // checked like the rest but not timed, and the measured time starts
        // after them
        val warmup = 6
        do {
          val (recs, change) = nextBatch()
          val file = tr.span("generate")(stage(spark, batchNo, recs))
          val size = file.length()
          val landed = new File(sourceDir, s"batch_$batchNo.parquet")
          batchNo += 1
          val t0 = System.nanoTime()
          if (!file.renameTo(landed)) throw new IllegalStateException(s"cannot land $file")
          try {
            query.processAllAvailable()
            val t = (System.nanoTime() - t0) / 1e9
            System.err.println(f"[perfbench] cdc batch ${batchNo - 1}: $t%.3f s")
            if (i < warmup) warmupTimes += t
            else {
              batchTimes += t
              measured += change
            }
            compared += stateRows + change.inserts
            stateRows += change.inserts
            changes += change
            changeBytes += size
          } catch { case e: Exception =>
            failed += 1
            System.err.println(s"cdc batch ${batchNo - 1} failed: $e")
          }
          i += 1
          if (i == warmup) deadline = ctx.deadline()
        } while ((i <= warmup || System.nanoTime() < deadline) && failed == 0)
      } finally query.stop()
    }
    tr.drain()
    if (tr.enabled) spark.sparkContext.removeSparkListener(swap)

    // checks: final state and per-batch history against the generator
    tr.span("check")(check(ctx, changes.toSeq))

    val times = batchTimes.toSeq
    val (tail, tailPct) = if (times.nonEmpty) Stats.tail(times) else (0.0, 0.0)
    val p50 = if (times.nonEmpty) Stats.median(times) else 0.0
    val changeRows = measured.map(c => c.inserts + c.updates + c.tombstones).sum
    // per-layer figures cover every batch of this measure, warm-up
    // included, as the listener's totals do
    val these = changes.drop(batch0)
    val ins = these.map(_.inserts).sum.toDouble
    val upd = these.map(_.updates).sum.toDouble
    val tomb = these.map(_.tombstones).sum.toDouble
    val written = tr.total("streaming", "bytes_written")
    Outcome(
      attempted = these.size + failed, failed = failed,
      e2e = Map(
        "throughput_per_s" -> changeRows / times.sum,
        "p50_ms" -> p50 * 1e3),
      named = Seq(
        "cdc_first_batch_s" -> warmupTimes.headOption.getOrElse(0.0),
        "cdc_batch_p50_s" -> p50,
        "cdc_batch_tail_s" -> tail,
        "cdc_batch_tail_pct" -> tailPct,
        "cdc_batches" -> times.size.toDouble,
        "cdc_change_rows_per_s" -> changeRows / times.sum),
      layer = Map(
        "streaming.batch_s" -> p50,
        "streaming.swap_s" -> swap.totals("swap.s") / these.size.max(1),
        "streaming.state_rows" -> stateRows.toDouble,
        "streaming.state_bytes" -> du(new File(stateDir)).toDouble,
        "streaming.bytes_written" -> written,
        "streaming.write_amp" -> (if (changeBytes == 0) 0.0 else written / changeBytes),
        "streaming.task_s" -> tr.total("streaming", "task_s"),
        "ops.merge.s" -> swap.totals("merge.s"),
        "ops.merge.task_s" -> swap.totals("merge.task_s"),
        "ops.merge.shuffle_bytes" -> swap.totals("merge.shuffle_bytes"),
        "ops.merge.inserts" -> ins,
        "ops.merge.updates" -> upd,
        "ops.merge.tombstones" -> tomb,
        "ops.merge.history_rows" -> (upd + tomb),
        "ops.merge.changed_frac" -> (if (compared == 0) 0.0
          else (ins + upd + tomb) / compared)),
      inputs = Seq(
        "initial_state_rows" -> initialRows.toDouble,
        "live_rows" -> live.size.toDouble,
        "change_file_bytes" -> changeBytes.toDouble))
  }
}
