package perfbench

import graft.io.{CsvIngest, JdbcUpsert}
import graft.model.{OlistSchema, TableConfig}
import graft.ops.{Merge, Normalize}
import graft.pipeline.Pipeline
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File
import scala.collection.mutable

/** `etl_batch`: the reference's `process()` end to end. One cycle is an
  * initial load of snapshot 1, an incremental load of snapshot 2 and a
  * re-apply of snapshot 2, each `Pipeline.run` (ingest, geolocation split,
  * rules) → `JdbcUpsert.writeMerge` into a fresh in-memory Derby database
  * whose tables carry their primary keys. Cycles repeat until the run's
  * time is up.
  */
final class EtlBatch extends Workload {
  import OlistGen._

  private var snapDirs: Seq[File] = Nil
  private var inputRows: Seq[Long] = Nil
  private var expected: Seq[PassExpect] = Nil
  private var cycle = 0
  /** A database with the schema, made by set-up, not yet used. */
  private var ready: Option[Int] = None

  /** What one pass must produce. */
  final case class PassExpect(violations: Map[(String, String), Long],
                              merges: Map[String, MergeCounts])

  /** The SCD2 history target of the one merged table that keeps one. */
  private val historyTables = Map("sellers" -> "sellers_history")

  def setup(spark: SparkSession, opts: Opts, cores: Int, dir: File): Unit = {
    val world = new World(opts.seed, if (opts.smoke) Smoke else Full)
    val s1 = world.snapshot(Defects())
    world.churn(Churn())
    val s2 = world.snapshot(Defects())
    snapDirs = Seq(new File(dir, "snapshot1"), new File(dir, "snapshot2"))
    val rows = Seq(write(snapDirs(0), s1), write(snapDirs(1), s2))
    inputRows = Seq(rows(0), rows(1), rows(1))
    // expected outcome of the three passes
    var state = Map.empty[String, State].withDefaultValue(Map.empty)
    expected = Seq(s1, s2, s2).map { snap =>
      val exp = expectedRules(registry(snap))
      val merges = exp.cleaned.map { case (t, parsed) =>
        val (counts, next) = merge(configs.find(_.name == t).get, parsed, state(t))
        state += t -> next
        t -> counts
      }
      PassExpect(exp.violations, merges)
    }
    // Derby schema creation is part of set-up; each cycle gets its own db
    ready.foreach(dropDatabase)
    val c = nextDb()
    createDatabase(c)
    ready = Some(c)
  }

  // ------------------------------------------------------------------
  // Derby

  private def dbName(c: Int) = s"perfbench_etl_$c"
  private def url(c: Int) = s"jdbc:derby:memory:${dbName(c)}"
  private def nextDb(): Int = { cycle += 1; cycle }
  private val props = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }

  private def sqlType(t: DataType, pk: Boolean): String = t match {
    // Spark's Derby dialect binds a null string as CLOB, which Derby will
    // not store into a VARCHAR column; key columns are never null
    case StringType => if (pk) "VARCHAR(128)" else "CLOB"
    case IntegerType => "INTEGER"
    case LongType => "BIGINT"
    case DoubleType => "DOUBLE"
    case TimestampType => "TIMESTAMP"
    case BooleanType => "BOOLEAN"
  }

  private def createDatabase(c: Int): Unit = {
    val conn = java.sql.DriverManager.getConnection(url(c) + ";create=true")
    try {
      val st = conn.createStatement()
      val history = OlistSchema.all.filter(t => historyTables.values.exists(_ == t.name))
      (configs ++ history).foreach { cfg =>
        // every merged table carries the merge's bookkeeping columns
        val bookkeeping =
          if (cfg.name.endsWith("_history")) Nil
          else Seq("updated_at TIMESTAMP", "is_deleted BOOLEAN")
            .filterNot(c => cfg.columnNames.contains(c.takeWhile(_ != ' ')))
        val cols = cfg.columns.map(col =>
          s"${col.name} ${sqlType(col.dataType, cfg.primaryKey.contains(col.name))}") ++
          bookkeeping
        st.executeUpdate(s"CREATE TABLE ${cfg.name} (${cols.mkString(", ")}, " +
          s"PRIMARY KEY (${cfg.primaryKey.mkString(", ")}))")
      }
      st.close()
    } finally conn.close()
  }

  private def dropDatabase(c: Int): Unit =
    try java.sql.DriverManager.getConnection(url(c) + ";drop=true").close()
    catch { case _: java.sql.SQLException => () } // a drop reports success as 08006

  private def query(c: Int, sql: String): Long = {
    val conn = java.sql.DriverManager.getConnection(url(c))
    try {
      val rs = conn.createStatement().executeQuery(sql)
      rs.next()
      rs.getLong(1)
    } finally conn.close()
  }

  /** A Derby table as the merge's existing side (Derby reports column
    * names in upper case; the configs use lower case). */
  private def existing(spark: SparkSession, c: Int, cfg: TableConfig): DataFrame = {
    val df = spark.read.jdbc(url(c), cfg.name, props)
    df.toDF(df.columns.map(_.toLowerCase).toSeq: _*)
  }

  // ------------------------------------------------------------------
  // one pass

  private final case class Written(inserts: Long, updates: Long,
                                   tombstones: Long, history: Long,
                                   compared: Long)

  private def nowOf(pass: Int): Column =
    lit(f"2030-01-${pass + 1}%02d 00:00:00").cast("timestamp")
  private def nowSql(pass: Int) = f"TIMESTAMP('2030-01-${pass + 1}%02d 00:00:00')"

  private def configsIn(tables: Iterable[String]) =
    TableConfig.fkOrdered(configs).filter(c => tables.exists(_ == c.name))

  /** The pass as a user runs it: one lazy `Pipeline.run`, a violation
    * report, then the JDBC merge write per table in FK order. */
  private def plainPass(spark: SparkSession, c: Int, dir: File,
                        pass: Int): Map[(String, String), Long] = {
    val now = nowOf(pass)
    // the target as it was before this pass: the writes below change it,
    // and the SCD2 history must compare against the old rows
    val ex = configs.map(cfg =>
      cfg.name -> existing(spark, c, cfg).localCheckpoint(true)).toMap
    val res = Pipeline.run(spark, dir.getAbsolutePath, configs, ex, now)
    val report = violationReport(res.violations)
    configsIn(res.cleaned.keys).foreach { cfg =>
      val changes = Merge.classify(res.cleaned(cfg.name), ex(cfg.name),
        cfg.primaryKey)
      JdbcUpsert.writeMerge(changes, cfg, url(c), props, now = now)
    }
    res.history.foreach { case (t, h) =>
      h.write.mode("append").jdbc(url(c), historyTables(t), props)
    }
    report
  }

  private def violationReport(v: DataFrame): Map[(String, String), Long] =
    v.groupBy("table", "rule").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  /** The same pass with every module boundary materialized
    * (`localCheckpoint`), so each span holds only its own module's work. */
  private def tracedPass(ctx: Ctx, c: Int, dir: File,
                         pass: Int): Map[(String, String), Long] = {
    val spark = ctx.spark
    val tr = ctx.trace
    val now = nowOf(pass)
    def cp(df: DataFrame) = df.localCheckpoint(true)
    tr.span("pipeline") {
      val ex = tr.span("io.jdbc") {
        configs.map(cfg => cfg.name -> cp(existing(spark, c, cfg))).toMap
      }
      val raw = tr.span("io.csv") {
        CsvIngest.readCsvDirectory(spark, dir.getAbsolutePath)
          .map { case (k, df) => k -> cp(df) }
      }
      tr.countOn("io.csv", "rows", raw.values.map(_.count()).sum)
      // the split Pipeline.ingest makes
      val registry = raw.get("geolocation") match {
        case Some(geo) =>
          val (cityState, zip, coords) = tr.span("ops.normalize") {
            val (a, b, d) = Normalize.splitGeolocation(geo)
            (cp(a), cp(b), cp(d))
          }
          (raw - "geolocation") ++ Map("geo_city_state" -> cityState,
            "geo_zip" -> zip, "geo_coordinates" -> coords)
        case None => raw
      }
      val (cleaned, violations) = tr.span("rules") {
        val (cl, v) = Pipeline.applyRules(registry, configs)
        (cl.map { case (k, df) => k -> cp(df) }, cp(v))
      }
      val report = violationReport(violations)
      val configured = configs.map(_.name).filter(cleaned.contains)
      val rowsIn = configured.map(registry(_).count()).sum
      val rowsKept = configured.map(cleaned(_).count()).sum
      tr.countOn("rules", "violations", report.values.sum)
      tr.countOn("rules", "rows_in", rowsIn)
      tr.countOn("rules", "rows_kept", rowsKept)
      val (history, changes) = tr.span("ops.merge") {
        val (_, hist) = Pipeline.mergeAll(cleaned, ex, configs, now = now)
        val ch = configsIn(cleaned.keys).map { cfg =>
          val m = Merge.classify(cleaned(cfg.name), ex(cfg.name), cfg.primaryKey)
          cfg -> Merge.Changes(cp(m.inserts), cp(m.updates), cp(m.updatesOld),
            cp(m.deletes.filter(!col("is_deleted"))))
        }
        (hist.map { case (k, df) => k -> cp(df) }, ch)
      }
      val w = Written(
        changes.map(_._2.inserts.count()).sum,
        changes.map(_._2.updates.count()).sum,
        changes.map(_._2.deletes.count()).sum,
        history.values.map(_.count()).sum,
        changes.map { case (cfg, m) =>
          ex(cfg.name).count() + m.inserts.count() }.sum)
      Seq("inserts" -> w.inserts, "updates" -> w.updates,
        "tombstones" -> w.tombstones, "history_rows" -> w.history,
        "compared" -> w.compared)
        .foreach { case (k, v) => tr.countOn("ops.merge", k, v) }
      tr.span("io.jdbc") {
        changes.foreach { case (cfg, m) =>
          JdbcUpsert.writeMerge(m, cfg, url(c), props, now = now)
        }
        history.foreach { case (t, h) =>
          h.write.mode("append").jdbc(url(c), historyTables(t), props)
        }
      }
      tr.countOn("io.jdbc", "rows", w.inserts + w.updates + w.tombstones + w.history)
      report
    }
  }

  // ------------------------------------------------------------------
  // checks against the generator's expectations

  private def checkPass(ctx: Ctx, c: Int, pass: Int,
                        report: Map[(String, String), Long],
                        totals: mutable.Map[String, (Long, Long, Long)]): Unit = {
    val exp = expected(pass)
    ctx.check(s"etl.pass$pass.violations", report == exp.violations,
      s"violations per (table, rule) ${report.toSeq.sorted} != " +
        s"expected ${exp.violations.toSeq.sorted}")
    exp.merges.foreach { case (t, m) =>
      val (rows0, deleted0, hist0) = totals.getOrElse(t, (0L, 0L, 0L))
      val rows = query(c, s"SELECT COUNT(*) FROM $t")
      val deleted = query(c, s"SELECT COUNT(*) FROM $t WHERE is_deleted")
      val stamped = query(c, s"SELECT COUNT(*) FROM $t WHERE updated_at = ${nowSql(pass)}")
      val hist = historyTables.get(t)
        .map(h => query(c, s"SELECT COUNT(*) FROM $h")).getOrElse(0L)
      val histExp = if (historyTables.contains(t)) hist0 + m.updates + m.tombstones else 0L
      ctx.check(s"etl.pass$pass.$t.inserts", rows == rows0 + m.inserts,
        s"rows $rows != ${rows0 + m.inserts}")
      ctx.check(s"etl.pass$pass.$t.tombstones", deleted == deleted0 + m.tombstones,
        s"deleted $deleted != ${deleted0 + m.tombstones}")
      ctx.check(s"etl.pass$pass.$t.written", stamped == m.inserts + m.updates + m.tombstones,
        s"rows stamped by this pass $stamped != ${m.inserts + m.updates + m.tombstones}")
      ctx.check(s"etl.pass$pass.$t.history", hist == histExp,
        s"history rows $hist != $histExp")
      totals(t) = (rows, deleted, hist)
    }
  }

  // ------------------------------------------------------------------

  def measure(ctx: Ctx): Outcome = {
    val deadline = ctx.deadline()
    val cycleTimes = mutable.ArrayBuffer.empty[Double]
    val passTimes = mutable.ArrayBuffer.empty[(Int, Double)]
    var passes, failed = 0L
    var rows = 0L
    do {
      val c = ready.getOrElse { val n = nextDb(); createDatabase(n); n }
      ready = None
      val totals = mutable.Map.empty[String, (Long, Long, Long)]
      var elapsed = 0.0
      Seq(0, 1, 1).zipWithIndex.foreach { case (snap, pass) =>
        passes += 1
        val t0 = System.nanoTime()
        val report =
          try Some(if (ctx.trace.enabled) tracedPass(ctx, c, snapDirs(snap), pass)
                   else plainPass(ctx.spark, c, snapDirs(snap), pass))
          catch { case e: Exception =>
            failed += 1
            System.err.println(s"etl pass $pass failed: $e")
            e.printStackTrace()
            None
          }
        val t = (System.nanoTime() - t0) / 1e9
        passTimes += ((pass, t))
        elapsed += t
        rows += inputRows(pass)
        report.foreach(r => checkPass(ctx, c, pass, r, totals))
      }
      cycleTimes += elapsed
      dropDatabase(c)
    } while (System.nanoTime() < deadline)

    val wall = cycleTimes.sum
    val (tail, tailPct) = Stats.tail(cycleTimes.toSeq)
    val tr = ctx.trace
    val layer = Map(
      "io.csv.s" -> tr.total("io.csv", "s"),
      "io.csv.jobs" -> tr.total("io.csv", "jobs"),
      "io.csv.task_s" -> tr.total("io.csv", "task_s"),
      "io.csv.rows" -> tr.total("io.csv", "rows"),
      "ops.normalize.s" -> tr.total("ops.normalize", "s"),
      "ops.normalize.shuffle_bytes" -> tr.total("ops.normalize", "shuffle_bytes"),
      "rules.s" -> tr.total("rules", "s"),
      "rules.jobs" -> tr.total("rules", "jobs"),
      "rules.task_s" -> tr.total("rules", "task_s"),
      "rules.shuffle_bytes" -> tr.total("rules", "shuffle_bytes"),
      "rules.violations" -> tr.total("rules", "violations"),
      "rules.kept_frac" -> ratio(tr.total("rules", "rows_kept"), tr.total("rules", "rows_in")),
      "ops.merge.s" -> tr.total("ops.merge", "s"),
      "ops.merge.task_s" -> tr.total("ops.merge", "task_s"),
      "ops.merge.shuffle_bytes" -> tr.total("ops.merge", "shuffle_bytes"),
      "ops.merge.inserts" -> tr.total("ops.merge", "inserts"),
      "ops.merge.updates" -> tr.total("ops.merge", "updates"),
      "ops.merge.tombstones" -> tr.total("ops.merge", "tombstones"),
      "ops.merge.history_rows" -> tr.total("ops.merge", "history_rows"),
      "ops.merge.changed_frac" -> ratio(
        tr.total("ops.merge", "inserts") + tr.total("ops.merge", "updates") +
          tr.total("ops.merge", "tombstones"), tr.total("ops.merge", "compared")),
      "io.jdbc.s" -> tr.total("io.jdbc", "s"),
      "io.jdbc.rows" -> tr.total("io.jdbc", "rows"),
      "io.jdbc.task_s" -> tr.total("io.jdbc", "task_s"),
      "io.jdbc.task_retries" -> tr.total("io.jdbc", "task_retries"))
    Outcome(
      attempted = passes, failed = failed,
      e2e = Map(
        "throughput_per_s" -> rows / wall,
        "p50_ms" -> Stats.median(cycleTimes.toSeq) * 1e3),
      named = Seq(
        "etl_rows_per_s" -> rows / wall,
        "etl_cycle_p50_s" -> Stats.median(cycleTimes.toSeq),
        "etl_cycle_tail_s" -> tail,
        "etl_cycle_tail_pct" -> tailPct,
        "etl_cycles" -> cycleTimes.size.toDouble) ++
        Seq("initial", "incremental", "reapply").zipWithIndex.map { case (k, p) =>
          s"etl_${k}_pass_p50_s" -> Stats.median(passTimes.collect { case (`p`, t) => t }.toSeq)
        },
      layer = layer,
      inputs = Seq(
        "snapshot1_rows" -> inputRows(0).toDouble,
        "snapshot2_rows" -> inputRows(1).toDouble,
        "rows_per_cycle" -> inputRows.sum.toDouble))
  }

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}
