package perfbench

import graft.SparkEntry

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable

/** The catalog phase of a traced `serve` measure: a driver-bound query (a
  * chain of small sequential jobs) and a kernel-bound one (one brute-force
  * scoring pass of native dot products) from `SparkEntry.queries`, over
  * seeded `documents` / `embeddings` tables. Each query runs once cold and
  * once warm, each time in a fresh session, as `graft.Bench` runs them.
  * The cold run writes its output as parquet next to the query's DuckDB
  * oracle SQL, which the runner compares; the warm run writes to the noop
  * sink. It credits the `entry.<query>` spans, and through the queries the
  * `ext` and `plans` code they call.
  */
object Catalog {
  final case class Result(runs: Int, failed: Int, layer: Map[String, Double],
                          named: Seq[(String, Double)],
                          inputs: Seq[(String, Double)])

  val DriverBound: Seq[String] = Seq("q124_hybrid_rrf")
  val KernelBound: Seq[String] = Seq("q30_topk_cosine")
  def subset: Seq[String] = DriverBound ++ KernelBound

  /** Where the cold outputs, the oracle SQL and the data dir's path go. */
  def outDir(opts: Opts): File = new File(opts.root, "catalog_out")

  /** One run of one query: (build seconds, exec seconds, ok). */
  private def runOnce(ctx: Ctx, data: File, q: String, cold: Boolean,
                      out: File): (Double, Double, Boolean) = {
    val session = ctx.spark.newSession()
    val fn = SparkEntry.queries(q)
    ctx.trace.span(s"entry.$q") {
      val t0 = System.nanoTime()
      try {
        val df = ctx.trace.span(s"entry.$q.build")(fn(session, data.getAbsolutePath))
        val t1 = System.nanoTime()
        ctx.trace.span(s"entry.$q.exec")(
          if (cold) df.write.parquet(new File(out, q).getAbsolutePath)
          else df.write.format("noop").mode("overwrite").save())
        val t2 = System.nanoTime()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9, true)
      } catch { case e: Exception =>
        System.err.println(s"catalog query $q failed (cold=$cold): $e")
        e.printStackTrace()
        ((System.nanoTime() - t0) / 1e9, 0.0, false)
      }
    }
  }

  /** Generate the tables and run the subset cold, then warm. */
  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val data = new File(ctx.opts.root, "catalog_data")
    val (nDocs, nVecs) = if (ctx.opts.smoke) (300, 300) else (1000, 6000)
    Corpus.frame(spark, Corpus.documentRows(ctx.opts.seed, nDocs), Corpus.documentsSchema)
      .write.parquet(new File(data, "documents.parquet").getAbsolutePath)
    Corpus.frame(spark, Corpus.embeddingRows(ctx.opts.seed, nVecs), Corpus.embeddingsSchema)
      .write.parquet(new File(data, "embeddings.parquet").getAbsolutePath)
    val out = outDir(ctx.opts)
    out.mkdirs()
    val runs = mutable.ArrayBuffer.empty[(String, Boolean, Double, Double, Boolean)]
    for (cold <- Seq(true, false); q <- subset) {
      val (b, e, ok) = runOnce(ctx, data, q, cold, out)
      runs += ((q, cold, b, e, ok))
    }
    val oracle = Json.obj(subset.map(q => q -> Json.str(SparkEntry.oracleSql(q))))
    Files.write(new File(out, "oracle_sql.json").toPath,
      oracle.getBytes(StandardCharsets.UTF_8))
    Files.write(new File(out, "data_dir.txt").toPath,
      data.getAbsolutePath.getBytes(StandardCharsets.UTF_8))

    val tr = ctx.trace
    tr.drain()
    val layer = subset.flatMap { q =>
      val Seq(coldTop, warmTop) = tr.all.filter(_.name == s"entry.$q")
      val warm = runs.find(r => r._1 == q && !r._2).get
      Seq(
        s"entry.$q.build_s" -> warm._3,
        s"entry.$q.exec_s" -> warm._4,
        s"entry.$q.jobs" -> tr.subtree(warmTop, "jobs"),
        s"entry.$q.stages" -> tr.subtree(warmTop, "stages"),
        s"entry.$q.task_s" -> tr.subtree(warmTop, "task_s"),
        s"entry.$q.shuffle_bytes" -> tr.subtree(warmTop, "shuffle_bytes"),
        s"entry.$q.spill_bytes" -> tr.subtree(warmTop, "spill_bytes"),
        s"entry.$q.cold_jobs" -> tr.subtree(coldTop, "jobs"))
    }.toMap
    val cold = runs.filter(_._2).map(r => r._3 + r._4).sum
    val warm = runs.filterNot(_._2).map(r => r._3 + r._4).sum
    Result(runs.size, runs.count(!_._5), layer,
      Seq("catalog_cold_s" -> cold, "catalog_warm_s" -> warm),
      Seq("catalog_documents_rows" -> nDocs.toDouble,
        "catalog_embeddings_rows" -> nVecs.toDouble))
  }
}
