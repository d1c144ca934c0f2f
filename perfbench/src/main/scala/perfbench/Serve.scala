package perfbench

import com.sun.net.httpserver.{Headers, HttpContext, HttpExchange}
import graft.ext.Retrieval
import graft.io.HttpShim
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** `serve`: `HttpShim` on loopback with the reference's `/payments` and
  * `/reviews` CSV routes and `/search` over a persisted BM25 index.
  * Phase 1 is an open loop at a fixed rate, each request timed from its
  * scheduled send; phase 2 is a closed loop of one client per core. */
final class Serve extends Workload {
  private val Index = "perfbench_serve_idx"
  private val MaxRows = 100000 // HttpShim's default cap
  private val K = 10

  private var paymentsCsv: File = _
  private var reviewsCsv: File = _
  private var queries: Vector[Seq[String]] = Vector.empty
  /** The open loop's rate: about half the shim's capacity on 4 cores
    * (~2 requests/s). */
  private val Rate = 1.0

  /** The request mix, cycled: 3 searches, 1 payments, 1 reviews. */
  private val Mix = Vector("search", "payments", "search", "reviews", "search")

  def setup(spark: SparkSession, opts: Opts, cores: Int, dir: File): Unit = {
    dir.mkdirs()
    val scale = if (opts.smoke) OlistGen.Smoke
      else OlistGen.Smoke.copy(orders = 400, customers = 400)
    val tables = new OlistGen.World(opts.seed, scale)
      .snapshot(OlistGen.Defects(), Seq("order_payments", "order_reviews"))
    def csv(name: String): File = {
      val t = tables.find(_.name == name).get
      OlistGen.write(new File(dir, name), Seq(t))
      new File(dir, name).listFiles().head
    }
    paymentsCsv = csv("order_payments")
    reviewsCsv = csv("order_reviews")
    val docs = Corpus.frame(spark,
      Corpus.documentRows(opts.seed, if (opts.smoke) 300 else 1000),
      Corpus.documentsSchema)
    Retrieval.writeBm25Index(docs, "doc_id", "text", Index)
    val rnd = new java.util.SplittableRandom(opts.seed + 1)
    // two distinct terms each, so every seed's searches cost alike
    queries = Vector.fill(16) {
      val a = rnd.nextInt(Corpus.Vocab.size)
      val b = (a + rnd.nextInt(1, Corpus.Vocab.size)) % Corpus.Vocab.size
      Vector(Corpus.Vocab(a), Corpus.Vocab(b))
    }
  }

  private def routes(spark: SparkSession): Map[String, HttpExchange => DataFrame] =
    HttpShim.csvRoutes(spark, paymentsCsv.getAbsolutePath, reviewsCsv.getAbsolutePath)
      .map { case (p, mk) => p -> ((_: HttpExchange) => mk()) } ++
      HttpShim.retrievalRoutes(spark, Index, K)

  private def pathOf(j: Int): (String, String) = Mix(j % Mix.size) match {
    case "search" =>
      val q = queries((j / Mix.size) % queries.size)
      (s"search:${q.mkString(" ")}",
        "search?q=" + java.net.URLEncoder.encode(q.mkString(" "), "UTF-8") + s"&k=$K")
    case kind => (kind, kind)
  }

  /** One request's outcome as the client saw it. */
  private final case class Obs(key: String, dueNs: Long, sentNs: Long,
                               doneNs: Long, ok: Boolean, bytes: Int)

  /** The response body exactly as the shim builds it, and its row count. */
  private def rendered(df: DataFrame): (String, Int) = {
    val rows = df.limit(MaxRows).toJSON.collect()
    (rows.mkString("[", ",", "]"), rows.length)
  }
  private def body(df: DataFrame): String = rendered(df)._1

  /** A request exchange with only a URI, for calling a route directly. */
  private def exchange(path: String): HttpExchange = new HttpExchange {
    private val uri = new URI("http://localhost/" + path)
    def getRequestURI: URI = uri
    def getRequestHeaders: Headers = new Headers()
    def getResponseHeaders: Headers = new Headers()
    def getRequestMethod: String = "GET"
    def getHttpContext: HttpContext = null
    def close(): Unit = ()
    def getRequestBody: java.io.InputStream = java.io.InputStream.nullInputStream()
    def getResponseBody: java.io.OutputStream = java.io.OutputStream.nullOutputStream()
    def sendResponseHeaders(code: Int, len: Long): Unit = ()
    def getRemoteAddress: java.net.InetSocketAddress = null
    def getResponseCode: Int = 200
    def getLocalAddress: java.net.InetSocketAddress = null
    def getProtocol: String = "HTTP/1.1"
    def getAttribute(name: String): AnyRef = null
    def setAttribute(name: String, value: AnyRef): Unit = ()
    def setStreams(i: java.io.InputStream, o: java.io.OutputStream): Unit = ()
    def getPrincipal: com.sun.net.httpserver.HttpPrincipal = null
  }

  def measure(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.trace
    val n = ctx.cores
    val rt = routes(spark)
    val bodies = new ConcurrentHashMap[String, ConcurrentHashMap[String, java.lang.Boolean]]()
    val client = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1)
      .executor(Executors.newFixedThreadPool(n))
      .build()
    val pool = Executors.newFixedThreadPool(n)

    def send(port: Int, j: Int, dueNs: Long): Obs = {
      val (key, path) = pathOf(j)
      val sent = System.nanoTime()
      try {
        val resp = client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        val done = System.nanoTime()
        val b = resp.body()
        bodies.computeIfAbsent(key, _ => new ConcurrentHashMap()).put(b, true)
        val ok = resp.statusCode() == 200 && !b.startsWith("{\"error\"")
        System.err.println(f"[perfbench] serve $j $key: ${(done - dueNs) / 1e6}%.1f ms")
        Obs(key, dueNs, sent, done, ok, b.length)
      } catch { case e: Exception =>
        System.err.println(s"request $path failed: $e")
        Obs(key, dueNs, sent, System.nanoTime(), ok = false, 0)
      }
    }

    // open loop: request j is due at start + j / Rate; up to n in flight
    def openLoop(port: Int, seconds: Double): Seq[Obs] = {
      // whole mix periods, so the median is taken over the same kinds
      val total = ((seconds * Rate).toInt / Mix.size * Mix.size).max(Mix.size)
      val start = System.nanoTime() + 50000000L
      val next = new AtomicInteger(0)
      val out = java.util.Collections.synchronizedList(new java.util.ArrayList[Obs]())
      val workers = (0 until n).map(_ => pool.submit(new Runnable {
        def run(): Unit = {
          var j = next.getAndIncrement()
          while (j < total) {
            val due = start + (j * 1e9 / Rate).toLong
            val wait = due - System.nanoTime()
            if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
            out.add(send(port, j, due))
            j = next.getAndIncrement()
          }
        }
      }))
      workers.foreach(_.get())
      import scala.jdk.CollectionConverters._
      out.asScala.toSeq
    }

    // closed loop: n clients, each sends its next request on a reply, for
    // `seconds` and at least one mix period beyond the first n requests
    def closedLoop(port: Int, seconds: Double): Seq[Obs] = {
      val next = new AtomicInteger(0)
      val end = System.nanoTime() + (seconds * 1e9).toLong
      val out = java.util.Collections.synchronizedList(new java.util.ArrayList[Obs]())
      val workers = (0 until n).map(_ => pool.submit(new Runnable {
        def run(): Unit = while (System.nanoTime() < end || next.get() < n + Mix.size) {
          val j = next.getAndIncrement()
          out.add(send(port, j, System.nanoTime()))
        }
      }))
      workers.foreach(_.get())
      import scala.jdk.CollectionConverters._
      out.asScala.toSeq
    }

    // the server's dispatch thread inherits the job properties of the
    // thread that starts it, so its jobs are credited to this span
    val (open, closed) = tr.span("io.http.serve") {
      val shim = HttpShim.startDynamic(rt)
      try {
        // warm-up, three mix periods from one client: the first request of
        // each route compiles its plan, and latency keeps falling for a few
        // more (on 4 cores a search ~2 s, then ~0.85 s, then ~0.55 s)
        (0 until 3 * Mix.size).foreach(j => send(shim.port, j, System.nanoTime()))
        val open = openLoop(shim.port, ctx.seconds * 0.6)
        (open, closedLoop(shim.port, ctx.seconds * 0.4))
      } finally shim.stop()
    }
    pool.shutdown()
    client.executor().ifPresent {
      case e: java.util.concurrent.ExecutorService => e.shutdown()
      case _ => ()
    }

    // direct calls of the same routes: service time without the socket
    val direct = mutable.ArrayBuffer.empty[(String, Double, Double)]
    if (tr.enabled) (0 until Mix.size).foreach { j =>
      val (key, path) = pathOf(j)
      val route = path.takeWhile(_ != '?')
      val layer = if (route == "search") "ext.retrieval" else "io.csv"
      tr.span(layer) {
        val t0 = System.nanoTime()
        val df = tr.span("io.http.build")(rt(route)(exchange(path)))
        val t1 = System.nanoTime()
        val (b, rows) = tr.span("io.http.exec")(rendered(df))
        val t2 = System.nanoTime()
        if (layer == "io.csv") tr.countOn("io.csv", "rows", rows)
        direct += ((key, (t1 - t0) / 1e6, (t2 - t1) / 1e6))
        bodies.computeIfAbsent(key, _ => new ConcurrentHashMap()).put(b, true)
      }
    }

    // checks: every answer equals the batch operator's on the same inputs
    import scala.jdk.CollectionConverters._
    tr.span("check")(bodies.asScala.foreach { case (key, seen) =>
      val expected =
        if (key.startsWith("search:"))
          body(Retrieval.bm25ProbeTopK(spark, Index, key.stripPrefix("search:")
            .split(" ").toSeq, K))
        else body(graft.io.CsvIngest.readCsv(spark,
          (if (key == "payments") paymentsCsv else reviewsCsv).getAbsolutePath))
      val got = seen.keySet().asScala.toSeq
      ctx.check(s"serve.$key", got == Seq(expected),
        s"${got.size} distinct bodies, expected one of ${expected.length} chars")
    })

    // traced, the catalog subset runs too: it is what measures the entry
    // layer (and the ext and plans code its queries call)
    val catalog = if (tr.enabled) Some(Catalog.run(ctx)) else None

    val openOk = open.filter(_.ok)
    val lat = openOk.map(o => (o.doneNs - o.dueNs) / 1e6)
    val lag = open.map(o => (o.sentNs - o.dueNs) / 1e6)
    val (tail, tailPct) = Stats.tail(lat)
    val p50 = Stats.median(lat)
    // the closed loop's completion rate over whole mix periods from its
    // n-th completion: with the shim's one dispatch thread busy throughout,
    // its service rate for the mix, free of the loop's start and end. The
    // first n requests leave at once and reach the shim in any order; after
    // them each leaves when one completes, so they arrive in mix order.
    val done = closed.filter(_.ok).map(_.doneNs).sorted.drop(n - 1)
    val periods = (done.size - 1) / Mix.size
    val span = if (periods > 0) periods * Mix.size else done.size - 1
    val rps = if (span <= 0) 0.0 else span / ((done(span) - done.head) / 1e9)
    val failed = (open ++ closed).count(!_.ok) + catalog.map(_.failed).getOrElse(0)

    val layer = if (!tr.enabled) Map.empty[String, Double] else {
      val service = direct.groupBy(_._1).map { case (k, xs) =>
        k -> Stats.median(xs.map(x => x._2 + x._3).toSeq) }
      val queue = openOk.flatMap(o => service.get(o.key)
        .map(s => (o.doneNs - o.dueNs) / 1e6 - s))
      val searches = direct.filter(_._1.startsWith("search:"))
      val spans = tr.all
      val reqJobs = spans.filter(s => s.name == "io.http.build" || s.name == "io.http.exec")
        .map(_.counters.getOrElse("jobs", 0.0)).sum
      Map(
        "io.http.build_ms" -> Stats.median(direct.map(_._2).toSeq),
        "io.http.exec_ms" -> Stats.median(direct.map(_._3).toSeq),
        "io.http.queue_ms" -> (if (queue.isEmpty) 0.0 else Stats.median(queue)),
        "io.http.jobs_per_req" -> reqJobs / direct.size,
        "io.http.resp_bytes" -> open.map(_.bytes.toDouble).sum / open.size.max(1),
        "ext.retrieval.probe_ms" -> Stats.median(searches.map(x => x._2 + x._3).toSeq),
        "ext.retrieval.bytes_read" -> tr.totalTree("ext.retrieval", "bytes_read") /
          searches.size.max(1),
        "io.csv.s" -> tr.total("io.csv", "s"),
        "io.csv.jobs" -> tr.totalTree("io.csv", "jobs"),
        "io.csv.task_s" -> tr.totalTree("io.csv", "task_s"),
        "io.csv.rows" -> tr.total("io.csv", "rows")) ++ catalog.get.layer
    }
    Outcome(
      attempted = open.size + closed.size + catalog.map(_.runs).getOrElse(0),
      failed = failed,
      e2e = Map("throughput_per_s" -> rps, "p50_ms" -> p50),
      named = Seq(
        "serve_p50_ms" -> p50,
        "serve_tail_ms" -> tail,
        "serve_tail_pct" -> tailPct,
        "serve_open_requests" -> open.size.toDouble,
        "serve_open_rate_per_s" -> Rate,
        "serve_generator_lag_p50_ms" -> Stats.median(lag),
        "serve_generator_lag_max_ms" -> lag.max,
        "serve_rps" -> rps,
        "serve_closed_clients" -> n.toDouble,
        "serve_closed_requests" -> closed.size.toDouble) ++
        catalog.map(_.named).getOrElse(Nil),
      layer = layer,
      inputs = Seq(
        "payments_rows" -> (scala.io.Source.fromFile(paymentsCsv).getLines().size - 1).toDouble,
        "reviews_rows" -> (scala.io.Source.fromFile(reviewsCsv).getLines().size - 1).toDouble,
        "search_queries" -> queries.size.toDouble) ++
        catalog.map(_.inputs).getOrElse(Nil))
  }
}
