package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.corpus.Corpus
import graft.index.{IndexBuilder, IndexCache, PostingIndex}
import graft.server.SearchServer

/** One /search exchange as the client saw it (ms on [[Clock]]). A failed
  * exchange has no hits and counts as missing any latency limit.
  */
final case class Exchange(q: Query, sent: Double, done: Double,
                          hits: Option[Seq[(Long, Double)]], err: String) {
  def latency: Double = if (hits.isDefined) done - sent else Double.PositiveInfinity
}

/** Loopback HTTP client; one connection per client thread, at most `cpus`. */
final class Client(port: Int, limit: Int, timeoutS: Int, cpus: Int) {
  private val pool = Executors.newFixedThreadPool(cpus)
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .executor(pool).build()
  private val uri = URI.create(s"http://127.0.0.1:$port/search")
  private val hitRe = """"id":(-?\d+),"score":([-0-9.Ee]+)""".r

  private def req(q: Query) = HttpRequest.newBuilder(uri)
    .timeout(java.time.Duration.ofSeconds(timeoutS))
    .POST(HttpRequest.BodyPublishers.ofString(q.json(limit))).build()

  def send(q: Query): Exchange = {
    val sent = Clock.nowMs
    def failed(why: String) = Exchange(q, sent, Clock.nowMs, None, why)
    try {
      val r = http.send(req(q), HttpResponse.BodyHandlers.ofString())
      val done = Clock.nowMs
      if (r.statusCode != 200) failed(s"HTTP ${r.statusCode}: ${r.body.take(200)}")
      else {
        val hits = hitRe.findAllMatchIn(r.body).map(m => (m.group(1).toLong, m.group(2).toDouble)).toSeq
        if (hits.size > limit) failed(s"${hits.size} hits > limit $limit")
        else Exchange(q, sent, done, Some(hits), "")
      }
    } catch { case e: Exception => failed(e.toString) }
  }

  /** Closed loop: `clients` threads each send their next request when the
    * previous one returns, for `seconds` and at least `minRequests`. Returns exchanges and the wall
    * from the phase start to the last completion (ms).
    */
  def closed(queries: Iterator[Query], clients: Int, seconds: Double,
             minRequests: Int = 0): (Seq[Exchange], Double) = {
    val out = new ConcurrentLinkedQueue[Exchange]()
    val start = Clock.nowMs
    val end = start + seconds * 1000
    val ts = (1 to clients).map { _ =>
      val t = new Thread(() => {
        while (Clock.nowMs < end || out.size < minRequests)
          out.add(send(queries.synchronized(queries.next())))
      })
      t.start(); t
    }
    ts.foreach(_.join())
    val xs = out.asScala.toSeq
    (xs, (if (xs.isEmpty) end else xs.map(_.done).max) - start)
  }

  def close(): Unit = { pool.shutdownNow(); pool.awaitTermination(10, TimeUnit.SECONDS) }
}

/** serve: `SearchServer` in-process over loopback HTTP on a preloaded index
  * of a corpus whose identifier vocabulary makes rare terms df~10^2. Per
  * request fixed costs (driver-side construction, planning, the 2-stage
  * search job, the hydration job, the server's serialized executor)
  * dominate; posting work is small.
  */
object Serve {

  private def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally walk.close()
    }
  }

  def run(ctx: Ctx, res: Result): Unit = {
    val s = ctx.s
    val spark = ctx.spark
    val n = s.int("docs")
    val spread = s.int("vocab_spread")
    val limit = s.int("limit")
    val sfDir = ctx.path("corpus")
    Inputs.documents(Inputs.codeDocs(spark, n, ctx.seed, spread))
      .write.parquet(s"$sfDir/documents.parquet")
    val queries = Inputs.serveQueries(4096, ctx.seed + 1, spread, s.intMap("mix"))
    val next = Iterator.continually(queries).flatten
    // correctness: every distinct query among the first `checked_window`
    // requests after warm-up, which every run serves; the window holds a
    // whole block of the mix, so every query mode is compared
    val warmup = s.int("warmup_requests")
    val window = s.int("checked_window")
    val checked = queries.slice(warmup, warmup + window).distinct
    require(s.intMap("mix").keySet.subsetOf(checked.map(_.kind).toSet),
      s"the checked window of $window requests misses a query kind")
    val layers = new Layers(ctx)
    Log("inputs written")

    var server: SearchServer = null
    var client: Client = null
    val idxDirs = mutable.ArrayBuffer[String]()
    try {
      // set-up, several times, each on a fresh corpus path (hard links to the
      // generated parquet), since `IndexCache` keys its index by corpus path
      // and reuses a complete one: `IndexCache.dirFor` builds the index, then
      // SearchServer's own start-up (its `dirFor` is now a cache hit;
      // preload + document cache) and listen. All but the last torn down.
      val runs = (1 to s.int("setups")).map { i =>
        if (server != null) { server.stop(); spark.catalog.clearCache() }
        val sfI = ctx.path(s"corpus-$i")
        IndexBuilder.cloneIndex(s"$sfDir/documents.parquet", s"$sfI/documents.parquet")
        val t0 = System.nanoTime()
        val (dir, build) = Stats.timed(IndexCache.dirFor(spark, sfI, stem = true))
        idxDirs += dir
        val (srv, open) = Stats.timed(new SearchServer(spark, sfI, 0))
        srv.start()
        server = srv
        layers.add("index.open_s", open / 1000)
        Log(f"set-up $i: build $build%.0f ms, server start $open%.0f ms")
        (build, (System.nanoTime() - t0) / 1e6)
      }
      val idxDir = idxDirs.last
      client = new Client(server.boundPort, limit, s.int("http_timeout_s"), ctx.cpus)
      (1 to warmup).foreach(_ => client.send(next.next()))
      Log("warm-up done")
      val served: Seq[Exchange] =
        if (!ctx.traced) {
          // latency with one client (no queueing), then capacity with
          // nproc closed-loop clients
          val share = s.dbl("latency_share")
          val (one, _) = client.closed(next, 1, ctx.seconds * share, minRequests = window)
          val (sat, satWall) = client.closed(next, ctx.cpus, ctx.seconds * (1 - share))
          val lat = one.map(_.latency)
          val limitMs = s.int("latency_limit_ms")
          res.metric("setup_s", Stats.median(runs.map(_._2)) / 1000, "s")
          // the run's fastest build: the builds still speed up as the JIT warms
          res.metric("index_docs_per_s", n / (runs.map(_._1).min / 1000), "docs/s")
          res.metric("search_p50_ms", Stats.median(lat), "ms")
          res.metric("search_qps", sat.count(_.hits.isDefined) / (satWall / 1000), "1/s")
          System.err.println(f"[serve] ${lat.size} requests, 1 client: p50 ${Stats.median(lat)}%.1f " +
            f"p90 ${Stats.quantile(lat, 0.9)}%.1f ms, ${lat.count(_ > limitMs)} over the $limitMs ms " +
            f"limit; ${sat.size} requests, ${ctx.cpus} clients: " +
            f"${sat.count(_.hits.isDefined) / (satWall / 1000)}%.2f/s")
          one ++ sat
        } else {
          // one client: the server serializes requests, so every job and SQL
          // execution inside a request's wall belongs to that request.
          // Untraced and traced quarters alternate, so JIT warm-up over the
          // run does not bias the tracing overhead.
          val untraced = Vector.newBuilder[Exchange]
          val out = Vector.newBuilder[Exchange]
          for (_ <- 1 to 2) {
            val (u, _) = layers.untraced(client.closed(next, 1, ctx.seconds / 4.0, minRequests = window))
            u.foreach(e => layers.wall("untraced", e.done - e.sent))
            untraced ++= u
            val deadline = Clock.nowMs + ctx.seconds * 250.0
            while (Clock.nowMs < deadline) {
              val (e, t) = layers.tracer.op("search.request")(client.send(next.next()))
              layers.op(t)
              // the request's second SQL execution is the hydration lookup
              if (t.sqlExecs.size >= 2) layers.add("index.hydrate_ms", t.sqlExecs(1)._2 - t.sqlExecs(1)._1)
              out += e
            }
          }
          val handle = new PostingIndex(spark, idxDir).preload()
          val tracedOut = out.result()
          tracedOut.take(12).foreach(e => layers.replay(handle, idxDir, e.q, limit))
          handle.close()
          layers.indexWide(idxDir, spark.read.parquet(s"$sfDir/documents.parquet"), "text")
          layers.report(res)
          untraced.result() ++ tracedOut
        }
      served.foreach { e =>
        res.attempt()
        if (e.hits.isEmpty) res.fail(s"${e.q.json(limit)}: ${e.err}")
      }
      Log("measured")
      val expected = Oracle.expected(spark, Corpus.documents(_, sfDir), ctx.cpus, ctx.perturb, checked, limit)
      Oracle.verify(res, expected,
        served.filter(_.hits.isDefined).map(e => e.q -> e.hits.get).toMap, limit)
      Log("checked")
    } finally {
      if (client != null) client.close()
      if (server != null) server.stop()
      // IndexCache builds under /tmp, outside the run directory
      idxDirs.foreach(deleteTree)
    }
  }

}
