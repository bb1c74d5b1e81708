package graft.server

import java.io.{BufferedInputStream, ByteArrayOutputStream}
import java.net.{HttpURLConnection, Socket, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.index.IndexCache

/** Drives the HTTP surface end-to-end against the sf0.001 corpus: /search
  * agrees with the engine, /stats reports the build counters, /document
  * round-trips and 404s; bad requests are 400s, keep-alive responses do
  * not stall, and a hit whose doc left the corpus still answers.
  */
class SearchServerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkTestSession.spark

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val shared = {
    val s = new SearchServer(spark, sfDir, 0)
    s.start()
    s
  }

  override def afterAll(): Unit = try shared.stop() finally super.afterAll()

  private def http(method: String, url: String, body: Option[String] = None): (Int, String) = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.getOutputStream.write(b.getBytes(StandardCharsets.UTF_8))
    }
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    val out = new String(is.readAllBytes(), StandardCharsets.UTF_8)
    (code, out)
  }

  test("HTTP surface: /search, /stats, /document") {
    val srv = new SearchServer(spark, "/root/testdata/sf0.001", 0)
    srv.start()
    val base = s"http://localhost:${srv.boundPort}"
    try {
      val (c1, hits) = http("POST", s"$base/search",
        Some("""{"query": "table scan merge", "limit": 5}"""))
      assert(c1 == 200)
      val ids = """"id":(\d+)""".r.findAllMatchIn(hits).map(_.group(1).toLong).toSeq
      assert(ids.size == 5)
      // must agree with the engine directly
      val direct = new graft.index.PostingIndex(spark,
        graft.index.IndexCache.dirFor(spark, "/root/testdata/sf0.001", stem = true))
        .search("table scan merge", 5).collect().map(_.getLong(0)).toSeq
      assert(ids == direct)

      val (c2, stats) = http("GET", s"$base/stats")
      assert(c2 == 200 && stats.contains("\"document_count\":500"))

      val (c3, doc) = http("GET", s"$base/document/42")
      assert(c3 == 200 && doc.contains("\"id\":42"))
      val (c4, _) = http("GET", s"$base/document/999999")
      assert(c4 == 404)
      val (c5, _) = http("GET", s"$base/document/notanid")
      assert(c5 == 400)

      // result rows carry the reference UI contract fields (App.tsx:6-11)
      assert(hits.contains("\"title\":") && hits.contains("\"url\":\"graft://"))

      // JSON escapes in the query string must decode before analysis:
      // "table scan\tmerge" == "table scan\tmerge" -> same results
      val (cEsc, escHits) = http("POST", s"$base/search",
        Some("{\"query\": \"table\\u0020scan\\tmerge\", \"limit\": 5}"))
      assert(cEsc == 200)
      val escIds = """"id":(\d+)""".r.findAllMatchIn(escHits).map(_.group(1).toLong).toSeq
      assert(escIds == direct)

      // degenerate query: all stop words -> empty array, not an error
      val (c6, empty) = http("POST", s"$base/search", Some("""{"query": "the a of"}"""))
      assert(c6 == 200 && empty == "[]")

      // conjunctive mode
      val (c7, _) = http("POST", s"$base/search",
        Some("""{"query": "table scan", "conjunctive": true, "limit": 3}"""))
      assert(c7 == 200)

      // boolean mode: must/must_not clauses with `query` as should —
      // must agree with the engine's boolean search directly
      val idxH = graft.index.PostingIndex.forDir(spark,
        graft.index.IndexCache.dirFor(spark, "/root/testdata/sf0.001", stem = true))
      val (c8, boolHits) = http("POST", s"$base/search",
        Some("""{"query": "merge scan", "must": "table", "must_not": "stream", "limit": 5}"""))
      assert(c8 == 200)
      val boolIds = """"id":(\d+)""".r.findAllMatchIn(boolHits).map(_.group(1).toLong).toSeq
      val boolDirect = idxH.searchBooleanRounded("table", "merge scan", "stream", 5)
        .collect().map(_.getLong(0)).toSeq
      assert(boolIds == boolDirect)

      // search_after pagination: page 2 via page 1's last row as cursor
      val page1 = idxH.searchRounded("table scan merge", 5).collect()
      val last = page1.last
      val (c9, p2Hits) = http("POST", s"$base/search",
        Some(s"""{"query": "table scan merge", "limit": 5, """ +
          s""""after_score": ${last.getDouble(1)}, "after_doc": ${last.getLong(0)}}"""))
      assert(c9 == 200)
      val p2Ids = """"id":(\d+)""".r.findAllMatchIn(p2Hits).map(_.group(1).toLong).toSeq
      val p2Direct = idxH.searchAfterRounded("table scan merge", 5,
        last.getDouble(1), last.getLong(0)).collect().map(_.getLong(0)).toSeq
      assert(p2Ids == p2Direct && p2Ids.nonEmpty)
      assert(p2Ids.toSet.intersect(page1.map(_.getLong(0)).toSet).isEmpty)
    } finally srv.stop()
  }

  /** One HTTP/1.1 exchange on an open keep-alive socket; returns the body. */
  private def keepAliveGet(in: BufferedInputStream, sock: Socket, path: String): String = {
    sock.getOutputStream.write(
      s"GET $path HTTP/1.1\r\nHost: localhost\r\n\r\n".getBytes(StandardCharsets.US_ASCII))
    sock.getOutputStream.flush()
    val head = new ByteArrayOutputStream()
    while (!head.toString(StandardCharsets.US_ASCII).endsWith("\r\n\r\n")) {
      val b = in.read()
      assert(b >= 0, "connection closed mid-response")
      head.write(b)
    }
    val len = "(?i)content-length:\\s*(\\d+)".r
      .findFirstMatchIn(head.toString(StandardCharsets.US_ASCII)).get.group(1).toInt
    new String(in.readNBytes(len), StandardCharsets.UTF_8)
  }

  test("keep-alive responses are not held back by Nagle + delayed ACK") {
    // headers and body leave as two segments; without TCP_NODELAY the body
    // waits ~40 ms for the client's delayed ACK on every reused connection
    val sock = new Socket("localhost", shared.boundPort)
    try {
      sock.setTcpNoDelay(true)
      val in = new BufferedInputStream(sock.getInputStream)
      val ms = (1 to 20).map { _ =>
        val t0 = System.nanoTime()
        assert(keepAliveGet(in, sock, "/stats").contains("\"document_count\":500"))
        (System.nanoTime() - t0) / 1e6
      }.sorted
      assert(ms(ms.size / 2) < 20.0, s"per-request ms on one connection: $ms")
    } finally sock.close()
  }

  test("limit outside 1..maxLimit or not an integer is a 400; pure negation is a 400") {
    val base = s"http://localhost:${shared.boundPort}"
    for (bad <- Seq("0", "-5", "1000000", "\"ten\"", "1.5")) {
      val (c, body) = http("POST", s"$base/search",
        Some(s"""{"query": "table scan", "limit": $bad}"""))
      assert(c == 400 && body.contains(s"1..${SearchServer.maxLimit}"), s"limit $bad: $c $body")
    }
    val (cMax, maxHits) = http("POST", s"$base/search",
      Some(s"""{"query": "table scan", "limit": ${SearchServer.maxLimit}}"""))
    assert(cMax == 200 && maxHits.startsWith("[{"))
    val (cNeg, neg) = http("POST", s"$base/search",
      Some("""{"query": "", "must_not": "stream"}"""))
    assert(cNeg == 400 && neg.contains("pure-negation"), neg)
  }

  test("a pagination cursor needs a non-NaN after_score and an integer after_doc, else 400") {
    val base = s"http://localhost:${shared.boundPort}"
    val q = """"query": "table scan merge", "limit": 5"""
    for (bad <- Seq(""""after_score": NaN, "after_doc": 394""",
        """"after_score": "NaN", "after_doc": 394""",
        """"after_score": "abc", "after_doc": 394""",
        """"after_score": 1.0588""",
        """"after_doc": 394""",
        """"after_score": 1.0588, "after_doc": 1.5""")) {
      val (c, body) = http("POST", s"$base/search", Some(s"{$q, $bad}"))
      assert(c == 400 && body.contains("after_doc"), s"$bad: $c $body")
    }
    val (cOk, hits) = http("POST", s"$base/search",
      Some(s"""{$q, "after_score": 1.0588, "after_doc": 394}"""))
    assert(cOk == 200 && hits.startsWith("["), hits)
    // library callers get the same check
    val idxH = graft.index.PostingIndex.forDir(spark, IndexCache.dirFor(spark, sfDir, stem = true))
    intercept[IllegalArgumentException](
      idxH.searchAfterRounded("table scan merge", 5, Double.NaN, 394L))
  }

  test("a hit whose doc is missing from the corpus keeps id, score, url; text fields empty") {
    val corpus = Files.createTempDirectory("graft-srv-missing")
    val docs = corpus.resolve("documents.parquet")
    spark.read.parquet(s"$sfDir/documents.parquet").write.parquet(docs.toString)
    val idxDir = IndexCache.dirFor(spark, corpus.toString, stem = true)
    val top = new graft.index.PostingIndex(spark, idxDir)
      .search("table scan merge", 5).collect().map(_.getLong(0)).toSeq
    val gone = top.head
    // drop the top hit's row after the index was built
    val kept = corpus.resolve("kept.parquet")
    spark.read.parquet(docs.toString).filter(col("doc_id") =!= gone).write.parquet(kept.toString)
    rmTree(docs)
    Files.move(kept, docs)
    val srv = new SearchServer(spark, corpus.toString, 0)
    srv.start()
    try {
      val (c, hits) = http("POST", s"http://localhost:${srv.boundPort}/search",
        Some("""{"query": "table scan merge", "limit": 5}"""))
      assert(c == 200, hits)
      val ids = """"id":(-?\d+)""".r.findAllMatchIn(hits).map(_.group(1).toLong).toSeq
      assert(ids == top)
      assert(hits.contains(s"""{"id":$gone,"score":""") &&
        hits.contains(s""""title":"","url":"graft:///$gone","lang":"","source":"","snippet":""}"""),
        hits)
    } finally {
      srv.stop()
      rmTree(corpus)
      rmTree(java.nio.file.Paths.get(idxDir))
    }
  }

  private def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally walk.close()
    }
}
