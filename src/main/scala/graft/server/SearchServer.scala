package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.{IndexCache, Manifest, PostingIndex}

/** The reference's HTTP surface (SURVEY.md §2.1 S7/S8/S9 — main.rs:306-311,
  * 399-484, 546-555) over the Spark engine, dependency-free via the JDK
  * http server:
  *
  *   POST /search    {"query": "...", "limit": 10, "conjunctive": false}
  *                   -> [{"id":..,"score":..,"lang":"..","source":"..","snippet":".."}]
  *                   extended modes (beyond the reference contract):
  *                   "must"/"must_not" clause strings -> boolean search
  *                   with `query` as the should clause;
  *                   "after_score"+"after_doc" -> search_after pagination
  *   GET  /stats     -> {"document_count":..,"vocabulary_size":..,
  *                       "postings":..,"posting_bytes":..}
  *   GET  /document/{id} -> full document row or 404
  *
  * Deltas from the reference recorded: the corpus has no stored title/url,
  * so results carry a derived `title` (leading text) and a stable
  * `url` ("graft://{source}/{id}") to keep the reference UI contract's
  * field shape (App.tsx:6-11). Request fields beyond
  * {query, limit, conjunctive} are IGNORED (not 400) — matching the
  * reference, which deserializes unknown JSON fields permissively; its
  * `method` selector (1/2 = TF-IDF idf variants, 3/4 = SVD) has no analog
  * here (BM25 replaces both per the north rule), so `method` in a request
  * is ignored rather than rejected.
  *
  * `limit` must be an integer in 1..[[SearchServer.maxLimit]], else 400;
  * a cursor needs both `after_score` (a number, not NaN) and `after_doc`
  * (an integer), else 400;
  * a request the engine rejects (e.g. a pure-negation boolean query) is a
  * 400 with the reason, any other failure a 500 `{"error":"internal
  * error"}` with the exception logged, never echoed.
  *
  * Serving path: preloaded index (postings pinned in executor memory,
  * hash-partitioned by shard), so a /search's top-k is one Spark stage —
  * cached scan, per-shard WAND, top-k — with no Exchange; docs are
  * hydrated per request by pushed-down point lookups, and a hit whose doc
  * is missing from the corpus keeps its id, score and url with empty text
  * fields.
  * Responses go out with TCP_NODELAY (see the companion).
  */
final class SearchServer(spark: SparkSession, sfDir: String, port: Int) {

  private val idxDir = IndexCache.dirFor(spark, sfDir, stem = true)
  private val idx = new PostingIndex(spark, idxDir).preload()
  private val docs = spark.read.parquet(s"$sfDir/documents.parquet").cache()
  docs.count() // materialize the cache

  private val server = SearchServer.bind(port)

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Full JSON string unescape (the whole escape set incl. \uXXXX): a
    * legitimately-encoded query containing \n/\t/\u-escapes must reach the
    * analyzer as the characters it encodes, not literal backslash runs.
    */
  private def unescapeJson(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => sb += '"'; i += 2
          case '\\' => sb += '\\'; i += 2
          case '/' => sb += '/'; i += 2
          case 'n' => sb += '\n'; i += 2
          case 't' => sb += '\t'; i += 2
          case 'r' => sb += '\r'; i += 2
          case 'b' => sb += '\b'; i += 2
          case 'f' => sb += '\f'; i += 2
          case 'u' if i + 5 < s.length =>
            val hex = s.substring(i + 2, i + 6)
            try { sb += Integer.parseInt(hex, 16).toChar; i += 6 }
            catch { case _: NumberFormatException => sb += 'u'; i += 2 }
          case other => sb += other; i += 2 // lenient: unknown escape kept
        }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  /** Minimal JSON field extraction for the tiny request shape (a full
    * parser is not warranted for three fields of known types).
    */
  private def jsonField(body: String, name: String): Option[String] = {
    val m = ("\"" + java.util.regex.Pattern.quote(name) +
      "\"\\s*:\\s*(\"((?:[^\"\\\\]|\\\\.)*)\"|[^,}\\s]+)").r
    m.findFirstMatchIn(body).map { mm =>
      Option(mm.group(2)).map(unescapeJson).getOrElse(mm.group(1))
    }
  }

  def start(): Unit = {
    server.createContext("/search", (ex: HttpExchange) => {
      try {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val query = jsonField(body, "query").getOrElse("")
        val limit = jsonField(body, "limit").fold(10) { l =>
          l.toIntOption.filter(n => n >= 1 && n <= SearchServer.maxLimit)
            .getOrElse(throw new IllegalArgumentException(
              s"limit must be an integer in 1..${SearchServer.maxLimit}"))
        }
        val conj = jsonField(body, "conjunctive").contains("true")
        // extended modes beyond the reference contract (absent fields =
        // the reference behavior): must/must_not clauses -> boolean
        // search with `query` as the should clause; after_score+after_doc
        // -> search_after deep pagination
        val must = jsonField(body, "must").getOrElse("")
        val mustNot = jsonField(body, "must_not").getOrElse("")
        val afterScore = jsonField(body, "after_score")
        val afterDoc = jsonField(body, "after_doc")
        val cursor =
          if (afterScore.isEmpty && afterDoc.isEmpty) None
          else (afterScore.flatMap(_.toDoubleOption).filterNot(_.isNaN),
              afterDoc.flatMap(_.toLongOption)) match {
            case (Some(s), Some(d)) => Some((s, d))
            case _ => throw new IllegalArgumentException(
              "after_score (a number, not NaN) and after_doc (an integer) " +
                "must be given together")
          }
        val top =
          if (must.nonEmpty || mustNot.nonEmpty)
            idx.searchBooleanRounded(must, query, mustNot, limit)
          else if (cursor.isDefined)
            idx.searchAfterRounded(query, limit, cursor.get._1, cursor.get._2)
          else if (conj) idx.searchConjunctive(query, limit)
          else idx.search(query, limit)
        val rows = broadcastHydrate(top)
        respond(ex, 200, rows.mkString("[", ",", "]"))
      } catch {
        case e: IllegalArgumentException =>
          respond(ex, 400, s"""{"error":${jstr(e.getMessage)}}""")
        case e: Throwable =>
          SearchServer.log.error("/search failed", e)
          respond(ex, 500, """{"error":"internal error"}""")
      }
    })
    server.createContext("/stats", (ex: HttpExchange) => {
      val g = idx.globals
      val (_, postings, bytes) = Manifest.totals(idxDir)
      respond(ex, 200,
        s"""{"document_count":${g.nDocs},"vocabulary_size":${g.vocabularySize},""" +
          s""""postings":$postings,"posting_bytes":$bytes}""")
    })
    server.createContext("/document/", (ex: HttpExchange) => {
      val idStr = ex.getRequestURI.getPath.stripPrefix("/document/")
      idStr.toLongOption match {
        case None => respond(ex, 400, """{"error":"bad id"}""")
        case Some(id) =>
          val row = docs.filter(col("doc_id") === id).collect()
          if (row.isEmpty) respond(ex, 404, """{"error":"not found"}""")
          else {
            val r = row(0)
            respond(ex, 200,
              s"""{"id":${r.getAs[Long]("doc_id")},"lang":${jstr(r.getAs[String]("lang"))},""" +
                s""""source":${jstr(r.getAs[String]("source"))},"text":${jstr(r.getAs[String]("text"))}}""")
          }
      }
    })
    server.setExecutor(null) // requests serialized; Spark session is not thread-safe here
    server.start()
  }

  private def broadcastHydrate(top: org.apache.spark.sql.DataFrame): Seq[String] = {
    val hits = top.collect().map(r => (r.getLong(0), r.getDouble(1)))
    if (hits.isEmpty) return Seq.empty
    // title/url parity with the reference result contract (App.tsx:6-11,
    // main.rs:93-100): the synthetic corpus has no stored title/url, so
    // title = leading text (to 60 chars) and url = a stable doc URI.
    val meta = docs.filter(col("doc_id").isin(hits.map(_._1).toIndexedSeq: _*))
      .select(col("doc_id"), col("lang"), col("source"),
        substring(col("text"), 1, 60).as("title"),
        substring(col("text"), 1, 150).as("snippet"))
      .collect()
      .map(r => r.getLong(0) -> r).toMap
    hits.toSeq.map { case (id, score) =>
      // a doc missing from the corpus (removed after the index was built)
      // still answers with its id, score and url; its text fields are empty
      def f(c: String): String = meta.get(id).map(_.getAs[String](c)).getOrElse("")
      s"""{"id":$id,"score":$score,"title":${jstr(f("title"))},""" +
        s""""url":${jstr(s"graft://${f("source")}/$id")},""" +
        s""""lang":${jstr(f("lang"))},""" +
        s""""source":${jstr(f("source"))},"snippet":${jstr(f("snippet"))}}"""
    }
  }

  def stop(): Unit = server.stop(0)

  def boundPort: Int = server.getAddress.getPort
}

object SearchServer {

  // The JDK server writes a response's headers and body as two segments;
  // with Nagle on, the body waits ~40 ms for the client's delayed ACK on
  // every keep-alive response. The JDK reads this once per JVM, so it is
  // set here, before bind() creates the first server.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  /** Largest accepted `limit`: it sizes a per-shard WAND heap. */
  val maxLimit: Int = 1000

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[SearchServer])

  private def bind(port: Int): HttpServer =
    HttpServer.create(new InetSocketAddress(port), 0)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val port = if (args.length > 1) args(1).toInt else 8080
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = new SearchServer(spark, sfDir, port)
    s.start()
    println(s"SearchServer listening on :$port (corpus $sfDir)")
    Thread.currentThread().join()
  }
}
