package perfbench

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.search.RelationalBM25

/** Expected top-k from the relational path (`RelationalBM25`: scan,
  * analyze, term frequencies, BM25, no posting blocks, no WAND) over the same
  * generated corpus. `RelationalBM25.topK(docs, q, k)` is
  * `topKFromTf(termFreqs(docs), docs, q, k)`; the oracle caches that term
  * frequency relation once and calls `topKFromTf`, so a sample of queries
  * costs one corpus analysis, not one per query.
  *
  * Runs in its own session (same SparkContext) so its shuffle settings never
  * touch the measured session's.
  */
final class Oracle(measured: SparkSession, corpus: SparkSession => DataFrame,
                   cpus: Int, perturb: Boolean) {
  private val spark = measured.newSession()
  spark.conf.set("spark.sql.shuffle.partitions", 2L)
  spark.conf.set("spark.sql.adaptive.enabled", false)
  private val docs = corpus(spark).select("docId", "content").cache()
  private val nDocs = docs.count()
  private val tf = RelationalBM25.termFreqs(docs, stem = true).cache()
  tf.count()

  /** Expected ranking (doc_id, 4-dp score) in (score desc, doc_id asc):
    * OR scoring over the positive terms, then the mode's match rule
    * (every term for conjunctive; every must term and no must-not term for
    * boolean) — the same rules `Wand.topKConjunctive` / `topKBoolean` apply.
    * `tombstoned` ids are dropped without changing the statistics, which is
    * what the delete overlay serves until a compact. A plain OR query needs
    * only the head of the ranking: k plus a margin for 4-dp ties and
    * tombstoned ids.
    */
  def ranking(q: Query, k: Int, tombstoned: Set[Long]): IndexedSeq[(Long, Double)] = {
    def terms(s: String) = RelationalBM25.queryTerms(s, stem = true)
    val pos: Seq[(String, Double)] =
      if (q.must.isEmpty) terms(q.text)
      else (terms(q.must) ++ terms(q.text)).groupBy(_._1)
        .map { case (t, xs) => (t, xs.map(_._2).sum) }.toSeq.sortBy(_._1)
    if (pos.isEmpty) return IndexedSeq.empty
    val required: Set[String] =
      if (q.conj) pos.map(_._1).toSet else terms(q.must).map(_._1).toSet
    val excluded = terms(q.mustNot).map(_._1).toSet
    val plain = required.isEmpty && excluded.isEmpty
    val limit = if (plain) k + 50 + tombstoned.size else (nDocs + 1).toInt
    val scored = RelationalBM25.topKFromTf(tf, docs, pos, limit).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).filterNot(x => tombstoned(x._1))
    if (plain) scored.toIndexedSeq
    else {
      val has: Map[Long, Set[String]] = tf.filter(col("term").isin((required ++ excluded).toSeq: _*))
        .select("doc_id", "term").collect()
        .groupBy(_.getLong(0)).map { case (d, rs) => d -> rs.map(_.getString(1)).toSet }
      scored.filter { case (d, _) =>
        val ts = has.getOrElse(d, Set.empty[String])
        required.subsetOf(ts) && !excluded.exists(ts)
      }.toIndexedSeq
    }
  }

  /** Expected rankings of `queries`, computed in parallel. With `perturb`
    * the first one has its leading doc id changed, so a working check must
    * report it.
    */
  def expect(queries: Seq[Query], k: Int, tombstoned: Set[Long]): Seq[(Query, IndexedSeq[(Long, Double)])] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val exps = queries.map(q => Future(ranking(q, k, tombstoned))).map(Await.result(_, Duration.Inf))
      queries.zip(exps).zipWithIndex.map { case ((q, e), i) =>
        (q, if (perturb && i == 0 && e.nonEmpty) e.updated(0, (e.head._1 + 1, e.head._2)) else e)
      }
    } finally pool.shutdown()
  }

  def close(): Unit = { tf.unpersist(); docs.unpersist() }
}

object Oracle {
  private val tol = 1e-4 + 1e-9

  /** Expected rankings of `queries` over `corpus`; the oracle's caches are
    * released before it returns.
    */
  def expected(spark: SparkSession, corpus: SparkSession => DataFrame, cpus: Int,
               perturb: Boolean, queries: Seq[Query], k: Int,
               tombstoned: Set[Long] = Set.empty): Seq[(Query, IndexedSeq[(Long, Double)])] = {
    val o = new Oracle(spark, corpus, cpus, perturb)
    try o.expect(queries, k, tombstoned) finally o.close()
  }

  /** Compares each expected ranking with what was served for its query. */
  def verify(res: Result, expected: Seq[(Query, IndexedSeq[(Long, Double)])],
             served: Map[Query, Seq[(Long, Double)]], k: Int): Unit =
    expected.foreach { case (q, exp) =>
      served.get(q) match {
        case None => res.mismatch(s"${q.json(k)}: not among the served answers")
        case Some(got) => compare(got, exp, k).foreach(e => res.mismatch(s"${q.json(k)}: $e"))
      }
    }

  /** The served list must have the expected length, and at each rank its
    * score must equal the expected score at that rank (4 dp) and its doc id
    * must be a doc the oracle scores the same. Docs whose 4-dp scores tie
    * may be served in either order across the k-th boundary; any other
    * difference is a mismatch.
    */
  def compare(served: Seq[(Long, Double)], exp: IndexedSeq[(Long, Double)],
              k: Int): Option[String] = {
    val want = math.min(k, exp.size)
    val byId = exp.toMap
    if (served.size != want) return Some(s"served ${served.size} rows, expected $want")
    if (served.map(_._1).distinct.size != served.size) return Some("duplicate doc ids")
    served.zipWithIndex.collectFirst {
      case ((d, s), i) if math.abs(s - exp(i)._2) > tol =>
        s"rank $i: score $s, expected ${exp(i)._2}"
      case ((d, s), i) if byId.get(d).forall(e => math.abs(e - s) > tol) =>
        s"rank $i: doc $d (score $s) is not an expected doc with that score"
    }
  }
}
