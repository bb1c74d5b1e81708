package graft.index

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.corpus.{Corpus, SyntheticCorpus}

/** Serving mode against the parquet-backed handle on the same index: a
  * preloaded handle (postings cached hash-partitioned by shard) plans its
  * single-input searches with no Exchange, a parquet-backed one with
  * exactly one, and both return the same ids with bit-identical scores.
  * Both fixtures have 8 shards while the test session shuffles into 4
  * partitions, so a matching partition count cannot hide an Exchange.
  */
class PreloadSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** Shuffle exchanges Catalyst planned, read from AQE's initial plan
    * (before any stage runs or is reused).
    */
  private def exchanges(df: DataFrame): Int = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    plan.collect { case e: ShuffleExchangeLike => e }.size
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d) // bit-identical
      case v => v
    })

  /** Every single-input search mode on `queries`, as (name, handle => df). */
  private def modes(queries: Seq[String], must: String, mustNot: String)
      : Seq[(String, PostingIndex => DataFrame)] =
    queries.flatMap { q =>
      Seq[(String, PostingIndex => DataFrame)](
        s"search($q)" -> (_.search(q, 10)),
        s"searchRounded($q)" -> (_.searchRounded(q, 10)),
        s"searchConjunctive($q)" -> (_.searchConjunctive(q, 10)),
        s"searchAfterRounded($q)" -> { h =>
          val page1 = h.searchRounded(q, 3).collect()
          val last = page1.last
          h.searchAfterRounded(q, 10, last.getDouble(1), last.getLong(0))
        },
        s"searchBooleanRounded($must, $q, $mustNot)" ->
          (_.searchBooleanRounded(must, q, mustNot, 10)))
    }

  private def checkPlansAndParity(dir: String, queries: Seq[String],
                                  must: String, mustNot: String): Seq[Seq[Any]] = {
    val parquet = new PostingIndex(spark, dir)
    val preloaded = new PostingIndex(spark, dir).preload()
    try {
      assert(parquet.globals.shards == 8 &&
        spark.conf.get("spark.sql.shuffle.partitions") == "4")
      val all = modes(queries, must, mustNot).flatMap { case (name, run) =>
        assert(exchanges(run(preloaded)) == 0, s"preloaded $name plans an Exchange")
        assert(exchanges(run(parquet)) == 1, s"parquet $name: not exactly one Exchange")
        val want = rows(run(parquet))
        assert(rows(run(preloaded)) == want, name)
        want
      }
      assert(rows(preloaded.searchMany(queries, 10)) ==
        rows(parquet.searchMany(queries, 10)), "searchMany")
      all
    } finally preloaded.close()
  }

  test("preloaded search: no Exchange, same ids and bit-identical scores (sf0.001)") {
    val dir = IndexCache.dirFor(spark, "/root/testdata/sf0.001", stem = true)
    val got = checkPlansAndParity(dir,
      Seq("table scan merge", "window hash", "customer stream batch", "spark"),
      must = "join", mustNot = "slow")
    assert(got.nonEmpty)
  }

  test("preloaded search: no Exchange, same results on a tombstoned index with negative ids") {
    val docs = Corpus.fromCodeDocs(SyntheticCorpus.generate(spark, 300, seed = 42L))
    val dir = Files.createTempDirectory("graft-preload").toString
    IndexBuilder.build(spark, docs, dir,
      IndexConfig(shards = 8, termBuckets = 2, blockSize = 16))
    // docIds are hash-valued (negative half the time) -> pmod, not %
    val deleted = docs.filter(pmod(col("docId"), lit(3L)) === 1).select("docId")
    IndexBuilder.delete(spark, deleted, dir, "pl1")
    val deletedIds = deleted.collect().map(_.getLong(0)).toSet
    val got = checkPlansAndParity(dir,
      Seq("longest river", "best complexity", "world war one", "return",
        "science technology"),
      must = "return", mustNot = "river")
    val ids = got.map(_.head.asInstanceOf[Long])
    assert(ids.exists(_ < 0), "fixture must serve negative doc ids")
    assert(ids.nonEmpty && !ids.exists(deletedIds), "a tombstoned doc was served")
  }
}
