package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.Corpus
import graft.index.{IndexBuilder, IndexConfig, PostingIndex}

/** batch: the offline side in `graft.Main` order. Set-up builds the index;
  * then ~1% of its ids are tombstoned (`IndexBuilder.delete`) and
  * `PostingIndex.searchManyTable` runs exactly as `graft.Main batch-search`
  * calls it (posting-heavy queries, index read from parquet, not preloaded)
  * through a fresh handle over the tombstoned index.
  *
  * Per-query fixed costs amortize over a job, so parquet scan and decode,
  * WAND scoring, the tombstone overlay and the exchange do the work; the
  * preload cache, the HTTP server and hydration are bypassed.
  */
object Batch {

  def run(ctx: Ctx, res: Result): Unit = {
    val s = ctx.s
    val spark = ctx.spark
    import spark.implicits._
    val n = s.int("docs")
    val k = s.int("k")
    val perJob = s.int("queries_per_job")
    val maxJobs = s.int("max_jobs")
    val cfg = IndexConfig(shards = s.int("shards"), termBuckets = s.int("term_buckets"))
    val (baseDir, delDir) = (ctx.path("base"), ctx.path("delete-ids"))
    Inputs.codeDocs(spark, n, ctx.seed, s.int("vocab_spread")).write.parquet(baseDir)
    // graft.Main reads a corpus parquet through Corpus.fromCodeDocs
    def corpus(sp: SparkSession, dir: String): DataFrame = Corpus.fromCodeDocs(sp.read.parquet(dir))
    corpus(spark, baseDir).select(col("docId").as("doc_id"))
      .sample(withReplacement = false, s.dbl("delete_share"), ctx.seed + 2).write.parquet(delDir)
    val deleted: Set[Long] = spark.read.parquet(delDir).collect().map(_.getLong(0)).toSet
    // one (query_id, query) parquet per job, as `graft.Main batch-search`
    // reads them; job 0 is the untimed warm-up
    val jobQueries = (0 to maxJobs).map { j =>
      Inputs.batchQueries(if (j == 0) s.int("warmup_queries") else perJob, ctx.seed + 10 + j)
    }
    val queriesDir = ctx.path("queries")
    jobQueries.zipWithIndex.flatMap { case (qs, j) =>
      qs.zipWithIndex.map { case (q, i) => (j, (j * perJob + i).toLong, q) }
    }.toDF("job", "query_id", "query").coalesce(1).write.partitionBy("job").parquet(queriesDir)
    val layers = new Layers(ctx)
    Log("inputs written")

    /** A timed lifecycle call; traced runs record it as an operation. */
    def step[A](name: String)(f: => A): (A, Double) =
      if (!ctx.traced) Stats.timed(f)
      else {
        val (a, t) = layers.tracer.op(name)(f)
        layers.add("spark.spill_bytes", t.sums("spark.spill_bytes"))
        (a, t.wall)
      }

    var idxDir = ""
    val builds = (1 to s.int("setups")).map { i =>
      idxDir = ctx.path(s"index-$i")
      val b = layers.build(corpus(spark, baseDir), idxDir, cfg)
      Log(f"set-up $i: build $b%.0f ms")
      b
    }
    val (_, deleteMs) = step("index.delete")(
      IndexBuilder.delete(spark, spark.read.parquet(delDir), idxDir, "d1"))
    layers.add("index.delete_s", deleteMs / 1000)
    val (idx, openMs) = step("index.open")(new PostingIndex(spark, idxDir))
    layers.add("index.open_s", openMs / 1000)
    Log(f"delete $deleteMs%.0f ms, open $openMs%.0f ms")

    /** One batch-search job: searchManyTable + the parquet write. Returns
      * the time to construct the DataFrame.
      */
    def job(j: Int): Double = {
      val (df, construct) = Stats.timed(
        idx.searchManyTable(spark.read.parquet(s"$queriesDir/job=$j"), k, s.int("query_batches")))
      df.write.mode("overwrite").parquet(ctx.path(s"out-$j"))
      construct
    }
    job(0) // warm-up job on a small query set, untimed
    val deadline = Clock.nowMs + ctx.seconds * 1000.0
    val jobs = scala.collection.mutable.ArrayBuffer[Int]()
    val walls = scala.collection.mutable.ArrayBuffer[Double]()
    val minJobs = if (ctx.traced) 4 else 2
    while (jobs.size < minJobs || (jobs.size < maxJobs && Clock.nowMs < deadline)) {
      val j = jobs.size + 1
      if (!ctx.traced) walls += Stats.timed(job(j))._2
      // traced runs alternate untraced and traced jobs, so JIT warm-up over
      // the run does not bias the tracing overhead
      else if (j % 2 == 1) layers.wall("untraced", layers.untraced(Stats.timed(job(j))._2))
      else {
        val (construct, t) = layers.tracer.op("batch.job")(job(j))
        layers.add("index.construct_ms", construct)
        layers.op(t)
      }
      jobs += j
    }
    if (!ctx.traced) {
      res.metric("setup_s", Stats.median(builds) / 1000, "s")
      // the run's fastest build: the builds still speed up as the JIT warms
      res.metric("index_docs_per_s", n / (builds.min / 1000), "docs/s")
      res.metric("search_p50_ms", Stats.median(walls.toSeq), "ms")
      res.metric("search_qps", jobs.size * perJob / (walls.sum / 1000), "1/s")
      System.err.println(f"[batch] ${jobs.size} jobs x $perJob queries, walls " +
        walls.map(w => f"$w%.0f").mkString(", ") + " ms")
    } else {
      val out = spark.read.parquet(ctx.path(s"out-${jobs.last}"))
      val h = new PostingIndex(spark, idxDir)
      jobQueries(jobs.last).take(12).zipWithIndex.foreach { case (q, i) =>
        layers.replay(h, idxDir, Query("batch", q), k, construct = false)
        val top = out.filter(col("query_id") === (jobs.last * perJob + i).toLong).select("doc_id", "score")
        layers.add("index.hydrate_ms", Stats.timed(h.hydrate(top, corpus(spark, baseDir)).collect())._2)
      }
      layers.indexWide(idxDir, corpus(spark, baseDir), "content")
      layers.report(res)
    }
    Log("measured")

    // correctness: every job answers each of its queries with at most k rows
    // and no tombstoned doc; a seeded sample of the first job equals the
    // relational oracle over the corpus with the tombstoned ids dropped and
    // the statistics kept (what the overlay serves until a compact)
    res.attempt(builds.size + 1L)
    val first = jobs.map(j => outputs(ctx, res, j, jobQueries(j), perJob, k, deleted)).head
    val sample = new scala.util.Random(ctx.seed + 3).shuffle(jobQueries(1).indices.toList)
      .take(s.int("oracle_sample"))
    val expected = Oracle.expected(spark, corpus(_, baseDir), ctx.cpus, ctx.perturb,
      sample.map(i => Query("batch", jobQueries(1)(i))), k, deleted)
    Oracle.verify(res, expected,
      sample.map(i => Query("batch", jobQueries(1)(i)) -> first(i)).toMap, k)
    Log("checked")
  }

  /** Checks one job's output; returns each query's rows in rank order. */
  private def outputs(ctx: Ctx, res: Result, j: Int, queries: Seq[String], perJob: Int,
                      k: Int, deleted: Set[Long]): IndexedSeq[Seq[(Long, Double)]] = {
    val rows = ctx.spark.read.parquet(ctx.path(s"out-$j")).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    val byQuery = rows.groupBy(_._1)
    res.attempt(queries.size)
    val unknown = byQuery.keySet.filterNot(id => id >= j * perJob && id < j * perJob + queries.size)
    if (unknown.nonEmpty) res.fail(s"job $j answered unknown query ids ${unknown.take(5)}")
    queries.indices.map { i =>
      val got = byQuery.getOrElse((j * perJob + i).toLong, Array.empty)
        .sortBy(r => (-r._3, r._2)).map(r => (r._2, r._3)).toSeq
      if (got.size > k) res.fail(s"job $j query $i: ${got.size} rows > k")
      got.find(x => deleted(x._1)).foreach(x => res.mismatch(s"job $j query $i: tombstoned doc ${x._1} served"))
      got
    }
  }
}
