package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.index.{BlockRow, IndexBuilder, IndexConfig, IndexFormat, Manifest, PostingIndex}
import graft.search.Wand

/** Per-layer samples of a traced run, reduced to one p50 per metric. Every
  * workload reports the same names (`metrics`).
  */
final class Layers(ctx: Ctx) {
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val tracer: Tracer = if (ctx.traced) new Tracer(ctx.spark) else null
  if (tracer != null) tracer.recorder.attach(ctx.spark)
  private val walls = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val selfs = mutable.ArrayBuffer[Map[String, Double]]()

  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  /** Runs `f` with the recorder detached: the untraced half of a traced
    * run, whose p50 wall is the base of the tracing overhead.
    */
  def untraced[A](f: => A): A =
    if (tracer == null) f
    else {
      tracer.recorder.detach(ctx.spark)
      try f finally tracer.recorder.attach(ctx.spark)
    }

  /** Keeps a measured operation's wall under `phase` ("untraced" /
    * "traced"); their p50s give the tracing overhead.
    */
  def wall(phase: String, ms: Double): Unit =
    walls.getOrElseUpdate(phase, mutable.ArrayBuffer()) += ms

  /** Records one traced measured operation (request or job): its Spark
    * figures, its wall and its blocking-path self-time split.
    */
  def op(t: OpTrace): Unit = {
    Layers.sparkSums.foreach(n => add(n, t.sums(n)))
    add("entry.self_ms", t.self("entry.self_ms"))
    add("spark.sched_delay_ms", t.self("spark.sched_delay_ms"))
    wall("traced", t.wall)
    selfs += t.self
  }

  /** `IndexBuilder.build`; traced runs make the same two calls build makes
    * on a fresh directory (`buildStats`, then `buildPostings`) and time
    * them apart. Returns the wall in ms.
    */
  def build(docs: DataFrame, dir: String, cfg: IndexConfig): Double = {
    val spark = ctx.spark
    if (!ctx.traced) Stats.timed(IndexBuilder.build(spark, docs, dir, cfg))._2
    else {
      val (_, t) = tracer.op("index.build") {
        val (counts, st) = Stats.timed(IndexBuilder.buildStats(spark, docs, dir, cfg))
        val (_, pt) = Stats.timed(IndexBuilder.buildPostings(spark, dir, cfg,
          PostingIndex.readGlobals(spark, dir), Some(counts)))
        add("index.stats_s", st / 1000)
        add("index.postings_s", pt / 1000)
      }
      add("spark.spill_bytes", t.sums("spark.spill_bytes"))
      t.wall
    }
  }

  /** Layer figures taken from outside the measured path: query analysis,
    * DataFrame construction, and the posting blocks a query touches with
    * WAND over them in the driver. `handle` answers like the served index.
    */
  def replay(handle: PostingIndex, dir: String, q: Query, k: Int,
             construct: Boolean = true): Unit = {
    add("analysis.query_ms", Stats.timed(handle.queryTerms(q.text))._2)
    if (construct) add("index.construct_ms", Stats.timed(Layers.construct(handle, q, k))._2)
    val spark = ctx.spark
    def terms(s: String) = handle.queryTerms(s)
    val pos = (terms(q.must) ++ terms(q.text)).groupBy(_._1)
      .map { case (t, xs) => (t, xs.map(_._2).sum) }
    val not = terms(q.mustNot).map(_._1).toSet
    val all = (pos.keySet ++ not).toSeq
    if (all.nonEmpty) {
      val tbs = all.map(IndexFormat.termBucket(_, handle.globals.termBuckets)).distinct
      val blocks = spark.read.parquet(s"$dir/postings")
        .filter(col("tb").isin(tbs: _*) && col("term").isin(all: _*))
        .select("tb", "shard", "term", "block_id", "n", "max_doc", "max_w",
          "docs_bin", "wts_bin", "tfs_bin")
        .as(Encoders.product[BlockRow]).collect()
      add("search.blocks_per_query", blocks.length.toDouble)
      val must = terms(q.must).map(_._1).toSet
      add("search.wand_ms", Stats.timed {
        blocks.groupBy(_.shard).values.foreach { bs =>
          val it = bs.iterator
          (if (q.must.nonEmpty) Wand.topKBoolean(it, pos, must, not, k)
          else if (q.conj) Wand.topKConjunctive(it, pos, k)
          else Wand.topK(it, pos, k)).size
        }
      }._2)
    }
  }

  /** Per-layer figures that belong to the index and corpus as a whole. */
  def indexWide(dir: String, docs: DataFrame, contentCol: String): Unit = {
    val spark = ctx.spark
    val sample = docs.select(contentCol).limit(2000).as(Encoders.STRING).collect()
    Analyzer.default.analyze(sample.head) // class loading out of the timing
    val (toks, ms) = Stats.timed(sample.map(s => Analyzer.default.analyze(s).length.toLong).sum)
    add("analysis.tokens_per_s", toks / (ms / 1000))
    val contentBytes = docs.agg(sum(length(col(contentCol)))).head().getLong(0)
    add("index.bytes_per_input_byte", Manifest.totals(dir)._3.toDouble / contentBytes)
    // traced runs time a delete of a seeded 1% of ids on a hardlink clone,
    // so the delete layer has a figure on every workload's index
    if (!samples.contains("index.delete_s")) {
      val clone = ctx.path("delete-clone")
      IndexBuilder.cloneIndex(dir, clone)
      val ids = spark.read.parquet(s"$dir/doclist").sample(0.01, ctx.seed)
      add("index.delete_s", Stats.timed(IndexBuilder.delete(spark, ids, clone, "probe"))._2 / 1000)
    }
  }

  /** The p50 of every per-layer metric, the tracing overhead (traced minus
    * untraced p50 wall of the measured operation) and the ratio of the
    * summed per-layer self-time p50s to the traced p50 wall.
    */
  def report(result: Result): Unit = {
    if (tracer != null) tracer.recorder.detach(ctx.spark)
    val wallT = Stats.median(walls.getOrElse("traced", Nil).toSeq)
    val wallU = Stats.median(walls.getOrElse("untraced", Nil).toSeq)
    val selfP50 = Layers.selfNames.map(n => n -> Stats.median(selfs.map(_(n)).toSeq))
    val ratio = selfP50.map(_._2).sum / wallT
    System.err.println(f"[trace] ${selfs.size} traced ops, p50 wall $wallT%.1f ms " +
      f"(untraced $wallU%.1f ms); blocking-path self time p50s:")
    selfP50.foreach { case (n, v) => System.err.println(f"[trace]   $n%-22s $v%9.2f ms") }
    System.err.println(f"[trace]   sum / wall = $ratio%.3f")
    if (math.abs(ratio - 1) > 0.10)
      System.err.println("[trace] WARNING: self times do not sum to within 10% of the wall")
    add("trace.overhead_ms", wallT - wallU)
    Layers.metrics.foreach { case (n, unit) =>
      result.metric(n, samples.get(n).map(xs => Stats.median(xs.toSeq)).getOrElse(0.0), unit)
    }
    if (tracer != null && ctx.traceOut.nonEmpty) tracer.write(ctx.traceOut)
  }
}

object Layers {
  val sparkSums: Seq[String] = Seq("spark.jobs", "spark.stages", "spark.tasks",
    "spark.exec_run_ms", "spark.exec_cpu_ms", "spark.deser_ms",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.plan_ms",
    "index.scan_bytes")

  val selfNames: Seq[String] = Seq("entry.self_ms", "spark.plan_self_ms",
    "spark.sql_other_ms", "spark.sched_delay_ms", "spark.exec_busy_ms")

  /** Every per-layer metric, in BENCHMARK.json order. */
  val metrics: Seq[(String, String)] = Seq(
    "analysis.query_ms" -> "ms", "analysis.tokens_per_s" -> "tokens/s",
    "index.construct_ms" -> "ms", "spark.plan_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.sched_delay_ms" -> "ms", "spark.exec_run_ms" -> "ms",
    "spark.exec_cpu_ms" -> "ms", "spark.deser_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "index.open_s" -> "s", "index.scan_bytes" -> "bytes",
    "index.stats_s" -> "s", "index.postings_s" -> "s", "index.delete_s" -> "s",
    "index.bytes_per_input_byte" -> "ratio", "search.blocks_per_query" -> "count",
    "search.wand_ms" -> "ms", "index.hydrate_ms" -> "ms", "entry.self_ms" -> "ms",
    "trace.overhead_ms" -> "ms")

  /** The DataFrame-returning call `SearchServer` makes for the query's mode. */
  def construct(h: PostingIndex, q: Query, k: Int): DataFrame =
    if (q.must.nonEmpty || q.mustNot.nonEmpty) h.searchBooleanRounded(q.must, q.text, q.mustNot, k)
    else if (q.conj) h.searchConjunctive(q.text, k)
    else h.search(q.text, k)
}
