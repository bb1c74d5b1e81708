package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.search.{BM25, RelationalBM25, Wand}

/** Query-side handle on a built index (SURVEY.md EP2 rebuilt):
  *
  *  analyze(query) -> term buckets -> parquet scan pruned to
  *  `tb IN (buckets)` (directory pruning) and `term IN (query terms)`
  *  (row-group pruning via parquet min/max on the term column) ->
  *  per-shard block-max WAND top-k (each doc shard holds complete lists,
  *  so shard top-ks merge losslessly) -> global TakeOrderedAndProject.
  *
  * Scores are exact BM25 doubles, summed per doc in lexicographic term
  * order (SURVEY.md §7.6.1) — bit-identical to the single-node oracle.
  */
final class PostingIndex(spark: SparkSession, dir: String) {

  val globals: IndexGlobals = PostingIndex.readGlobals(spark, dir)

  private val analyzer: Analyzer =
    if (globals.stem) Analyzer.default else Analyzer.noStem(Analyzer.defaultStopWords)

  def queryTerms(query: String): Seq[(String, Double)] =
    if (query == null) Seq.empty
    else analyzer.analyze(query).toSeq.groupBy(identity).toSeq
      .map { case (t, xs) => (t, xs.size.toDouble) }.sortBy(_._1)

  /** Optional serving mode: pin the posting segments in executor memory
    * (columnar cache), hash-partitioned by `shard`. Filters on (tb, term)
    * still prune via in-memory batch stats; per-query parquet decode
    * disappears — the distributed analog of the reference's resident CSR
    * (main.rs:531-536), except partitioned across executors instead of one
    * heap. Because the cache is already clustered by shard, every
    * single-input search ([[perShard]]) plans as one stage with no
    * Exchange: cached scan -> filter -> sort -> per-shard WAND -> top-k.
    * A partition may hold several shards; nothing assumes one.
    */
  def preload(): this.type = {
    val df = postingsDF.repartition(globals.shards, col("shard"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.count() // materialize
    preloaded = Some(df)
    this
  }

  private var preloaded: Option[DataFrame] = None

  /** Releases executor-side state this handle pinned: the preloaded
    * postings cache and the tombstone-overlay broadcast's executor copies.
    * `unpersist`, never `destroy`: a DataFrame built from this handle
    * before close() captured the broadcast in its plan, and an in-flight
    * collect must keep working (an unpersisted broadcast is re-shipped on
    * demand; destroy() would fail those queries). Idempotent; the handle
    * itself stays fully usable.
    */
  def close(): Unit = {
    preloaded.foreach(_.unpersist())
    preloaded = None
    val bc = tombstonesBcRef
    if (bc != null) bc.unpersist()
  }

  private[index] def session: SparkSession = spark

  /** Serving-time delete overlay ([[IndexBuilder.delete]]): the distinct
    * tombstoned doc ids as a sorted array, broadcast once per index handle
    * and binary-searched inside the DAAT loops — a tombstoned doc never
    * occupies a top-k slot, while surviving docs keep their (pre-delete
    * statistics) scores bit-exactly. Memory: 8 B/id. The cap forces a
    * [[IndexBuilder.compact]] once the overlay stops being "small relative
    * to the index" — the same accumulate-then-merge contract as Lucene
    * deletes; at the cap the overlay is an 80 MB broadcast, far below a
    * posting shard, and past it compaction is cheaper than carrying the
    * overlay through every query.
    */
  private val tombstones: Array[Long] = {
    val p = java.nio.file.Paths.get(dir, "tombstones")
    if (!java.nio.file.Files.exists(p)) Array.emptyLongArray
    else {
      val arr = spark.read.parquet(p.toString).select("doc_id").distinct()
        .limit(PostingIndex.maxServedTombstones + 1)
        .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
      require(arr.length <= PostingIndex.maxServedTombstones,
        s"index $dir carries more than ${PostingIndex.maxServedTombstones} " +
          "tombstones; run IndexBuilder.compact before serving")
      java.util.Arrays.sort(arr)
      arr
    }
  }

  @volatile private var tombstonesBcRef
      : org.apache.spark.broadcast.Broadcast[Array[Long]] = null

  // lazily (re)broadcast so close() can destroy it without killing the handle
  private def tombstonesBc: org.apache.spark.broadcast.Broadcast[Array[Long]] =
    if (tombstones.isEmpty) null
    else {
      var bc = tombstonesBcRef
      if (bc == null) synchronized {
        bc = tombstonesBcRef
        if (bc == null) {
          bc = spark.sparkContext.broadcast(tombstones)
          tombstonesBcRef = bc
        }
      }
      bc
    }

  /** An entirely-empty corpus (or one whose docs produce no tokens) never
    * writes a postings dir; treat it as an empty segment table.
    */
  private def postingsDF: DataFrame = preloaded.getOrElse {
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "postings")))
      spark.read.parquet(s"$dir/postings")
    else {
      import spark.implicits._
      Seq.empty[BlockRow].toDF()
    }
  }

  /** Runs `daat` once per shard over the (tb, term)-pruned blocks of
    * `terms`. The grouping key is the `shard` COLUMN, so MapGroups asks for
    * clustering by shard: the preloaded cache already has it (no
    * Exchange), a parquet-backed handle plans exactly one Exchange.
    */
  private def perShard[U: Encoder](terms: Seq[String])(
      daat: Iterator[BlockRow] => Iterator[U]): Dataset[U] = {
    import spark.implicits._
    val tbs = terms.map(IndexFormat.termBucket(_, globals.termBuckets)).distinct
    postingsDF
      .filter(col("tb").isin(tbs: _*) && col("term").isin(terms: _*))
      .select("tb", "shard", "term", "block_id", "n", "max_doc", "max_w",
        "docs_bin", "wts_bin", "tfs_bin")
      .groupBy(col("shard")).as[Int, BlockRow]
      .flatMapGroups((_, rows) => daat(rows))
  }

  /** Top-k search -> DataFrame (doc_id, score), total order
    * (score desc, doc_id asc).
    */
  def search(query: String, k: Int): DataFrame =
    merged(query, k, conj = false) match {
      case None => emptyResult
      case Some(pool) =>
        pool.orderBy(col("score").desc, col("doc_id").asc).limit(k)
    }

  private def emptyResult: DataFrame =
    spark.emptyDataFrame.select(lit(0L).as("doc_id"), lit(0.0).as("score")).limit(0)

  /** The per-shard top-k pool (union of each shard's exact-score top k),
    * BEFORE the global order/limit — so callers can choose the final
    * ordering key (exact score, or rounded score for the cross-engine
    * oracle whose k-th boundary ties break on the ROUNDED value).
    */
  private def merged(query: String, k: Int, conj: Boolean): Option[DataFrame] = {
    val q = queryTerms(query)
    if (q.isEmpty) None else Some(mergedTerms(q, k, conj))
  }

  /** The pruned-scan + per-shard-WAND pool for an explicit weighted term
    * list; `allowBc`, when non-null, is a broadcast sorted id array that
    * candidates must belong to (the attribute-filter overlay — the
    * tombstone mechanism with the predicate inverted).
    */
  private def mergedTerms(q: Seq[(String, Double)], k: Int, conj: Boolean,
      allowBc: org.apache.spark.broadcast.Broadcast[Array[Long]] = null,
      afterScore: Double = Double.PositiveInfinity,
      afterDoc: Long = Long.MinValue)
      : DataFrame = {
    import spark.implicits._
    val qtf = q.toMap
    val exBc = tombstonesBc
    perShard(q.map(_._1)) { rows =>
      val ex = PostingIndex.combinedExclusion(
        if (exBc == null) null else exBc.value,
        if (allowBc == null) null else allowBc.value)
      if (conj) Wand.topKConjunctive(rows, qtf, k, ex)
      else Wand.topK(rows, qtf, k, ex, afterScore, afterDoc)
    }.toDF("doc_id", "score")
  }

  /** Deep pagination — the search_after contract: the top-k results
    * ranking STRICTLY AFTER the cursor `(afterScore, afterDoc)` in the
    * public rounded (score desc, doc_id asc) total order, so page N+1 is
    * this call with page N's last row as the cursor. Each shard's WAND
    * heap admits only post-cursor candidates: a deep page costs one
    * k-slot heap per shard exactly like the first page — never a
    * top-((N+1)·k) refetch, and never an OFFSET sort (which at 10^12 docs
    * would materialize every preceding page on one node). The cursor
    * compares in ROUNDED score space because that is the order the public
    * results (and the DuckDB twin) expose — a raw-space cursor would
    * disagree with the very rows the caller paged from.
    */
  def searchAfterRounded(query: String, k: Int, afterScore: Double,
                         afterDoc: Long): DataFrame =
    queryTerms(query) match {
      case q if q.isEmpty => emptyResult
      case q =>
        mergedTerms(q, k, conj = false, allowBc = null, afterScore, afterDoc)
          .withColumn("score", round(col("score"), 4))
          .orderBy(col("score").desc, col("doc_id").asc).limit(k)
    }

  /** Conjunctive (AND) variant: only documents containing EVERY query term
    * score (posting-list intersection, leapfrog DAAT). Beyond the
    * reference's OR-only semantics.
    */
  def searchConjunctive(query: String, k: Int): DataFrame =
    merged(query, k, conj = true) match {
      case None => emptyResult
      case Some(pool) =>
        pool.orderBy(col("score").desc, col("doc_id").asc).limit(k)
    }

  /** Oracle-comparable conjunctive form: see [[searchRounded]]. */
  def searchConjunctiveRounded(query: String, k: Int): DataFrame =
    merged(query, k, conj = true) match {
      case None => emptyResult
      case Some(pool) =>
        pool.withColumn("score", round(col("score"), 4))
          .orderBy(col("score").desc, col("doc_id").asc).limit(k)
    }

  /** Batch form: top-k for MANY queries in one Spark job — one pruned scan
    * over the union of all query terms, ONE shuffle keyed by shard alone
    * (blocks are NOT replicated per query: with overlapping query vocab a
    * per-(query, shard) key would duplicate every shared term's blocks
    * once per query), then every query's WAND runs inside its shard group
    * against the term-filtered slice. Amortizes scheduler latency across a
    * query set (offline eval / reranking workloads); each query's rows are
    * identical to [[search]]'s.
    * Returns (query_id, doc_id, score) ordered (query_id, score desc,
    * doc_id).
    */
  def searchMany(queries: Seq[String], k: Int): DataFrame =
    manyPool(queries, k) match {
      case None       => emptyManyResult
      case Some(pool) => rankPerQuery(pool, k)
    }

  /** Oracle-comparable batch form: per-query results identical to
    * [[searchRounded]] — 4-decimal rounding applied to the pooled
    * shard candidates BEFORE the per-query k-cut, so the cut happens in
    * the same (rounded desc, doc_id asc) total order the DuckDB twin
    * limits on ([[graft.search.OracleSql.bm25TopKMany]]).
    */
  def searchManyRounded(queries: Seq[String], k: Int): DataFrame =
    manyPool(queries, k) match {
      case None => emptyManyResult
      case Some(pool) =>
        rankPerQuery(pool.withColumn("score", round(col("score"), 4)), k)
    }

  /** The shared batch candidate pool: one pruned scan over the union of
    * all live queries' terms, ONE shuffle keyed by shard alone (none once
    * preloaded), every query's WAND run inside its shard group (blocks are NOT replicated
    * per query — see [[searchMany]]). Emits per-(query, shard) top-k
    * candidates (query_id, doc_id, score); None when no query survives
    * analysis. The query set rides a broadcast qtf map — the right call
    * up to ~10^4-10^5 reranking/eval queries; past that, use
    * [[searchManyTable]] (the query set as a relation).
    */
  private def manyPool(queries: Seq[String], k: Int): Option[DataFrame] = {
    import spark.implicits._
    val qTerms: Seq[(Int, Seq[(String, Double)])] =
      queries.zipWithIndex.map { case (q, i) => (i, queryTerms(q)) }
    val live = qTerms.filter(_._2.nonEmpty)
    if (live.isEmpty) return None
    val allTerms = live.flatMap(_._2.map(_._1)).distinct.sorted
    val qtfByQuery: Map[Int, Map[String, Double]] =
      live.map { case (qid, ts) => qid -> ts.toMap }.toMap
    val bQtf = spark.sparkContext.broadcast(qtfByQuery)
    val exBc = tombstonesBc
    Some(perShard(allTerms) { rows =>
      // materialize the shard's block slice once; every query reuses it
      val rs = rows.toArray
      val ex: Long => Boolean =
        if (exBc == null) null
        else { val a = exBc.value; d => java.util.Arrays.binarySearch(a, d) >= 0 }
      bQtf.value.iterator.flatMap { case (qid, qtf) =>
        Wand.topK(rs.iterator.filter(r => qtf.contains(r.term)), qtf, k, ex)
          .map { case (d, s) => (qid.toLong, d, s) }
      }
    }.toDF("query_id", "doc_id", "score"))
  }

  private def emptyManyResult: DataFrame =
    spark.emptyDataFrame.select(lit(0L).as("query_id"),
      lit(0L).as("doc_id"), lit(0.0).as("score")).limit(0)

  /** Per-query k-cut over a (query_id, doc_id, score) candidate pool:
    * row_number in (score desc, doc_id asc) within each query — ONE
    * shuffle partitioned by query_id carrying at most shards*k rows per
    * query, fully parallel across queries (never a global sort).
    */
  private def rankPerQuery(pool: DataFrame, k: Int): DataFrame =
    pool.withColumn("rk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
        .orderBy(col("score").desc, col("doc_id").asc)))
      .filter(col("rk") <= k).drop("rk")
      .orderBy(col("query_id"), col("score").desc, col("doc_id").asc)

  /** Offline-evaluation batch search — the query set as a RELATION
    * (`queries`: columns (query_id: long, query: string)), for workloads
    * where it is too large to broadcast or even to hold on the driver
    * (scoring a 10^6-query eval/click log against the full index). Output
    * rows are identical to [[searchManyRounded]] per query.
    *
    * Scale shape (how 10^6 queries x 10^12 docs stays one pipeline):
    *
    *  1. queries are analyzed DISTRIBUTEDLY with the index's own chain
    *     (qt = (query_id, term, qtf) — no driver tokenization, no
    *     collect);
    *  2. queries hash into `queryBatches` groups (pmod(query_id, B));
    *     posting blocks inner-join the DISTINCT (term, qbatch) relation,
    *     so a block is replicated once per query-BATCH that needs its
    *     term — bounded by B, never by |queries| (a hot shared term would
    *     otherwise fan out once per query);
    *  3. the qt relation replicates per index shard (|qt| * shards small
    *     rows — linear, and postings dominate it by orders of magnitude)
    *     and cogroups with the batched blocks on (shard, qbatch): each
    *     task holds ONE batch's qtf maps plus ONE shard's term-filtered
    *     block slice, and runs every batch query's WAND over it —
    *     task memory is O(batch + slice) regardless of |queries|;
    *  4. the per-query k-cut is [[rankPerQuery]]'s window — one shuffle
    *     on query_id over <= shards*k candidate rows per query.
    *
    * Tune B so a batch's qtf maps fit a task comfortably (|queries|/B ~
    * 10^3) — larger B costs block replication, smaller B costs task
    * memory. The tombstone overlay composes like every search path.
    * Analysis-empty queries contribute no output rows (same contract as
    * [[searchManyRounded]]); `query_id` must be unique — duplicate ids
    * MERGE their term multisets into one query (the groupBy sums qtf
    * across rows sharing an id).
    */
  def searchManyTable(queries: DataFrame, k: Int,
                      queryBatches: Int = 64): DataFrame = {
    import spark.implicits._
    val b = math.max(1, queryBatches)
    val an = analyzer
    val analyzeQ = udf((s: String) => an.analyze(s))
    // NULL query strings (reachable through any relational input) drop
    // like analysis-empty queries — never reach the analyzer UDF
    val qt = queries
      .filter(col("query").isNotNull)
      .select(col("query_id").cast("long").as("query_id"),
        explode(analyzeQ(col("query"))).as("term"))
      .groupBy("query_id", "term")
      .agg(count(lit(1)).cast("double").as("qtf"))
      .withColumn("qbatch", pmod(col("query_id"), lit(b.toLong)).cast("int"))
    val termBatches = qt.select("term", "qbatch").distinct()
    val blocksK = postingsDF
      .select("tb", "shard", "term", "block_id", "n", "max_doc", "max_w",
        "docs_bin", "wts_bin", "tfs_bin")
      .join(termBatches, "term")
      .select(col("qbatch").as("_1"),
        struct(col("tb"), col("shard"), col("term"), col("block_id"),
          col("n"), col("max_doc"), col("max_w"), col("docs_bin"),
          col("wts_bin"), col("tfs_bin")).as("_2"))
      .as[(Int, BlockRow)]
      .groupByKey { case (qb, blk) => (blk.shard, qb) }
    val shardIds = (0 until globals.shards).toArray
    val qtK = qt
      .select(explode(lit(shardIds)).as("_1"), col("qbatch").as("_2"),
        col("query_id").as("_3"), col("term").as("_4"), col("qtf").as("_5"))
      .as[(Int, Int, Long, String, Double)]
      .groupByKey(r => (r._1, r._2))
    val kk = k
    val exBc = tombstonesBc
    val pool = blocksK.cogroup(qtK) { case (_, bIt, qIt) =>
      val qts = qIt.toArray
      if (qts.isEmpty) Iterator.empty
      else {
        val rs = bIt.map(_._2).toArray
        if (rs.isEmpty) Iterator.empty
        else {
          val ex: Long => Boolean =
            if (exBc == null) null
            else { val a = exBc.value; d => java.util.Arrays.binarySearch(a, d) >= 0 }
          qts.groupBy(_._3).iterator.flatMap { case (qid, rows) =>
            val qtf = rows.map(r => (r._4, r._5)).toMap
            Wand.topK(rs.iterator.filter(r => qtf.contains(r.term)), qtf, kk, ex)
              .map { case (d, s) => (qid, d, s) }
          }
        }
      }
    }.toDF("query_id", "doc_id", "score")
    rankPerQuery(pool.withColumn("score", round(col("score"), 4)), k)
  }

  /** Oracle-comparable form: 4-decimal rounded scores (cross-engine float
    * tolerance). The rounding happens BEFORE the final order/limit — the
    * DuckDB twin limits on `round(sum(w), 4) DESC, doc_id`, so two docs
    * whose exact scores differ but round equal at the k-th boundary must be
    * cut by (rounded, doc_id), not by exact score (mirrors
    * RelationalBM25.topK, which rounds inside the aggregation).
    */
  def searchRounded(query: String, k: Int): DataFrame =
    merged(query, k, conj = false) match {
      case None => emptyResult
      case Some(pool) =>
        pool.withColumn("score", round(col("score"), 4))
          .orderBy(col("score").desc, col("doc_id").asc).limit(k)
    }

  /** J2 hydration: join winners back to document attributes. */
  def hydrate(topk: DataFrame, docs: DataFrame): DataFrame =
    RelationalBM25.hydrate(topk, docs)

  /** SOURCE-DIVERSIFIED serving search (the SERP host-collapse on the
    * index path): retrieve the exact rounded top-`candidates` page
    * ([[searchRounded]]'s gated contract), hydrate each candidate's
    * `attrCol` through a broadcast join (<= candidates rows broadcast, the
    * attribute relation streamed with a 2-column pruned scan — the J2
    * shape), cap at `perSource` per attribute value via one row_number
    * window over the <= candidates-row page, and re-cut the top k.
    *
    * Contract: this DIVERSIFIES THE RETRIEVED PAGE (Elasticsearch
    * field-collapse semantics) — deterministic and oracle-gatable because
    * the page is itself a total-order cut, but a source that dominates
    * beyond `candidates` positions can under-fill k. The exact global form
    * (cap applied to ALL scoring docs) is
    * [[graft.search.RelationalBM25.topKDiverse]]; the two coincide
    * whenever `candidates` covers every scoring doc, which the spec pins.
    * Serving chooses the page form because the global form's window input
    * is the full candidate set — an offline plan, not a latency one.
    */
  def searchDiverseRounded(query: String, k: Int, docAttrs: DataFrame,
                           perSource: Int, candidates: Int,
                           attrCol: String = "source"): DataFrame = {
    require(perSource >= 1, s"perSource must be >= 1, got $perSource")
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val page = searchRounded(query, candidates)
    val bySrc = org.apache.spark.sql.expressions.Window
      .partitionBy(attrCol).orderBy(col("score").desc, col("doc_id").asc)
    broadcast(page)
      .join(docAttrs.select(col("doc_id").cast("long").as("doc_id"),
        col(attrCol)), "doc_id")
      .withColumn("rn", row_number().over(bySrc))
      .filter(col("rn") <= perSource)
      .select(col("doc_id"), col("score"), col(attrCol))
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
  }

  // ---------------------------------------------------------------------
  // Attribute-filtered search (`lang:scala`-style restriction)
  // ---------------------------------------------------------------------

  /** Top-k restricted to documents in `allowed` (a one-column DataFrame of
    * doc ids, e.g. `corpus.filter($"lang" === "scala").select("doc_id")` —
    * the predicate pushes to the corpus scan). Lucene filter-query
    * semantics: IDF/avgdl stay CORPUS-global; the filter restricts which
    * documents may occupy a top-k slot, never a surviving doc's score.
    *
    * Two physical strategies, chosen by the materialized filter size:
    *  - |allowed| <= broadcastCap: the sorted id array broadcasts and the
    *    per-shard DAAT loops binary-search it at candidate time — the
    *    tombstone-overlay plan with the predicate inverted (selective
    *    filters: one small job to materialize the ids, then the standard
    *    pruned-scan WAND plan);
    *  - larger: the ids are keyed by the SAME docShard hash the postings
    *    are sharded by and COGROUPED with the posting blocks, so every
    *    shard's WAND sees exactly its slice of the filter. Nothing reaches
    *    the driver and the filter shuffles once however large it is — the
    *    100-TB path for non-selective filters; a task holds at most
    *    |allowed|/shards ids (8 B each), bounded by docs-per-shard, which
    *    the build already sizes to executor memory.
    *
    * WAND pruning stays exact under the overlay: block-max upper bounds
    * remain valid bounds for the surviving candidates (same argument as
    * the tombstone overlay).
    */
  def searchFiltered(query: String, k: Int, allowed: DataFrame,
                     broadcastCap: Int = PostingIndex.filterBroadcastCap): DataFrame =
    filteredPool(query, k, allowed, broadcastCap) match {
      case None => emptyResult
      case Some(pool) =>
        pool.orderBy(col("score").desc, col("doc_id").asc).limit(k)
    }

  /** Oracle-comparable form of [[searchFiltered]]: 4-dp rounding before the
    * k-cut (see [[searchRounded]]).
    */
  def searchFilteredRounded(query: String, k: Int, allowed: DataFrame,
                            broadcastCap: Int = PostingIndex.filterBroadcastCap): DataFrame =
    filteredPool(query, k, allowed, broadcastCap) match {
      case None => emptyResult
      case Some(pool) =>
        pool.withColumn("score", round(col("score"), 4))
          .orderBy(col("score").desc, col("doc_id").asc).limit(k)
    }

  private def filteredPool(query: String, k: Int, allowed: DataFrame,
                           broadcastCap: Int): Option[DataFrame] = {
    import spark.implicits._
    val q = queryTerms(query)
    if (q.isEmpty) return None
    val ids = allowed.select(col(allowed.columns.head).cast("long")).as[Long]
    // size probe: limit(cap+1) short-circuits — never a full count job
    val probe = ids.limit(math.max(broadcastCap, 0) + 1).collect()
    if (probe.length <= broadcastCap) {
      if (probe.isEmpty) return None
      java.util.Arrays.sort(probe)
      val bc = spark.sparkContext.broadcast(probe)
      Some(mergedTerms(q, k, conj = false, allowBc = bc))
    } else Some(cogroupFilteredPool(q, k, ids))
  }

  /** The sharded filter path: allowed ids cogrouped with posting blocks on
    * the build's docShard key.
    */
  private def cogroupFilteredPool(q: Seq[(String, Double)], k: Int,
                                  ids: org.apache.spark.sql.Dataset[Long]): DataFrame = {
    import spark.implicits._
    val terms = q.map(_._1)
    val tbs = terms.map(IndexFormat.termBucket(_, globals.termBuckets)).distinct
    val qtf = q.toMap
    val kk = k
    val shardsN = globals.shards
    val blocks = postingsDF
      .filter(col("tb").isin(tbs: _*) && col("term").isin(terms: _*))
      .select("tb", "shard", "term", "block_id", "n", "max_doc", "max_w",
        "docs_bin", "wts_bin", "tfs_bin")
      .as[BlockRow]
    val exBc = tombstonesBc
    blocks.groupByKey(_.shard)
      .cogroup(ids.groupByKey(IndexFormat.docShard(_, shardsN))) {
        (_, rows, shardIds) =>
          val allow = shardIds.toArray
          if (allow.isEmpty) Iterator.empty
          else {
            java.util.Arrays.sort(allow)
            val ex = PostingIndex.combinedExclusion(
              if (exBc == null) null else exBc.value, allow)
            Wand.topK(rows, qtf, kk, ex)
          }
      }
      .toDF("doc_id", "score")
  }

  // ---------------------------------------------------------------------
  // Prefix (dictionary-expansion) search (`tok*`-style)
  // ---------------------------------------------------------------------

  /** Top-k for a term PREFIX: the index vocabulary is expanded to the
    * `maxExpansions` highest-df terms starting with `prefix` (ties break
    * term-ascending — fully deterministic), and the expansion set scores
    * as a disjunctive query with weight 1 per matched term (Lucene
    * multi-term-query-with-scoring semantics). The expansion scan prunes
    * via parquet min/max on the `term` column (StringStartsWith pushes);
    * df comes from the block-level `n` counters — no posting decode.
    *
    * Expansion df counts include tombstoned postings until a compact
    * (same contract as every other index statistic under the overlay).
    */
  def searchPrefixRounded(prefix: String, k: Int,
                          maxExpansions: Int = PostingIndex.defaultMaxExpansions): DataFrame = {
    val p = prefix.toLowerCase(java.util.Locale.ROOT)
    require(p.nonEmpty && p.forall(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')),
      s"prefix must be non-empty [a-z0-9]+, got '$prefix'")
    import spark.implicits._
    val expansions: Seq[(String, Double)] = postingsDF
      .filter(col("term").startsWith(p))
      .groupBy("term").agg(sum(col("n")).cast("long").as("df"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(maxExpansions)
      .select("term").as[String].collect().toSeq
      .map(t => (t, 1.0))
    if (expansions.isEmpty) emptyResult
    else {
      mergedTerms(expansions.sortBy(_._1), k, conj = false)
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("score").desc, col("doc_id").asc).limit(k)
    }
  }

  /** Wildcard query (`s*a?` style): the vocabulary expands to the
    * `maxExpansions` highest-df terms matching the pattern (`*` = any
    * run, `?` = one char; ties term-ascending), each scoring with
    * weight 1 — the [[searchPrefixRounded]] multi-term contract with a
    * LIKE probe instead of a prefix probe (SQL LIKE is the shared
    * cross-engine pattern language: `*`→`%`, `?`→`_`, and the vocabulary
    * is [a-z0-9]+ so no escaping exists). A LEADING wildcard is rejected
    * (Lucene's default posture: it forces a full-dictionary scan with no
    * prefix pruning; the literal head keeps parquet min/max row-group
    * pruning on `term` live).
    */
  def searchWildcardRounded(pattern: String, k: Int,
                            maxExpansions: Int = PostingIndex.defaultMaxExpansions): DataFrame = {
    val p = pattern.toLowerCase(java.util.Locale.ROOT)
    require(p.nonEmpty && p.forall(c =>
        (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '*' || c == '?'),
      s"wildcard pattern must be [a-z0-9*?]+, got '$pattern'")
    require((p.head >= 'a' && p.head <= 'z') || (p.head >= '0' && p.head <= '9'),
      s"leading wildcard rejected (full-dictionary scan): '$pattern'")
    val like = p.replace("*", "%").replace("?", "_")
    import spark.implicits._
    val expansions: Seq[(String, Double)] = postingsDF
      .filter(col("term").like(like))
      .groupBy("term").agg(sum(col("n")).cast("long").as("df"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(maxExpansions)
      .select("term").as[String].collect().toSeq
      .map(t => (t, 1.0))
    if (expansions.isEmpty) emptyResult
    else {
      mergedTerms(expansions.sortBy(_._1), k, conj = false)
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("score").desc, col("doc_id").asc).limit(k)
    }
  }

  // ---------------------------------------------------------------------
  // Fuzzy (edit-distance dictionary-expansion) search (`tok~`-style)
  // ---------------------------------------------------------------------

  /** Top-k for a MISSPELLED term: the index vocabulary is expanded to the
    * `maxExpansions` highest-df terms within Levenshtein distance
    * `maxEdits` of `term` (ties term-ascending — fully deterministic), and
    * the expansion scores as a disjunctive query with weight 1 per matched
    * term — the same multi-term-query semantics as [[searchPrefixRounded]].
    * An exact vocabulary hit (distance 0) is always inside the band and
    * competes on df like any other expansion (no special-case boost: the
    * deterministic cross-engine contract beats Lucene's similarity boost).
    *
    * The dictionary scan is a column-pruned pass over (term, n) with a
    * codegen'd length-band prefilter (`|len(t) - len(term)| <= maxEdits`
    * is implied by the distance bound, and rejects most of the vocabulary
    * before the O(len^2) `levenshtein` evaluates) followed by map-side
    * partial df aggregation — at 10^12 docs this touches the vocabulary,
    * not the postings; a Levenshtein-automaton dictionary is the upgrade
    * path if fuzzy volume ever dominates. Expansion df counts include
    * tombstoned postings until a compact (same contract as every other
    * index statistic under the overlay).
    */
  def searchFuzzyRounded(term: String, k: Int, maxEdits: Int = 1,
                         maxExpansions: Int = PostingIndex.defaultMaxExpansions): DataFrame = {
    import spark.implicits._
    val expansions: Seq[(String, Double)] =
      suggest(term, maxEdits, maxExpansions)
        .select("term").as[String].collect().toSeq
        .map(x => (x, 1.0))
    if (expansions.isEmpty) emptyResult
    else {
      mergedTerms(expansions.sortBy(_._1), k, conj = false)
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("score").desc, col("doc_id").asc).limit(k)
    }
  }

  /** Query-time synonym expansion (the Lucene synonym-filter surface, as
    * a deterministic cross-engine contract): each analyzed query term t
    * contributes itself plus its synonyms from the `synonyms` relation
    * (columns (term, syn), values lowercase [a-z0-9]+ index vocabulary),
    * every expanded term carrying t's qtf; a term reachable from several
    * query terms — or itself a query term — SUMS its weights (the same
    * additive merge as boolean clauses and repeated query words). At most
    * `maxExpansionsPerTerm` synonyms per term, deterministic (syn asc)
    * cap. A synonym absent from the corpus vocabulary has no postings and
    * contributes nothing — in both engines, so normalization mismatches
    * self-neutralize rather than diverge.
    *
    * Scale shape: the synonyms relation is a CATALOG table at 10^12 docs;
    * the lookup is a pushed-filter probe (`term IN` the query's few
    * terms) collecting a |query|·cap-bounded expansion — never a scan of
    * the synonym table into the driver, never a join against postings.
    */
  def searchSynonymsRounded(query: String, synonyms: DataFrame, k: Int,
                            maxExpansionsPerTerm: Int = 8): DataFrame = {
    val q = queryTerms(query)
    if (q.isEmpty) return emptyResult
    val qtf = q.toMap
    val terms = q.map(_._1)
    // the per-term cap is applied INSIDE the plan (row_number window over
    // the probed rows) so the collect is |query|*cap-bounded by
    // construction — a hot term with a catalog's worth of synonyms never
    // reaches the driver (the window mirrors the oracle twin's SQL)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("term").orderBy("syn")
    val rows = synonyms
      .filter(col("term").isin(terms: _*))
      .select("term", "syn").distinct()
      .withColumn("rn", row_number().over(win))
      .filter(col("rn") <= maxExpansionsPerTerm)
      .select("term", "syn").collect()
      .map(r => (r.getString(0), r.getString(1)))
    rows.foreach { case (_, s) =>
      require(s.nonEmpty && s.forall(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')),
        s"synonym must be lowercase [a-z0-9]+, got '$s'") }
    val expanded: Seq[(String, Double)] = rows.toSeq
      .groupBy(_._1).toSeq
      .flatMap { case (t, ss) =>
        ss.map(_._2).distinct.sorted.map(s => (s, qtf(t)))
      }
    val merged = (q ++ expanded).groupBy(_._1).toSeq
      .map { case (t, xs) => (t, xs.map(_._2).sum) }.sortBy(_._1)
    mergedTerms(merged, k, conj = false)
      .withColumn("score", round(col("score"), 4))
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
  }

  /** Did-you-mean term suggestions: the `maxSuggestions` index-vocabulary
    * terms within Levenshtein distance `maxEdits` of `term`, ranked
    * (df desc, term asc) — the same deterministic dictionary probe
    * [[searchFuzzyRounded]] expands through, exposed as its own surface
    * (term, df) for spell-correction UIs. Same scale posture as the
    * fuzzy probe: a column-pruned vocabulary pass, never a postings
    * decode; df counts include tombstoned postings until a compact.
    */
  def suggest(term: String, maxEdits: Int = 1,
              maxSuggestions: Int = PostingIndex.defaultMaxExpansions): DataFrame = {
    val t = term.toLowerCase(java.util.Locale.ROOT)
    require(t.nonEmpty && t.forall(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')),
      s"suggest term must be non-empty [a-z0-9]+, got '$term'")
    require(maxEdits >= 0 && maxEdits <= 2, s"maxEdits must be 0..2, got $maxEdits")
    postingsDF
      .filter(abs(length(col("term")) - lit(t.length)) <= maxEdits &&
        levenshtein(col("term"), lit(t)) <= maxEdits)
      .groupBy("term").agg(sum(col("n")).cast("long").as("df"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(maxSuggestions)
  }

  // ---------------------------------------------------------------------
  // Boolean queries (must / should / must-not)
  // ---------------------------------------------------------------------

  /** Top-k for a BOOLEAN query — the Lucene BooleanQuery surface: a live
    * document matches iff it contains EVERY analyzed `must` term and NONE
    * of the `mustNot` terms (with `must` empty: iff it contains ≥ 1
    * `should` term); its score sums the BM25 contributions of ALL
    * positive (must ∪ should) terms it contains, qtf-weighted by each
    * term's occurrence count within its clause (a term in both clauses
    * accumulates both weights — the same additive contract as a repeated
    * query word in [[search]]). A term that is both positive and negated
    * can never match (the negation wins), and `must`/`should` both empty
    * is rejected: a pure-negation query would enumerate the corpus.
    *
    * Scale shape: ONE (tb, term)-pruned scan over must ∪ should ∪ mustNot
    * posting blocks, one shuffle keyed by shard (none once preloaded),
    * then a single-pass boolean DAAT per shard ([[Wand.topKBoolean]]):
    * leapfrog over the must lists (or WAND over should), should lists
    * probed forward at aligned targets, must-not lists probed forward as
    * O(1)-memory exclusion cursors — no broadcast of the must-not doc set (which for
    * a frequent negated term would be corpus-sized), no second shuffle,
    * no decode of skipped blocks. Composes with the tombstone overlay.
    */
  def searchBooleanRounded(must: String, should: String, mustNot: String,
                           k: Int): DataFrame = {
    import spark.implicits._
    val mustQ = queryTerms(must)
    val shouldQ = queryTerms(should)
    val notTerms = queryTerms(mustNot).map(_._1).toSet
    require(mustQ.nonEmpty || shouldQ.nonEmpty,
      "boolean query needs >= 1 surviving must or should term " +
        "(a pure-negation query would enumerate the corpus)")
    // positive weights merge across clauses (term-keyed qtf sums) so the
    // engine and the SQL twin see the identical qt relation
    val posQtf: Map[String, Double] = (mustQ ++ shouldQ)
      .groupBy(_._1).map { case (t, xs) => (t, xs.map(_._2).sum) }
    val mustSet = mustQ.map(_._1).toSet
    val exBc = tombstonesBc
    perShard((posQtf.keySet ++ notTerms).toSeq.sorted) { rows =>
      val ex = PostingIndex.combinedExclusion(
        if (exBc == null) null else exBc.value, null)
      Wand.topKBoolean(rows, posQtf, mustSet, notTerms, k, ex)
    }.toDF("doc_id", "score")
      .withColumn("score", round(col("score"), 4))
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
  }

  // ---------------------------------------------------------------------
  // More-like-this (document-as-query)
  // ---------------------------------------------------------------------

  /** Top-k documents most similar to SOURCE document `docId` (the Lucene
    * MoreLikeThis surface rebuilt): the source content is re-analyzed
    * through the index's own analyzer, its terms ranked
    * (tf desc, df asc, term asc) — "frequent in the doc, rare in the
    * corpus", an INTEGER-only ordering so the cross-engine expansion is
    * exactly reproducible (Lucene's float tf·idf boost heuristic trades
    * that determinism away) — capped to `maxTerms`, and the capped profile
    * runs as a disjunctive weighted query with qtf = the term's tf in the
    * source (the same weight a repeated query word gets in [[search]]).
    * The source document itself never occupies a result slot: the pool
    * asks for k+1 candidates so dropping the source still leaves an exact
    * top-k (if the source is tombstoned the overlay already dropped it and
    * the post-filter is a no-op).
    *
    * Scale shape: the content fetch is ONE pushed point lookup (the S9
    * plan), the df probe a pruned (tb, term)-sliced dictionary pass over
    * (term, n) — both bounded by a single document's vocabulary, never the
    * corpus — and the scored search is the standard pruned-scan per-shard
    * WAND. Profile df counts include tombstoned postings until a compact
    * (the overlay statistics contract).
    */
  def searchMoreLikeThisRounded(docId: Long, k: Int, docs: DataFrame,
                                maxTerms: Int = PostingIndex.defaultMaxExpansions): DataFrame = {
    require(maxTerms > 0, s"maxTerms must be positive, got $maxTerms")
    import spark.implicits._
    val content = docs.filter(col("docId") === docId)
      .select(col("content").cast("string")).limit(2).as[String].collect()
    require(content.length == 1,
      s"docId $docId matched ${content.length} corpus rows (want exactly 1)")
    val tf: Map[String, Long] = analyzer.analyze(content(0))
      .groupBy(identity).map { case (t, xs) => (t, xs.size.toLong) }
    if (tf.isEmpty) return emptyResult
    val terms = tf.keys.toSeq
    val tbs = terms.map(IndexFormat.termBucket(_, globals.termBuckets)).distinct
    val dfByTerm: Map[String, Long] = postingsDF
      .filter(col("tb").isin(tbs: _*) && col("term").isin(terms: _*))
      .groupBy("term").agg(sum(col("n")).cast("long").as("df"))
      .as[(String, Long)].collect().toMap
    // terms absent from the dictionary (possible when the corpus frame
    // outruns the index) carry no signal — drop, like a stop word
    val profile: Seq[(String, Double)] = terms
      .filter(dfByTerm.contains)
      .sortBy(t => (-tf(t), dfByTerm(t), t))
      .take(maxTerms)
      .map(t => (t, tf(t).toDouble))
    if (profile.isEmpty) emptyResult
    else
      mergedTerms(profile.sortBy(_._1), k + 1, conj = false)
        .filter(col("doc_id") =!= docId)
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("score").desc, col("doc_id").asc).limit(k)
  }

  // ---------------------------------------------------------------------
  // Score explanation (per-term breakdown for one (query, document) pair)
  // ---------------------------------------------------------------------

  /** Per-term BM25 breakdown of `docId`'s score for `query` — the Lucene
    * `explain` surface: one row per query term PRESENT in the document,
    * (term, qtf, tf, df, idf, contrib) with contrib = the baked posting
    * weight × qtf, ordered by term. The breakdown reads the INDEX content
    * itself — tf and the weight decode from the document's posting
    * entries, df aggregates the term's block counters across shards — so
    * gating it against the corpus-derived oracle pins per-(term, doc)
    * index bytes, a strictly finer check than any top-k (idf recomputes
    * from (N, df) by the pinned formula; sum(contrib) is the document's
    * [[search]] score by construction). A tombstoned document explains to
    * an empty frame — it can never occupy a result slot.
    *
    * Plan: the usual (tb, term)-pruned slice; df is a map-side partial agg
    * over block counters (NO posting decode); only blocks in the
    * document's OWN shard whose max_doc bound admits the doc decode. Both
    * collects are bounded by the query's term count.
    */
  def explainScore(query: String, docId: Long): DataFrame = {
    import spark.implicits._
    def emptyExplain = spark.emptyDataFrame.select(
      lit("").as("term"), lit(0.0).as("qtf"), lit(0L).as("tf"),
      lit(0L).as("df"), lit(0.0).as("idf"), lit(0.0).as("contrib")).limit(0)
    val q = queryTerms(query)
    if (q.isEmpty) return emptyExplain
    if (tombstones.nonEmpty &&
      java.util.Arrays.binarySearch(tombstones, docId) >= 0) return emptyExplain
    val terms = q.map(_._1)
    val tbs = terms.map(IndexFormat.termBucket(_, globals.termBuckets)).distinct
    val slice = postingsDF
      .filter(col("tb").isin(tbs: _*) && col("term").isin(terms: _*))
    val dfByTerm: Map[String, Long] = slice
      .groupBy("term").agg(sum(col("n")).cast("long").as("df"))
      .as[(String, Long)].collect().toMap
    val sh = IndexFormat.docShard(docId, globals.shards)
    val hits: Seq[(String, Long, Double)] = slice
      .filter(col("shard") === sh && col("max_doc") >= docId)
      .select("tb", "shard", "term", "block_id", "n", "max_doc", "max_w",
        "docs_bin", "wts_bin", "tfs_bin")
      .as[BlockRow]
      .flatMap { r =>
        val ids = Codec.decodeDocIds(r.docs_bin, r.n)
        val i = java.util.Arrays.binarySearch(ids, docId)
        if (i < 0) Iterator.empty
        else Iterator.single((r.term,
          Codec.decodeVarLongs(r.tfs_bin, r.n)(i),
          Codec.decodeDoubles(r.wts_bin)(i)))
      }.collect().toSeq
    val qtf = q.toMap
    val n = globals.nDocs.toDouble
    hits.sortBy(_._1)
      .map { case (t, tf, w) =>
        (t, qtf(t), tf, dfByTerm(t), BM25.idf(n, dfByTerm(t).toDouble),
          w * qtf(t))
      }
      .toDF("term", "qtf", "tf", "df", "idf", "contrib")
      // Spark round (not driver-side rint): the cross-engine rounding
      // convention every other gate uses
      .withColumn("idf", round(col("idf"), 4))
      .withColumn("contrib", round(col("contrib"), 4))
  }

  // ---------------------------------------------------------------------
  // Facet counts over the disjunctive match set
  // ---------------------------------------------------------------------

  /** For each value of `facetCol` in `docs`, the number of LIVE documents
    * matching `query` disjunctively (>= 1 surviving analyzed term) — the
    * aggregation a search UI renders next to the ranked list. Statistics
    * are counts, not scores, so tombstones are excluded outright (a
    * deleted doc must not inflate a facet) while df/avgdl play no part.
    *
    * Physical plan: the posting slice prunes by (tb, term) exactly like a
    * search, per-block doc ids decode map-side, `distinct` is one shuffle
    * keyed on doc_id (the match set — bounded by the query's selectivity,
    * not the corpus), the attribute join is an equi-join on doc_id that
    * AQE broadcasts when the match set is small, and the final count is a
    * map-side-partial groupBy over `facetCol`. Nothing is collected.
    */
  def facetCounts(query: String, docs: DataFrame, facetCol: String): DataFrame = {
    import spark.implicits._
    val terms = queryTerms(query).map(_._1)
    val facets = docs.select(col("docId").as("doc_id"),
      col(facetCol).cast("string").as("facet"))
    if (terms.isEmpty)
      return facets.limit(0).groupBy("facet").agg(count("*").as("n_docs"))
    matchedDocIds(terms).join(facets, "doc_id")
      .groupBy("facet").agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("facet").asc)
  }

  /** The LIVE disjunctive match set of `terms` as a (doc_id) frame: the
    * posting slice prunes by (tb, term), per-block doc ids decode
    * map-side with tombstones excluded at decode time, `distinct` is one
    * shuffle on the match set (query-selectivity-bounded, not
    * corpus-bounded). Shared by [[facetCounts]] and [[significantTerms]].
    */
  private def matchedDocIds(terms: Seq[String]): DataFrame = {
    import spark.implicits._
    val tbs = terms.map(IndexFormat.termBucket(_, globals.termBuckets)).distinct
    val exBc = tombstonesBc
    postingsDF
      .filter(col("tb").isin(tbs: _*) && col("term").isin(terms: _*))
      .select(col("n"), col("docs_bin"))
      .as[(Int, Array[Byte])]
      .flatMap { case (n, bin) =>
        val ids = Codec.decodeDocIds(bin, n)
        if (exBc == null) ids
        else {
          val ex = exBc.value
          ids.filter(d => java.util.Arrays.binarySearch(ex, d) < 0)
        }
      }
      .toDF("doc_id")
      .distinct()
  }

  /** The `maxTerms` most DISTINCTIVE terms of the documents matching
    * `query` disjunctively, against the whole corpus as background — the
    * search-UI "significant terms" aggregation: one row per term present
    * in the match set, (term, fg_df, bg_df, lift) with
    * lift = (fg_df / |M|) / (bg_df / N) — the foreground/background
    * document-frequency ratio — ordered (lift desc rounded 6 dp, term
    * asc). The match set M is LIVE (tombstones excluded); the background
    * df is the index STATISTIC (includes tombstoned postings until a
    * compact — the overlay statistics contract every ranking shares).
    *
    * Cost shape: the match set is the usual pruned decode, but the
    * foreground pass joins the index's materialized tf relation
    * (column-pruned to (doc_id, term)) against the match set — a full tf
    * scan per call, like every engine's significant-terms (the aggregation
    * is definitionally over every term of the matched docs, which the
    * term-keyed postings cannot prune). AQE broadcasts the match set when
    * the query is selective; the background df joins the tiny stats
    * relation. An analytics-tier operator, not a serving-path one.
    */
  def significantTerms(query: String, maxTerms: Int): DataFrame = {
    require(maxTerms > 0, s"maxTerms must be positive, got $maxTerms")
    def emptySig = spark.emptyDataFrame.select(
      lit("").as("term"), lit(0L).as("fg_df"), lit(0L).as("bg_df"),
      lit(0.0).as("lift")).limit(0)
    val terms = queryTerms(query).map(_._1)
    if (terms.isEmpty) return emptySig
    val matched = matchedDocIds(terms)
    val m = matched.count().toDouble
    if (m == 0) return emptySig
    val n = globals.nDocs.toDouble
    val fg = IndexBuilder.readTf(spark, dir).select("doc_id", "term")
      .join(matched, "doc_id")
      .groupBy("term").agg(count(lit(1)).cast("long").as("fg_df"))
    val bg = spark.read.parquet(s"$dir/stats")
      .select(col("term"), col("df").cast("long").as("bg_df"))
    fg.join(bg, "term")
      .withColumn("lift", round(
        (col("fg_df").cast("double") / lit(m)) /
          (col("bg_df").cast("double") / lit(n)), 6))
      .orderBy(col("lift").desc, col("term").asc)
      .limit(maxTerms)
      .select("term", "fg_df", "bg_df", "lift")
  }

  // ---------------------------------------------------------------------
  // Phrase search ("exact sequence" queries)
  // ---------------------------------------------------------------------

  /** Top-k documents containing the analyzed phrase CONSECUTIVELY (the
    * phrase's surviving analyzer tokens appear adjacent, in order, in the
    * document's analyzed token stream — standard phrase semantics over a
    * stop-filtered stream). BM25 scores use the phrase terms with their
    * in-phrase frequencies; the filter never perturbs a surviving score.
    *
    * Physical plan: the index has no positional postings (the reference
    * stores none either), so the phrase evaluates as (1) leapfrog
    * conjunctive DAAT emitting EVERY doc containing all phrase terms —
    * exact, no candidate can be missed — then (2) a join back to `docs`
    * that re-analyzes only those candidates and keeps adjacency matches.
    * The verification cost is |AND matches| document re-tokenizations —
    * proportional to the phrase's conjunctive selectivity, not the corpus;
    * positional posting blocks are the structural upgrade if phrase volume
    * ever dominates (documented in COVERAGE.md).
    */
  def searchPhraseRounded(phrase: String, k: Int, docs: DataFrame): DataFrame = {
    val seq = analyzer.analyze(phrase)
    if (seq.isEmpty) return emptyResult
    if (hasFreshPositions) return phrasePositional(seq, k)
    val candidates = phraseCandidates(seq)
    // adjacency verification: re-analyze ONLY the AND-matching candidates.
    // The haystack/needle form is exact: analyzed tokens are [a-z0-9]+ so a
    // space-joined stream contains " t1 t2 " iff t1,t2 are adjacent in it.
    val needle = " " + seq.mkString(" ") + " "
    val an = analyzer
    val analyzeJoin = udf((text: String) => " " + an.analyze(text).mkString(" ") + " ")
    candidates
      .join(docs.select(col("docId").as("doc_id"), col("content")), "doc_id")
      .filter(analyzeJoin(col("content")).contains(needle))
      .select(col("doc_id"), round(col("score"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
  }

  /** Index-native phrase search over the positional sidecar
    * ([[IndexBuilder.buildPositions]]) — REQUIRES a sidecar bound to this
    * index's buildId (use [[searchPhraseRounded]] for the auto-selecting
    * form). Adjacency verifies against the position lists of the PHRASE
    * TERMS ONLY: the pruned sidecar scan joins the conjunctive candidates
    * on doc_id and each doc checks `exists p: forall j: p+j in
    * positions(token_j)` over decoded varint lists — no document content
    * is ever hydrated, so the cost scales with the phrase terms' posting
    * mass, not document size.
    */
  def searchPhrasePositionalRounded(phrase: String, k: Int): DataFrame = {
    require(hasFreshPositions,
      s"index $dir has no positional sidecar for buildId ${globals.buildId}; " +
        "run IndexBuilder.buildPositions (append/compact invalidate it)")
    val seq = analyzer.analyze(phrase)
    if (seq.isEmpty) return emptyResult
    phrasePositional(seq, k)
  }

  /** Positional KWIC — analyzed-term-exact highlighting from the INDEX:
    * the top-k's first match position comes from the positional sidecar
    * (min (pos, term) over the query terms' decoded position lists —
    * the lists are ascending, so each (term, doc) contributes its head),
    * not from substring scanning hydrated text, so "scan" inside
    * "rescanning" does NOT count (the substring form is
    * [[graft.search.Snippets.kwic]]). The snippet is the +-`window`
    * slice of the doc's ANALYZED token stream around that position.
    *
    * Scale shape: the sidecar read is (tb, term)-pruned exactly like
    * [[searchPhrasePositionalRounded]] and joins the BROADCAST <=k
    * top-k; only the <=k winning docs hydrate text for the window slice
    * (one broadcast join against the corpus scan). Returns
    * (doc_id, score, term, pos, kwic) in (score desc, doc_id asc) order;
    * pos is the 0-based analyzed-stream index.
    */
  def kwicPositionalRounded(query: String, k: Int, docs: DataFrame,
                            window: Int = 4): DataFrame = {
    require(hasFreshPositions,
      s"index $dir has no positional sidecar for buildId ${globals.buildId}; " +
        "run IndexBuilder.buildPositions (append/compact invalidate it)")
    val topk = searchRounded(query, k)
    val terms = queryTerms(query).map(_._1)
    if (terms.isEmpty)
      return topk.withColumn("term", lit(""))
        .withColumn("pos", lit(0L)).withColumn("kwic", lit(""))
        .limit(0)
    val tbs = terms.map(IndexFormat.termBucket(_, globals.termBuckets)).distinct
    val pos = spark.read.parquet(s"$dir/positions/data")
      .filter(col("tb").isin(tbs: _*) && col("term").isin(terms: _*))
      .select("term", "doc_id", "npos", "pos_bin")
    val headPos = udf((bin: Array[Byte], n: Int) => Codec.decodeDocIds(bin, n)(0))
    val hits = pos.join(broadcast(topk), "doc_id")
      .select(col("doc_id"), col("score"),
        struct(headPos(col("pos_bin"), col("npos")).as("pos"),
          col("term").as("term")).as("h"))
      .groupBy("doc_id")
      .agg(min(col("h")).as("h"), max(col("score")).as("score"))
    val an = analyzer
    val w = window
    val kwicU = udf((text: String, p: Long) => {
      val toks = an.analyze(text)
      toks.slice(math.max(0, p.toInt - w),
        math.min(toks.length, p.toInt + w + 1)).mkString(" ")
    })
    docs.select(col("docId").as("doc_id"), col("content"))
      .join(broadcast(hits), "doc_id")
      .select(col("doc_id"), col("score"), col("h.term").as("term"),
        col("h.pos").as("pos"), kwicU(col("content"), col("h.pos")).as("kwic"))
      .orderBy(col("score").desc, col("doc_id").asc)
  }

  /** True iff `positions/meta.json` exists and is bound to THIS buildId —
    * the structural staleness gate (append/compact rewrite globals with a
    * fresh buildId, so a leftover sidecar can never serve wrong positions).
    */
  def hasFreshPositions: Boolean = {
    val meta = java.nio.file.Paths.get(dir, "positions", "meta.json")
    java.nio.file.Files.exists(meta) && {
      val txt = new String(java.nio.file.Files.readAllBytes(meta),
        java.nio.charset.StandardCharsets.UTF_8)
      val m = java.util.regex.Pattern.compile("\"buildId\"\\s*:\\s*\"([^\"]*)\"")
        .matcher(txt)
      m.find() && m.group(1) == globals.buildId
    }
  }

  /** Every conjunctive (AND) match of the phrase terms with its BM25 score
    * — no k-cut (the adjacency filter downstream must not be starved).
    */
  private def phraseCandidates(seq: Array[String]): DataFrame = {
    import spark.implicits._
    val q = seq.groupBy(identity).toSeq
      .map { case (t, xs) => (t, xs.size.toDouble) }.sortBy(_._1)
    val qtf = q.toMap
    val exBc = tombstonesBc
    perShard(q.map(_._1)) { rows =>
      val ex = PostingIndex.combinedExclusion(
        if (exBc == null) null else exBc.value, null)
      Wand.conjunctiveAll(rows, qtf, ex)
    }.toDF("doc_id", "score")
  }

  private def phrasePositional(seq: Array[String], k: Int): DataFrame =
    positionalWindowed(seq, slop = 0, k)

  /** Proximity search (sloppy ordered phrase) over the positional
    * sidecar: a document matches iff its analyzed stream contains
    * positions p_0 < p_1 < ... < p_{m-1}, position p_j holding phrase
    * token j, with span p_{m-1} - p_0 <= (m-1) + slop — the deterministic
    * ordered-window contract (slop = 0 IS phrase adjacency; Lucene's
    * edit-distance slop admits reorderings, which a cross-engine gate
    * cannot pin as cheaply). Scores are the conjunctive BM25 of the
    * phrase terms, exactly like [[searchPhraseRounded]]. Positional
    * sidecar required (the production proximity path — candidate
    * re-analysis would also work but proximity queries are latency-tier).
    */
  def searchProximityRounded(phrase: String, slop: Int, k: Int): DataFrame = {
    require(slop >= 0, s"slop must be >= 0, got $slop")
    require(hasFreshPositions,
      s"index $dir has no positional sidecar for buildId ${globals.buildId}; " +
        "run IndexBuilder.buildPositions (append/compact invalidate it)")
    val seq = analyzer.analyze(phrase)
    require(seq.length >= 2,
      s"proximity needs >= 2 surviving terms, got '${seq.mkString(" ")}'")
    positionalWindowed(seq, slop, k)
  }

  /** Shared positional verifier: conjunctive candidates filtered to docs
    * whose minimal ordered window over the phrase tokens is within
    * (m-1) + slop. Greedy chain per start position is exact for the
    * ordered contract: from a fixed p_0, picking the SMALLEST valid next
    * position minimizes the final span, so an in-bound chain exists iff a
    * greedy one does.
    */
  private def positionalWindowed(seq: Array[String], slop: Int,
                                 k: Int): DataFrame = {
    import spark.implicits._
    val candidates = phraseCandidates(seq)
    val distinctTerms = seq.distinct.sorted.toSeq
    val tbs = distinctTerms.map(IndexFormat.termBucket(_, globals.termBuckets)).distinct
    val pos = spark.read.parquet(s"$dir/positions/data")
      .filter(col("tb").isin(tbs: _*) && col("term").isin(distinctTerms: _*))
      .select("term", "doc_id", "npos", "pos_bin")
    val phraseSeq = seq // ordered tokens, duplicates included
    val bound = (phraseSeq.length - 1).toLong + slop
    val verified = pos.join(candidates, "doc_id")
      .select(col("doc_id"), col("score"), col("term"), col("npos"), col("pos_bin"))
      .as[(Long, Double, String, Int, Array[Byte])]
      .groupByKey { case (d, s, _, _, _) => (d, s) }
      .flatMapGroups { (key: (Long, Double),
                        rows: Iterator[(Long, Double, String, Int, Array[Byte])]) =>
        val byTerm = rows.map { case (_, _, t, n, bin) =>
          t -> Codec.decodeDocIds(bin, n)
        }.toMap
        val first = byTerm.getOrElse(phraseSeq(0), Array.emptyLongArray)
        var ok = false
        var i = 0
        while (i < first.length && !ok) {
          val p0 = first(i)
          var prev = p0
          var alive = true
          var j = 1
          while (j < phraseSeq.length && alive) {
            val arr = byTerm.getOrElse(phraseSeq(j), Array.emptyLongArray)
            var lo = java.util.Arrays.binarySearch(arr, prev + 1)
            if (lo < 0) lo = -lo - 1
            if (lo >= arr.length) alive = false
            else { prev = arr(lo); j += 1 }
          }
          if (alive && prev - p0 <= bound) ok = true
          i += 1
        }
        if (ok) Iterator.single(key) else Iterator.empty
      }
      .toDF("doc_id", "score")
    verified.withColumn("score", round(col("score"), 4))
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
  }
}

object PostingIndex {

  /** Serving-overlay size cap — see the `tombstones` field. */
  val maxServedTombstones: Int = 10000000

  /** [[PostingIndex.searchFiltered]] broadcast-vs-cogroup cutover: up to
    * this many allowed ids the filter broadcasts (8 MB of longs — small
    * against an executor); above it, the cogroup path shuffles the ids to
    * their shards instead of collecting them.
    */
  val filterBroadcastCap: Int = 1000000

  /** [[PostingIndex.searchPrefixRounded]] default expansion budget (the
    * Lucene-default-shaped bound on multi-term blowup).
    */
  val defaultMaxExpansions: Int = 16

  /** Fuses the tombstone overlay and an optional allow-list into the single
    * exclusion predicate the DAAT loops take. `null` inputs mean "absent";
    * returns null when both are (the loops' allocation-free fast path).
    */
  private[index] def combinedExclusion(tombstoned: Array[Long],
                                       allowed: Array[Long]): Long => Boolean =
    (tombstoned, allowed) match {
      case (null, null) => null
      case (t, null) => d => java.util.Arrays.binarySearch(t, d) >= 0
      case (null, a) => d => java.util.Arrays.binarySearch(a, d) < 0
      case (t, a) => d =>
        java.util.Arrays.binarySearch(t, d) >= 0 ||
          java.util.Arrays.binarySearch(a, d) < 0
    }

  private val handles =
    scala.collection.concurrent.TrieMap.empty[String, PostingIndex]

  /** Memoized serving handle per index dir: constructing a handle on a
    * tombstoned index runs a read+distinct+collect job and creates a
    * broadcast for the overlay — once per (context, dir) through here,
    * instead of once per query. Freshness is keyed on the SparkCONTEXT
    * (broadcasts and cached blocks are context-scoped, so sibling sessions
    * from `newSession()` share a handle rather than thrashing it); a
    * cached handle bound to a different or stopped context (bench-style
    * sectioned sessions) is closed and replaced, never returned.
    * Synchronized: two racing first callers must not both run the overlay
    * collect and leak the loser's broadcast. Call [[invalidate]] after
    * mutating the directory in place.
    */
  def forDir(spark: SparkSession, dir: String): PostingIndex =
    handles.synchronized {
      handles.get(dir) match {
        case Some(h) if (h.session.sparkContext eq spark.sparkContext) &&
            !spark.sparkContext.isStopped => h
        case cached =>
          cached.foreach(h => if (!h.session.sparkContext.isStopped) h.close())
          val fresh = new PostingIndex(spark, dir)
          handles.put(dir, fresh)
          fresh
      }
    }

  /** Drops (and closes: unpersists the preload cache and the overlay
    * broadcast's executor copies — in-flight queries keep working) the
    * memoized handle for `dir`.
    */
  def invalidate(dir: String): Unit = handles.synchronized {
    handles.remove(dir).foreach { h =>
      if (!h.session.sparkContext.isStopped) h.close()
    }
  }

  /** globals.json is a single flat object written by
    * [[IndexBuilder.writeGlobals]]; parse it with a local scan instead of a
    * `spark.read.json` job — a Spark job per index open was measurable
    * serial overhead in every build/search.
    */
  def readGlobals(spark: SparkSession, dir: String): IndexGlobals = {
    val txt = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, "globals.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    def raw(n: String): String = {
      val m = java.util.regex.Pattern
        .compile("\"" + java.util.regex.Pattern.quote(n) + "\"\\s*:\\s*(\"(?:[^\"\\\\]|\\\\.)*\"|[^,}]*)")
        .matcher(txt)
      require(m.find(), s"globals.json: missing field $n")
      m.group(1).trim
    }
    def s(n: String): String = {
      val v = raw(n)
      require(v.length >= 2 && v.head == '"', s"globals.json: $n not a string")
      v.substring(1, v.length - 1)
        .replace("\\\"", "\"").replace("\\\\", "\\").replace("\\n", "\n")
    }
    def l(n: String) = raw(n).toLong
    def d(n: String) = raw(n).toDouble
    IndexGlobals(
      buildId = s("buildId"), sourcePath = s("sourcePath"),
      nDocs = l("nDocs"), totalTokens = l("totalTokens"), avgdl = d("avgdl"),
      vocabularySize = l("vocabularySize"), shards = l("shards").toInt,
      termBuckets = l("termBuckets").toInt, blockSize = l("blockSize").toInt,
      k1 = d("k1"), b = d("b"), stem = raw("stem").toBoolean)
  }

  /** True iff the index is fully built (globals present + every (tb, shard)
    * partition committed).
    */
  def isComplete(spark: SparkSession, dir: String): Boolean = {
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "globals.json")))
      return false
    val g = readGlobals(spark, dir)
    Manifest.committed(dir).size == g.shards * g.termBuckets
  }
}
