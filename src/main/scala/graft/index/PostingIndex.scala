package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Window
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
  *
  * Raw vs rounded: every top-k ends in the same (score desc, doc_id asc)
  * k-cut. The `*Rounded` forms round scores to 4 decimals BEFORE that
  * cut, because their DuckDB twins limit on `round(sum(w), 4) DESC,
  * doc_id`: two docs whose exact scores differ but round equal at the
  * k-th boundary must be cut by (rounded, doc_id), not by exact score
  * (mirrors RelationalBM25.topK, which rounds inside the aggregation).
  * The raw forms ([[search]], [[searchConjunctive]], [[searchFiltered]],
  * [[searchMany]]) cut on the exact score and return it unrounded.
  */
final class PostingIndex(spark: SparkSession, dir: String) {

  val globals: IndexGlobals = PostingIndex.readGlobals(spark, dir)

  private val analyzer: Analyzer =
    if (globals.stem) Analyzer.default else Analyzer.noStem(Analyzer.defaultStopWords)

  def queryTerms(query: String): Seq[(String, Double)] =
    if (query == null) Seq.empty
    else PostingIndex.weights(analyzer.analyze(query).toSeq.map((_, 1.0)))

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

  @volatile private var tombstonesBcRef: Broadcast[Array[Long]] = null

  // lazily (re)broadcast so close() can destroy it without killing the handle
  private def tombstonesBc: Broadcast[Array[Long]] =
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

  /** The DAAT loops' exclusion predicate, built on the executor from an
    * optional allow-list (null = none): the tombstone overlay fused with
    * it by [[PostingIndex.combinedExclusion]]. A function value, so
    * closures capture the overlay broadcast, never this (non-serializable)
    * handle.
    */
  private def exclusion: Array[Long] => (Long => Boolean) = {
    val exBc = tombstonesBc
    allowed => PostingIndex.combinedExclusion(
      if (exBc == null) null else exBc.value, allowed)
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

  /** `tb IN (buckets of terms) AND term IN (terms)`: directory pruning plus
    * parquet row-group pruning on `term`, for postings and positions alike.
    */
  private def termFilter(terms: Seq[String]): Column = {
    val tbs = terms.map(IndexFormat.termBucket(_, globals.termBuckets)).distinct
    col("tb").isin(tbs: _*) && col("term").isin(terms: _*)
  }

  private def slice(terms: Seq[String]): DataFrame = postingsDF.filter(termFilter(terms))

  private def blocks(df: DataFrame): Dataset[BlockRow] = {
    import spark.implicits._
    df.select(PostingIndex.blockCols.map(col): _*).as[BlockRow]
  }

  /** Runs `daat` once per shard over the blocks of `terms`, with the
    * shard's [[exclusion]] predicate (fused with `allowBc`'s allow-list
    * when given). The grouping key is the `shard` COLUMN, so MapGroups
    * asks for clustering by shard: the preloaded cache already has it (no
    * Exchange), a parquet-backed handle plans exactly one Exchange.
    */
  private def perShard[U: Encoder](terms: Seq[String],
      allowBc: Broadcast[Array[Long]] = null)(
      daat: (Iterator[BlockRow], Long => Boolean) => Iterator[U]): Dataset[U] = {
    import spark.implicits._
    val ex = exclusion
    blocks(slice(terms)).groupBy(col("shard")).as[Int, BlockRow]
      .flatMapGroups((_, rows) =>
        daat(rows, ex(if (allowBc == null) null else allowBc.value)))
  }

  /** The per-shard WAND pool of a weighted term list (None when it is
    * empty): the union of each shard's exact-score top k — of conjunctive
    * matches when `conj`, of candidates ranking after the `(afterScore,
    * afterDoc)` cursor otherwise — BEFORE the global [[cut]]. `allowBc`,
    * when non-null, is a broadcast sorted id array candidates must belong
    * to (the attribute-filter overlay — the tombstone mechanism with the
    * predicate inverted).
    */
  private def pool(q: Seq[(String, Double)], k: Int, conj: Boolean = false,
      allowBc: Broadcast[Array[Long]] = null,
      afterScore: Double = Double.PositiveInfinity,
      afterDoc: Long = Long.MinValue): Option[DataFrame] =
    if (q.isEmpty) None
    else {
      import spark.implicits._
      val qtf = q.toMap
      Some(perShard(q.map(_._1), allowBc) { (rows, ex) =>
        if (conj) Wand.topKConjunctive(rows, qtf, k, ex)
        else Wand.topK(rows, qtf, k, ex, afterScore, afterDoc)
      }.toDF("doc_id", "score"))
    }

  /** The global k-cut in (score desc, doc_id asc) order, on 4-dp rounded
    * scores when `rounded` (the class doc's raw vs rounded contract); an
    * empty (doc_id, score) frame when there is no pool.
    */
  private def cut(pool: Option[DataFrame], k: Int, rounded: Boolean): DataFrame =
    pool.fold(emptyResult)(p => roundScores(p, rounded).orderBy(PostingIndex.byScore: _*).limit(k))

  private def roundScores(df: DataFrame, rounded: Boolean): DataFrame =
    if (rounded) df.withColumn("score", round(col("score"), 4)) else df

  private def emptyResult: DataFrame =
    spark.emptyDataFrame.select(lit(0L).as("doc_id"), lit(0.0).as("score")).limit(0)

  /** Top-k search -> DataFrame (doc_id, score), total order
    * (score desc, doc_id asc).
    */
  def search(query: String, k: Int): DataFrame =
    cut(pool(queryTerms(query), k), k, rounded = false)

  /** Oracle-comparable form of [[search]]: scores rounded to 4 decimals
    * before the k-cut (the class doc's raw vs rounded contract).
    */
  def searchRounded(query: String, k: Int): DataFrame =
    cut(pool(queryTerms(query), k), k, rounded = true)

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
    * disagree with the very rows the caller paged from. A NaN score is
    * rejected: it compares false with everything, so it would admit every
    * candidate and silently serve page 1; +∞ is the page-1 cursor.
    */
  def searchAfterRounded(query: String, k: Int, afterScore: Double,
                         afterDoc: Long): DataFrame = {
    require(!afterScore.isNaN, "afterScore must not be NaN")
    cut(pool(queryTerms(query), k, afterScore = afterScore, afterDoc = afterDoc),
      k, rounded = true)
  }

  /** Conjunctive (AND) variant: only documents containing EVERY query term
    * score (posting-list intersection, leapfrog DAAT). Beyond the
    * reference's OR-only semantics.
    */
  def searchConjunctive(query: String, k: Int): DataFrame =
    cut(pool(queryTerms(query), k, conj = true), k, rounded = false)

  /** Oracle-comparable conjunctive form (the class doc's raw vs rounded
    * contract).
    */
  def searchConjunctiveRounded(query: String, k: Int): DataFrame =
    cut(pool(queryTerms(query), k, conj = true), k, rounded = true)

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
    rankPerQuery(manyPool(queries, k), k, rounded = false)

  /** Oracle-comparable batch form: per-query results identical to
    * [[searchRounded]] — 4-decimal rounding applied to the pooled shard
    * candidates BEFORE the per-query k-cut (the class doc's raw vs rounded
    * contract; the DuckDB twin is [[graft.search.OracleSql.bm25TopKMany]]).
    */
  def searchManyRounded(queries: Seq[String], k: Int): DataFrame =
    rankPerQuery(manyPool(queries, k), k, rounded = true)

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
    val live = queries.zipWithIndex
      .map { case (q, i) => (i.toLong, queryTerms(q).toMap) }.filter(_._2.nonEmpty)
    if (live.isEmpty) None
    else {
      val bQtf = spark.sparkContext.broadcast(live.toMap)
      Some(perShard(live.flatMap(_._2.keys).distinct.sorted) { (rows, ex) =>
        // materialize the shard's block slice once; every query reuses it
        PostingIndex.batchTopK(rows.toArray, bQtf.value.iterator, k, ex)
      }.toDF("query_id", "doc_id", "score"))
    }
  }

  private def emptyManyResult: DataFrame =
    spark.emptyDataFrame.select(lit(0L).as("query_id"),
      lit(0L).as("doc_id"), lit(0.0).as("score")).limit(0)

  /** Per-query k-cut over a (query_id, doc_id, score) candidate pool,
    * rounded like [[cut]]: row_number in (score desc, doc_id asc) within
    * each query — ONE shuffle partitioned by query_id carrying at most
    * shards*k rows per query, fully parallel across queries (never a
    * global sort).
    */
  private def rankPerQuery(pool: Option[DataFrame], k: Int, rounded: Boolean): DataFrame =
    pool.fold(emptyManyResult) { p =>
      roundScores(p, rounded)
        .withColumn("rk", row_number().over(
          Window.partitionBy("query_id").orderBy(PostingIndex.byScore: _*)))
        .filter(col("rk") <= k).drop("rk")
        .orderBy(col("query_id") +: PostingIndex.byScore: _*)
    }

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
    val blockCols = PostingIndex.blockCols.map(col)
    val blocksK = postingsDF
      .select(blockCols: _*)
      .join(termBatches, "term")
      .select(col("qbatch").as("_1"), struct(blockCols: _*).as("_2"))
      .as[(Int, BlockRow)]
      .groupByKey { case (qb, blk) => (blk.shard, qb) }
    val shardIds = (0 until globals.shards).toArray
    val qtK = qt
      .select(explode(lit(shardIds)).as("_1"), col("qbatch").as("_2"),
        col("query_id").as("_3"), col("term").as("_4"), col("qtf").as("_5"))
      .as[(Int, Int, Long, String, Double)]
      .groupByKey(r => (r._1, r._2))
    val ex = exclusion
    val pool = blocksK.cogroup(qtK) { case (_, bIt, qIt) =>
      val qts = qIt.toArray
      if (qts.isEmpty) Iterator.empty
      else {
        val rs = bIt.map(_._2).toArray
        if (rs.isEmpty) Iterator.empty
        else PostingIndex.batchTopK(rs, qts.groupBy(_._3).iterator.map {
          case (qid, rows) => (qid, rows.map(r => (r._4, r._5)).toMap)
        }, k, ex(null))
      }
    }.toDF("query_id", "doc_id", "score")
    rankPerQuery(Some(pool), k, rounded = true)
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
    val bySrc = Window.partitionBy(attrCol).orderBy(PostingIndex.byScore: _*)
    cut(Some(broadcast(page)
      .join(docAttrs.select(col("doc_id").cast("long").as("doc_id"),
        col(attrCol)), "doc_id")
      .withColumn("rn", row_number().over(bySrc))
      .filter(col("rn") <= perSource)
      .select(col("doc_id"), col("score"), col(attrCol))), k, rounded = false)
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
    cut(filteredPool(query, k, allowed, broadcastCap), k, rounded = false)

  /** Oracle-comparable form of [[searchFiltered]] (the class doc's raw vs
    * rounded contract).
    */
  def searchFilteredRounded(query: String, k: Int, allowed: DataFrame,
                            broadcastCap: Int = PostingIndex.filterBroadcastCap): DataFrame =
    cut(filteredPool(query, k, allowed, broadcastCap), k, rounded = true)

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
      pool(q, k, allowBc = spark.sparkContext.broadcast(probe))
    } else Some(cogroupFilteredPool(q, k, ids))
  }

  /** The sharded filter path: allowed ids cogrouped with posting blocks on
    * the build's docShard key.
    */
  private def cogroupFilteredPool(q: Seq[(String, Double)], k: Int,
                                  ids: Dataset[Long]): DataFrame = {
    import spark.implicits._
    val qtf = q.toMap
    val shardsN = globals.shards
    val ex = exclusion
    blocks(slice(q.map(_._1))).groupByKey(_.shard)
      .cogroup(ids.groupByKey(IndexFormat.docShard(_, shardsN))) {
        (_, rows, shardIds) =>
          val allow = shardIds.toArray
          if (allow.isEmpty) Iterator.empty
          else {
            java.util.Arrays.sort(allow)
            Wand.topK(rows, qtf, k, ex(allow))
          }
      }
      .toDF("doc_id", "score")
  }

  // ---------------------------------------------------------------------
  // Dictionary-expansion search (prefix `tok*`, wildcard, fuzzy `tok~`)
  // ---------------------------------------------------------------------

  /** The `limit` highest-df vocabulary terms passing `pred` as (term, df),
    * ranked (df desc, term asc) — fully deterministic. df comes from the
    * block-level `n` counters — no posting decode — and counts tombstoned
    * postings until a compact (the overlay statistics contract).
    */
  private def dictionary(pred: Column, limit: Int): DataFrame =
    termDf(postingsDF.filter(pred))
      .orderBy(col("df").desc, col("term").asc)
      .limit(limit)

  /** Per-term df of a set of posting blocks, from the block `n` counters. */
  private def termDf(postings: DataFrame): DataFrame =
    postings.groupBy("term").agg(sum(col("n")).cast("long").as("df"))

  private def dfByTerm(terms: Seq[String]): Map[String, Long] = {
    import spark.implicits._
    termDf(slice(terms)).as[(String, Long)].collect().toMap
  }

  /** The multi-term tail every dictionary expansion shares: the probed
    * terms score as one disjunctive query with weight 1 each (Lucene
    * multi-term-query-with-scoring semantics), rounded k-cut.
    */
  private def expansionSearch(probe: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    val terms = probe.select("term").as[String].collect().toSeq.sorted
    cut(pool(terms.map((_, 1.0)), k), k, rounded = true)
  }

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
    require(p.nonEmpty && p.forall(PostingIndex.vocabChar),
      s"prefix must be non-empty [a-z0-9]+, got '$prefix'")
    expansionSearch(dictionary(col("term").startsWith(p), maxExpansions), k)
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
    require(p.nonEmpty && p.forall(c => PostingIndex.vocabChar(c) || c == '*' || c == '?'),
      s"wildcard pattern must be [a-z0-9*?]+, got '$pattern'")
    require(PostingIndex.vocabChar(p.head),
      s"leading wildcard rejected (full-dictionary scan): '$pattern'")
    val like = p.replace("*", "%").replace("?", "_")
    expansionSearch(dictionary(col("term").like(like), maxExpansions), k)
  }

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
                         maxExpansions: Int = PostingIndex.defaultMaxExpansions): DataFrame =
    expansionSearch(suggest(term, maxEdits, maxExpansions), k)

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
    // the per-term cap is applied INSIDE the plan (row_number window over
    // the probed rows) so the collect is |query|*cap-bounded by
    // construction — a hot term with a catalog's worth of synonyms never
    // reaches the driver (the window mirrors the oracle twin's SQL)
    val win = Window.partitionBy("term").orderBy("syn")
    val rows = synonyms
      .filter(col("term").isin(q.map(_._1): _*))
      .select("term", "syn").distinct()
      .withColumn("rn", row_number().over(win))
      .filter(col("rn") <= maxExpansionsPerTerm)
      .select("term", "syn").collect()
      .map(r => (r.getString(0), r.getString(1)))
    rows.foreach { case (_, s) =>
      require(s.nonEmpty && s.forall(PostingIndex.vocabChar),
        s"synonym must be lowercase [a-z0-9]+, got '$s'") }
    val expanded: Seq[(String, Double)] = rows.toSeq
      .groupBy(_._1).toSeq
      .flatMap { case (t, ss) =>
        ss.map(_._2).distinct.sorted.map(s => (s, qtf(t)))
      }
    cut(pool(PostingIndex.weights(q ++ expanded), k), k, rounded = true)
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
    require(t.nonEmpty && t.forall(PostingIndex.vocabChar),
      s"suggest term must be non-empty [a-z0-9]+, got '$term'")
    require(maxEdits >= 0 && maxEdits <= 2, s"maxEdits must be 0..2, got $maxEdits")
    dictionary(abs(length(col("term")) - lit(t.length)) <= maxEdits &&
      levenshtein(col("term"), lit(t)) <= maxEdits, maxSuggestions)
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
    val posQtf = PostingIndex.weights(mustQ ++ shouldQ).toMap
    val mustSet = mustQ.map(_._1).toSet
    cut(Some(perShard((posQtf.keySet ++ notTerms).toSeq.sorted) { (rows, ex) =>
      Wand.topKBoolean(rows, posQtf, mustSet, notTerms, k, ex)
    }.toDF("doc_id", "score")), k, rounded = true)
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
    val df = dfByTerm(terms)
    // terms absent from the dictionary (possible when the corpus frame
    // outruns the index) carry no signal — drop, like a stop word
    val profile: Seq[(String, Double)] = terms
      .filter(df.contains)
      .sortBy(t => (-tf(t), df(t), t))
      .take(maxTerms)
      .map(t => (t, tf(t).toDouble))
    cut(pool(profile.sortBy(_._1), k + 1).map(_.filter(col("doc_id") =!= docId)),
      k, rounded = true)
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
    val df = dfByTerm(terms)
    val sh = IndexFormat.docShard(docId, globals.shards)
    val hits: Seq[(String, Long, Double)] =
      blocks(slice(terms).filter(col("shard") === sh && col("max_doc") >= docId))
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
        (t, qtf(t), tf, df(t), BM25.idf(n, df(t).toDouble), w * qtf(t))
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
    val ex = exclusion
    slice(terms)
      .select(col("n"), col("docs_bin"))
      .as[(Int, Array[Byte])]
      .flatMap { case (n, bin) =>
        val ids = Codec.decodeDocIds(bin, n)
        val drop = ex(null)
        if (drop == null) ids else ids.filterNot(drop)
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
    if (hasFreshPositions) return positionalWindowed(seq, slop = 0, k)
    // adjacency verification: re-analyze ONLY the AND-matching candidates.
    // The haystack/needle form is exact: analyzed tokens are [a-z0-9]+ so a
    // space-joined stream contains " t1 t2 " iff t1,t2 are adjacent in it.
    val needle = " " + seq.mkString(" ") + " "
    val an = analyzer
    val analyzeJoin = udf((text: String) => " " + an.analyze(text).mkString(" ") + " ")
    cut(Some(phraseCandidates(seq)
      .join(docs.select(col("docId").as("doc_id"), col("content")), "doc_id")
      .filter(analyzeJoin(col("content")).contains(needle))
      .select("doc_id", "score")), k, rounded = true)
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
    requirePositions()
    val seq = analyzer.analyze(phrase)
    if (seq.isEmpty) return emptyResult
    positionalWindowed(seq, slop = 0, k)
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
    requirePositions()
    val topk = searchRounded(query, k)
    val terms = queryTerms(query).map(_._1)
    if (terms.isEmpty)
      return topk.withColumn("term", lit(""))
        .withColumn("pos", lit(0L)).withColumn("kwic", lit(""))
        .limit(0)
    val headPos = udf((bin: Array[Byte], n: Int) => Codec.decodeDocIds(bin, n)(0))
    val hits = positionSlice(terms).join(broadcast(topk), "doc_id")
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
      .orderBy(PostingIndex.byScore: _*)
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

  private def requirePositions(): Unit =
    require(hasFreshPositions,
      s"index $dir has no positional sidecar for buildId ${globals.buildId}; " +
        "run IndexBuilder.buildPositions (append/compact invalidate it)")

  /** The positional sidecar rows of `terms`, pruned like [[slice]]. */
  private def positionSlice(terms: Seq[String]): DataFrame =
    spark.read.parquet(s"$dir/positions/data")
      .filter(termFilter(terms))
      .select("term", "doc_id", "npos", "pos_bin")

  /** Every conjunctive (AND) match of the phrase terms with its BM25 score
    * — no k-cut (the adjacency filter downstream must not be starved).
    */
  private def phraseCandidates(seq: Array[String]): DataFrame = {
    import spark.implicits._
    val q = PostingIndex.weights(seq.toSeq.map((_, 1.0)))
    val qtf = q.toMap
    perShard(q.map(_._1)) { (rows, ex) => Wand.conjunctiveAll(rows, qtf, ex) }
      .toDF("doc_id", "score")
  }

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
    requirePositions()
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
    val phraseSeq = seq // ordered tokens, duplicates included
    val bound = (phraseSeq.length - 1).toLong + slop
    val verified = positionSlice(seq.distinct.sorted.toSeq)
      .join(phraseCandidates(seq), "doc_id")
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
    cut(Some(verified), k, rounded = true)
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

  /** The [[BlockRow]] columns, in the encoder's order. */
  private val blockCols = Seq("tb", "shard", "term", "block_id", "n",
    "max_doc", "max_w", "docs_bin", "wts_bin", "tfs_bin")

  private val byScore = Seq(col("score").desc, col("doc_id").asc)

  /** The index vocabulary alphabet: analyzed terms are [a-z0-9]+. */
  private def vocabChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')

  /** Merges repeated terms by summing their weights, in term order (the
    * order WAND sums in); the qtf of an unweighted token list is its
    * multiplicity.
    */
  private def weights(q: Seq[(String, Double)]): Seq[(String, Double)] =
    q.groupBy(_._1).toSeq.map { case (t, xs) => (t, xs.map(_._2).sum) }.sortBy(_._1)

  /** One shard's WAND for every query of a batch: each (query_id, qtf)
    * runs over the term-filtered view of the shard's materialized blocks.
    */
  private def batchTopK(blocks: Array[BlockRow], queries: Iterator[(Long, Map[String, Double])],
                        k: Int, ex: Long => Boolean): Iterator[(Long, Long, Double)] =
    queries.flatMap { case (qid, qtf) =>
      Wand.topK(blocks.iterator.filter(r => qtf.contains(r.term)), qtf, k, ex)
        .map { case (d, s) => (qid, d, s) }
    }

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
