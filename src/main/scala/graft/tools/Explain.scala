package graft.tools

import org.apache.spark.sql.SparkSession

import graft.corpus.Corpus
import graft.index.{IndexCache, PostingIndex}
import graft.search.RelationalBM25

/** Prints formatted physical plans for the load-bearing queries so plan
  * regressions (lost pushdown, broadcast becoming shuffle, full sort
  * replacing TakeOrdered) are visible. `sbt "runMain graft.tools.Explain"`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._

    def show(name: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n========== $name ==========")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }

    val docs = Corpus.documents(spark, sfDir)
    show("s9 point lookup (expect PushedFilters on doc_id, pruned ReadSchema)") {
      spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") === 42).select("doc_id", "lang")
    }
    show("t1 relational BM25 (expect partial aggs + TakeOrderedAndProject, broadcast qtf)") {
      RelationalBM25.topK(docs, "table scan merge", 10, stem = false)
    }
    val idxDir = IndexCache.dirFor(spark, sfDir, stem = false)
    show("ep2 WAND over index (expect PartitionFilters on tb + PushedFilters on term)") {
      new PostingIndex(spark, idxDir).search("table scan merge", 10)
    }
    show("j2 hydration (expect BroadcastHashJoin, no shuffle of docs side)") {
      RelationalBM25.hydrate(
        RelationalBM25.topK(docs, "table scan merge", 10, stem = false), docs)
    }
    val rawDocs = spark.read.parquet(s"$sfDir/documents.parquet")
    show("cosinePairs blocked join (expect broadcast grid + graft_dot, NO driver collect / NestedLoop over rows)") {
      graft.ops.Similarity.cosinePairs(
        spark.read.parquet(s"$sfDir/embeddings.parquet"), 0.45)
    }
    show("ngramJaccard (expect broadcast LEFT-ANTI hot-shingle guard before the pair join)") {
      graft.ops.Dedup.ngramJaccard(rawDocs, n = 3, minJaccard = 0.5)
    }
    show("fingerprints (expect one narrow Generate/Project pass, no shuffle)") {
      graft.ops.TextStats.fingerprints(rawDocs)
    }
    show("asOfAttribution (expect ONE exchange on user_id + window, no range join)") {
      graft.ops.Events.asOfAttribution(
        graft.ops.Events.load(spark, sfDir))
    }
    show("ivfTopK (expect BroadcastNestedLoopJoin vs tiny centroid set + " +
      "partial max(struct) agg + broadcast probe join; NO window sort, " +
      "NO all-pairs)") {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val q = emb.filter(col("vec_id") === 0).head()
        .getSeq[Float](1).map(_.toDouble).toArray
      graft.ops.Similarity.ivfTopK(emb, q, 10)
    }
    show("boolean must/should/mustNot (expect the SAME pruned-scan + one " +
      "shard shuffle shape as ep2 — all three clauses' terms in ONE scan " +
      "filter; exclusion never a join)") {
      new PostingIndex(spark, idxDir)
        .searchBooleanRounded("table", "merge scan", "stream", 10)
    }
    show("search_after page 2 (expect the IDENTICAL plan to ep2 — the " +
      "cursor lives inside the DAAT heap, never a filter/offset stage)") {
      new PostingIndex(spark, idxDir)
        .searchAfterRounded("table scan merge", 10, 0.9, Long.MinValue)
    }
    show("hybrid RRF (expect: the two retrievals as independent subtrees — " +
      "WAND pruned scan + cosine TakeOrdered — joined full-outer over " +
      "<= 2*candidates rows; fusion math in Project, never a re-score of " +
      "either corpus)") {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val q = emb.filter(col("vec_id") === 0).head()
        .getSeq[Float](1).map(_.toDouble).toArray
      graft.search.Hybrid.rrfSearch(new PostingIndex(spark, idxDir), emb,
        "table scan merge", q, 10, candidates = 50)
    }
    show("table-valued batch search (expect: query analysis as its own " +
      "small subtree; blocks JOIN the distinct (term, qbatch) relation — " +
      "never a per-query fanout; ONE CoGroup on (shard, qbatch); final " +
      "per-query k-cut a query_id-partitioned window, never a global sort)") {
      import spark.implicits._
      val qs = Seq((3L, "table scan merge"), (7L, "dup stream"),
        (12L, "slow group query")).toDF("query_id", "query")
      new PostingIndex(spark, idxDir).searchManyTable(qs, 10, queryBatches = 3)
    }
    show("doc_chunks (expect ONE narrow Generate/Project pass over the " +
      "scan — zero exchanges; the stride grid + slice all codegen'd)") {
      graft.ops.Chunks.chunk(rawDocs)
    }
    show("crawl_diff (expect BOTH sides reduced to (id, sha) in map-side " +
      "Projects BEFORE the single full-outer join exchange — raw text " +
      "never crosses the shuffle)") {
      graft.ops.Snapshots.crawlDiff(rawDocs,
        graft.ops.Snapshots.syntheticNext(rawDocs))
    }
    show("anchor_text (expect partial+final HashAggregate on (host, term) " +
      "— the mega-host skew absorber — THEN one window over the " +
      "aggregated table; never a window over raw link instances)") {
      graft.ops.Anchors.anchorProfile(
        graft.ops.Anchors.syntheticLinks(rawDocs))
    }
    show("colloc_pmi (expect the bigram partial+final HashAggregate over " +
      "the zip-with-tail Generate — adjacent pairs only, never all-pairs " +
      "— vocabulary-sized unigram joins, TakeOrderedAndProject cut, no " +
      "global sort)") {
      graft.ops.Collocations.pmiBigrams(rawDocs)
    }
    show("text_bigram_lp (expect the same adjacency Generate feeding " +
      "per-doc partial counts, bigram/vocab-keyed aggs + join-backs, " +
      "broadcast grand total, doc-keyed integer micro sum — one tokenize " +
      "scan per gram table, no corpus re-scan per metric)") {
      graft.ops.Lm.bigramLogProb(rawDocs)
    }
    show("dsir_weights (expect TWO Generate passes over the hashed-feature " +
      "UDF — model then score, nothing more (the histogram is persisted " +
      "at <= K rows, so totals/lambda add NO third scan); pass 1's " +
      "aggregate collapses to <= K rows per task before its exchange, " +
      "pass 2's (doc, bucket) HashAggregate is the corpus's ONE " +
      "full-width exchange, lambda rides a BroadcastHashJoin; target " +
      "membership a row-local predicate, never a join)") {
      graft.ops.Dsir.importanceWeights(rawDocs, targetSource = "src0")
    }
    show("ngram_novelty (expect ONE shingle Generate, hashed in a " +
      "map-side Project BEFORE any exchange — 8-byte keys on the wire; " +
      "distinct (doc,h) HashAggregate, then a COUNT WINDOW over the h " +
      "partition for the df (no groupBy-and-join-back — that re-reads " +
      "the subtree and re-tokenizes), doc-keyed rollup; NO self-join — " +
      "cost per shingle is df, not df^2; the Sort under the Window is " +
      "the mechanical partition-key sort on the 8-byte hash, no ORDER BY " +
      "within groups)") {
      graft.ops.Dedup.ngramNovelty(rawDocs)
    }
    show("sample_fixed_n (expect ONE exchange on the stratum key + a " +
      "row_number window over the in-partition sort, Filter rk <= n — " +
      "no global sort, no second shuffle)") {
      graft.ops.Sampling.fixedNPerStratum(rawDocs, "source", n = 12,
        seed = 13L)
    }
    show("source_quantiles (expect ONE partial+final ObjectHashAggregate " +
      "keyed on source — all four percentiles + count + mean in the same " +
      "grouping pass, no per-metric re-scan, no sort)") {
      graft.ops.Reports.sourceQuantiles(rawDocs)
    }
    show("source_overlap (expect ONE corpus scan into the bit_or " +
      "HashAggregate with map-side partials, then micro-scale mask " +
      "rollup x broadcast pair grid — no shingle self-join anywhere)") {
      graft.ops.Overlap.sourceOverlap(rawDocs)
    }
    show("bpe_pairs (expect token-scale partial+final count into the " +
      "vocab, then the char-pair explode + pair aggregate over DISTINCT " +
      "terms only — the corpus is scanned once)") {
      graft.ops.Vocab.bpePairs(rawDocs)
    }
    show("index_skew (expect tf/df partial+final aggregates, TakeOrdered " +
      "k-cut before the single-partition window — the window input is k " +
      "rows, never vocabulary-scale)") {
      graft.ops.Reports.indexSkew(rawDocs)
    }
    show("dedup_ppjoin (expect df join + doc-keyed set build, prefix " +
      "SELF-EQUI-join on the shingle — no CartesianProduct, no nested " +
      "loop — and ROW-LOCAL array_intersect verification: the corpus is " +
      "tokenized once behind the localCheckpoint)") {
      graft.ops.Dedup.ppjoinJaccard(rawDocs, n = 3, minJaccard = 0.5)
    }
    show("w10_anomaly (expect ONE corpus-scale (type,day) partial+final " +
      "count — the only data-bounded exchange; moments + join back run " +
      "on the calendar-bounded daily table)") {
      graft.ops.Events.dailyAnomalies(graft.ops.Events.load(spark, sfDir))
    }
    show("text_ttr (expect one narrow Project pass over documents — no " +
      "Exchange, no Generate, no UDF: codegen'd collection HOFs only)") {
      graft.ops.TextStats.lexicalDiversity(rawDocs)
    }
    show("h5_rollup (expect ONE Expand into a SINGLE partial+final " +
      "HashAggregate — 3 grouping-set copies map-side, one shuffle, no " +
      "per-level re-aggregation)") {
      graft.SparkEntry.queries("h5_rollup")(spark, sfDir)
    }
    show("h6_moving_rev (expect the day-keyed partial+final aggregate as " +
      "the only corpus-scale exchange; the unpartitioned window frames " +
      "run on the calendar-bounded daily aggregate)") {
      graft.SparkEntry.queries("h6_moving_rev")(spark, sfDir)
    }
    show("repo_overlap (expect ONE distinct-(repo,sha) partial+final " +
      "aggregate as the only corpus-scale shuffle; sha-keyed pair join " +
      "over the localCheckpointed files; hot-blob LEFT-ANTI and size " +
      "join-backs broadcast; no CartesianProduct)") {
      graft.ops.Code.repoOverlap(rawDocs)
    }
    show("w8_interval_join (expect slab EQUI-join — no " +
      "BroadcastNestedLoopJoin with a range condition — containment as " +
      "a post-join Filter, per-event max(struct) argmax, left join back)") {
      val ev = graft.ops.Events.load(spark, sfDir)
      graft.ops.Events.intervalJoin(ev, graft.ops.Events.syntheticWindows(ev))
    }
    locally {
      // tombstone-overlay serving: the PLAN must be identical to the plain
      // ep2 WAND plan (same pruning, and for this parquet-backed handle the
      // same single shuffle; a preloaded handle has none) — the overlay is
      // a broadcast consulted inside the DAAT loop, never a join or filter
      // stage over the postings
      val lcDir = idxDir + "_explain_lc"
      graft.index.IndexBuilder.cloneIndex(idxDir, lcDir)
      graft.index.IndexBuilder.delete(spark,
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id").filter(pmod(col("doc_id"), lit(7L)) === 3),
        lcDir, "explain")
      show("ep2 WAND with tombstone overlay, parquet-backed (expect the " +
        "SAME plan as ep2 — one Exchange by shard, no extra join/filter " +
        "stage; overlay rides a broadcast into the DAAT flatMapGroups)") {
        new PostingIndex(spark, lcDir).search("table scan merge", 10)
      }
    }
    spark.stop()
  }
}
