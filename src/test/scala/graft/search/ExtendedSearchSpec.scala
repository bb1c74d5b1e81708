package graft.search

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.analysis.Analyzer
import graft.corpus.{Corpus, SyntheticCorpus}
import graft.index.{IndexBuilder, IndexConfig, PostingIndex}

/** Properties of the query-surface extensions (attribute-filtered, prefix,
  * phrase search) that the DuckDB gates can't see:
  *  - the broadcast-overlay and sharded-cogroup filter strategies are
  *    RESULT-IDENTICAL (the cutover is purely physical);
  *  - filter semantics == "global ranking restricted to the allowed set"
  *    (scores never re-derive from the filtered sub-corpus);
  *  - the filter overlay composes with the tombstone overlay;
  *  - prefix expansion is the deterministic df-desc/term-asc cap;
  *  - phrase results == a naive re-analysis scan of the whole corpus.
  */
class ExtendedSearchSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val cfg = IndexConfig(shards = 4, termBuckets = 2, blockSize = 16,
    stem = false)

  private lazy val docs =
    Corpus.fromCodeDocs(SyntheticCorpus.generate(spark, 300, seed = 7L)).cache()

  private lazy val idxDir: String = {
    val dir = Files.createTempDirectory("graft-ext-idx")
    dir.toFile.deleteOnExit()
    IndexBuilder.build(spark, docs, dir.toString, cfg)
    dir.toString
  }

  private lazy val idx = new PostingIndex(spark, idxDir)

  private def res(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private val query = "longest river complexity"

  test("filtered search: broadcast path == cogroup path == restricted global ranking") {
    val allowedPred = pmod(col("docId"), lit(3L)) === 0
    val allowed = docs.filter(allowedPred).select("docId")
    val allowedIds = allowed.collect().map(_.getLong(0)).toSet

    val viaBroadcast = res(idx.searchFiltered(query, 10, allowed))
    val viaCogroup = res(idx.searchFiltered(query, 10, allowed, broadcastCap = 0))
    assert(viaBroadcast == viaCogroup)

    // ground truth: the UNfiltered global ranking (k = corpus size, exact
    // scores) restricted to the allowed set — filter-query semantics say
    // these must coincide, because the filter never touches a score
    val global = res(idx.search(query, 1000))
    val expected = global.filter { case (d, _) => allowedIds.contains(d) }.take(10)
    assert(viaBroadcast == expected)
    assert(viaBroadcast.nonEmpty)
    assert(viaBroadcast.forall { case (d, _) => allowedIds.contains(d) })
  }

  test("diversified serving search: page form == global relational form when the page covers every scoring doc") {
    val attrs = docs.select(col("docId").as("doc_id"), col("lang"))
    for (cap <- Seq(1, 2)) {
      val served = idx.searchDiverseRounded(query, 10, attrs,
        perSource = cap, candidates = 1000, attrCol = "lang")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
      val global = RelationalBM25.topKDiverse(docs, query, 10,
        perSource = cap, stem = false, sourceCol = "lang")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
      assert(served == global, s"cap=$cap")
      assert(served.nonEmpty)
      assert(served.groupBy(_._3).values.forall(_.size <= cap))
    }
    // and with an unbinding cap the page form reproduces plain searchRounded
    val plain = res(idx.searchRounded(query, 10))
    val unbound = idx.searchDiverseRounded(query, 10, attrs,
      perSource = 1000, candidates = 1000, attrCol = "lang")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(unbound == plain)
  }

  test("filtered search composes with the tombstone overlay") {
    val dir = Files.createTempDirectory("graft-ext-del").toString
    IndexBuilder.build(spark, docs, dir, cfg)
    val toDelete = docs.filter(pmod(col("docId"), lit(5L)) === 2).select("docId")
    IndexBuilder.delete(spark, toDelete, dir, "d1")
    PostingIndex.invalidate(dir)
    val deleted = toDelete.collect().map(_.getLong(0)).toSet

    val allowed = docs.filter(pmod(col("docId"), lit(2L)) === 0).select("docId")
    val allowedIds = allowed.collect().map(_.getLong(0)).toSet
    val idx2 = PostingIndex.forDir(spark, dir)
    for (cap <- Seq(PostingIndex.filterBroadcastCap, 0)) {
      val got = res(idx2.searchFiltered(query, 10, allowed, broadcastCap = cap))
      assert(got.nonEmpty)
      assert(got.forall { case (d, _) => allowedIds.contains(d) && !deleted.contains(d) })
      // == undeleted-index global ranking restricted to (allowed minus deleted)
      val expected = res(idx.search(query, 1000))
        .filter { case (d, _) => allowedIds.contains(d) && !deleted.contains(d) }
        .take(10)
      assert(got == expected)
    }
  }

  test("expansion forms compose with the tombstone overlay: prefix, wildcard, fuzzy, synonyms") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ext-exp-del").toString
    IndexBuilder.build(spark, docs, dir, cfg)
    val toDelete = docs.filter(pmod(col("docId"), lit(5L)) === 2).select("docId")
    IndexBuilder.delete(spark, toDelete, dir, "d1")
    PostingIndex.invalidate(dir)
    val deleted = toDelete.collect().map(_.getLong(0)).toSet
    val idx2 = PostingIndex.forDir(spark, dir)

    val vocab: Seq[String] = spark.read.parquet(s"$idxDir/postings")
      .groupBy("term").agg(org.apache.spark.sql.functions.sum("n").as("df"))
      .as[(String, Long)].collect().toSeq
      .sortBy { case (t, df) => (-df, t) }.map(_._1)
    val t0 = vocab.find(_.length >= 5).get
    val fuzz = t0.updated(1, if (t0(1) == 'q') 'x' else 'q')
    val syns = Seq((idx.queryTerms(query).head._1, vocab(0)),
      (idx.queryTerms(query).head._1, vocab(1))).toDF("term", "syn")
    val forms: Seq[(String, (PostingIndex, Int) => DataFrame)] = Seq(
      "prefix" -> ((h, k) => h.searchPrefixRounded("s", k, maxExpansions = 3)),
      "wildcard" -> ((h, k) => h.searchWildcardRounded(s"${t0.head}*${t0.last}", k, 3)),
      "fuzzy" -> ((h, k) => h.searchFuzzyRounded(fuzz, k, maxEdits = 1)),
      "synonyms" -> ((h, k) => h.searchSynonymsRounded(query, syns, k)))
    // expansion sets match: df counts include tombstoned postings until a
    // compact, so the deleted index expands exactly like the undeleted one
    for ((name, form) <- forms) {
      val full = res(form(idx, 1000))
      assert(full.exists { case (d, _) => deleted.contains(d) }, name)
      val expected = full.filterNot { case (d, _) => deleted.contains(d) }.take(10)
      assert(res(form(idx2, 10)) == expected, name)
    }
  }

  test("filtered search: empty allow set and empty-term query yield empty results") {
    val none = docs.filter(lit(false)).select("docId")
    assert(res(idx.searchFiltered(query, 10, none)).isEmpty)
    assert(res(idx.searchFiltered("the and of", 10, docs.select("docId"))).isEmpty)
  }

  test("prefix search: expansion == df-desc/term-asc cap over the vocabulary") {
    import spark.implicits._
    // recompute the expansion contract directly from the posting segments
    val vocabDf = spark.read.parquet(s"$idxDir/postings")
      .groupBy("term").agg(org.apache.spark.sql.functions.sum("n").as("df"))
      .as[(String, Long)].collect().toSeq
    val expansions = vocabDf.filter(_._1.startsWith("s"))
      .sortBy { case (t, df) => (-df, t) }.take(3).map(_._1)
    assert(expansions.length == 3)
    // engine result == WAND over exactly those terms with weight 1: compare
    // against a one-term-at-a-time reconstruction through the public search
    // path (each expanded term is a valid single-term query; scores add)
    val got = res(idx.searchPrefixRounded("s", 10, maxExpansions = 3))
    assert(got.nonEmpty)
    val perTerm: Map[Long, Double] = expansions
      .flatMap(t => res(idx.search(t, 1000)))
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).sum }
    val expected = perTerm.toSeq
      .map { case (d, s) => (d, math.rint(s * 1e4) / 1e4) }
      .sortBy { case (d, s) => (-s, d) }.take(10)
    // rounding boundary: compare sets of (doc, score) at 4 dp — the exact
    // per-shard sum order differs between the two constructions only past
    // double-associativity, which the 4-dp round absorbs for this corpus
    assert(got.toSet == expected.toSet)
  }

  test("prefix search: no matching vocabulary -> empty; bad prefix rejected") {
    assert(res(idx.searchPrefixRounded("zzzz", 10)).isEmpty)
    intercept[IllegalArgumentException](idx.searchPrefixRounded("", 10))
    intercept[IllegalArgumentException](idx.searchPrefixRounded("a%", 10))
  }

  test("phrase search == naive full-corpus re-analysis scan") {
    val analyzer = Analyzer.noStem(Analyzer.defaultStopWords)
    val all: Seq[(Long, Array[String])] = docs.select("docId", "content").collect()
      .map(r => (r.getLong(0), analyzer.analyze(r.getString(1)))).toSeq
    // pick a phrase that provably occurs: adjacent analyzed tokens mid-doc
    val (_, toks) = all.find(_._2.length > 10).get
    val phrase = s"${toks(5)} ${toks(6)}"
    val seq = analyzer.analyze(phrase)
    def containsAdjacent(ts: Array[String]): Boolean =
      ts.indices.exists(i => i + seq.length <= ts.length &&
        seq.indices.forall(j => ts(i + j) == seq(j)))
    val naiveMatches = all.filter { case (_, ts) => containsAdjacent(ts) }.map(_._1).toSet
    assert(naiveMatches.nonEmpty)

    val got = res(idx.searchPhraseRounded(phrase, 1000, docs))
    assert(got.map(_._1).toSet == naiveMatches)
    // scores == the conjunctive ranking's scores for those docs
    val conj = res(idx.searchConjunctiveRounded(phrase, 1000)).toMap
    assert(got.forall { case (d, s) => conj(d) == s })
    // and the ordering is the usual (score desc, doc asc) total order
    assert(got == got.sortBy { case (d, s) => (-s, d) })
  }

  test("positional sidecar: phrase results identical to the verification path") {
    val dir = Files.createTempDirectory("graft-ext-pos").toString
    IndexBuilder.build(spark, docs, dir, cfg)
    val idxP = new PostingIndex(spark, dir)
    assert(!idxP.hasFreshPositions)
    intercept[IllegalArgumentException](idxP.searchPhrasePositionalRounded("longest river", 5))
    IndexBuilder.buildPositions(spark, docs, dir)
    assert(idxP.hasFreshPositions)

    val analyzer = Analyzer.noStem(Analyzer.defaultStopWords)
    val all: Seq[(Long, Array[String])] = docs.select("docId", "content").collect()
      .map(r => (r.getLong(0), analyzer.analyze(r.getString(1)))).toSeq
    val (_, toks) = all.find(_._2.length > 12).get
    // several phrases incl. a 3-gram and a repeated-token phrase
    val phrases = Seq(
      s"${toks(5)} ${toks(6)}",
      s"${toks(3)} ${toks(4)} ${toks(5)}",
      s"${toks(7)} ${toks(7)}", // repeated token: needs p and p+1 in the SAME list
      "longest river")
    phrases.foreach { ph =>
      // force the verification path through a sidecar-LESS handle (idx) and
      // the positional path through idxP; both must agree exactly
      val viaVerify = res(idx.searchPhraseRounded(ph, 1000, docs))
      val viaPos = res(idxP.searchPhrasePositionalRounded(ph, 1000))
      assert(viaPos == viaVerify, s"phrase '$ph'")
      // the auto-selecting entry point on the sidecar index takes the
      // positional path (docs df ignored): same answer again
      assert(res(idxP.searchPhraseRounded(ph, 1000, docs.limit(0))) == viaVerify,
        s"auto-select for '$ph'")
    }
  }

  test("positional KWIC == brute-force recomputation from analyzed streams") {
    val dir = Files.createTempDirectory("graft-ext-kwicpos").toString
    IndexBuilder.build(spark, docs, dir, cfg)
    IndexBuilder.buildPositions(spark, docs, dir)
    val idxP = new PostingIndex(spark, dir)
    val analyzer = Analyzer.noStem(Analyzer.defaultStopWords)
    val streams: Map[Long, Array[String]] = docs.select("docId", "content")
      .collect().map(r => (r.getLong(0), analyzer.analyze(r.getString(1)))).toMap
    val q = "longest river"
    val qTerms = analyzer.analyze(q).distinct.toSet
    val w = 4
    val topk = res(idxP.searchRounded(q, 10))
    val expected = topk.map { case (d, s) =>
      val toks = streams(d)
      // first (pos, term) over EXACT analyzed-token matches
      val (pos, term) = toks.zipWithIndex
        .collect { case (t, i) if qTerms(t) => (i.toLong, t) }
        .minBy { case (p, t) => (p, t) }
      val kwic = toks.slice(math.max(0, pos.toInt - w),
        math.min(toks.length, pos.toInt + w + 1)).mkString(" ")
      (d, s, term, pos, kwic)
    }
    val got = idxP.kwicPositionalRounded(q, 10, docs, window = w).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getLong(3),
        r.getString(4))).toSeq
    assert(got == expected)
  }

  test("positional sidecar: delete overlay composes; compact invalidates (buildId gate)") {
    val dir = Files.createTempDirectory("graft-ext-pos-lc").toString
    IndexBuilder.build(spark, docs, dir, cfg)
    IndexBuilder.buildPositions(spark, docs, dir)
    val analyzer = Analyzer.noStem(Analyzer.defaultStopWords)
    val all: Seq[(Long, Array[String])] = docs.select("docId", "content").collect()
      .map(r => (r.getLong(0), analyzer.analyze(r.getString(1)))).toSeq
    val (_, toks) = all.find(_._2.length > 10).get
    val phrase = s"${toks(5)} ${toks(6)}"

    val before = res(new PostingIndex(spark, dir).searchPhrasePositionalRounded(phrase, 1000))
    assert(before.nonEmpty)
    // tombstone half the matches: delete does NOT change the buildId, the
    // sidecar stays fresh, and deleted docs drop at candidate time
    val victims = before.map(_._1).zipWithIndex.filter(_._2 % 2 == 0).map(_._1).toSet
    import spark.implicits._
    IndexBuilder.delete(spark, victims.toSeq.toDF("docId"), dir, "px1")
    PostingIndex.invalidate(dir)
    val idxDel = PostingIndex.forDir(spark, dir)
    assert(idxDel.hasFreshPositions)
    val after = res(idxDel.searchPhrasePositionalRounded(phrase, 1000))
    assert(after == before.filterNot { case (d, _) => victims.contains(d) })

    // compact rewrites the index under a new buildId -> sidecar stale:
    // the explicit positional form refuses, the auto form falls back to
    // verification and stays exact
    IndexBuilder.compact(spark, dir, cfg)
    PostingIndex.invalidate(dir)
    val idxC = PostingIndex.forDir(spark, dir)
    assert(!idxC.hasFreshPositions)
    intercept[IllegalArgumentException](idxC.searchPhrasePositionalRounded(phrase, 5))
    // compaction REFRESHES statistics over the survivors, so scores move;
    // the phrase-matching doc SET must not
    val viaVerify = res(idxC.searchPhraseRounded(phrase, 1000, docs))
    assert(viaVerify.map(_._1).toSet == after.map(_._1).toSet)
    // rebuilding the sidecar over the compacted survivors renews it, and
    // the positional path agrees with the verification path exactly
    IndexBuilder.buildPositions(spark, docs.filter(!col("docId").isin(victims.toSeq: _*)), dir)
    assert(idxC.hasFreshPositions)
    assert(res(idxC.searchPhrasePositionalRounded(phrase, 1000)) == viaVerify)
  }

  test("phrase search: non-adjacent AND matches are rejected; stop-only phrase empty") {
    // a reversed phrase has the same conjunctive candidates but (almost
    // surely) different adjacency set; verify the verifier actually filters
    val analyzer = Analyzer.noStem(Analyzer.defaultStopWords)
    val all: Seq[(Long, Array[String])] = docs.select("docId", "content").collect()
      .map(r => (r.getLong(0), analyzer.analyze(r.getString(1)))).toSeq
    val (_, toks) = all.find(_._2.length > 10).get
    val phrase = s"${toks(5)} ${toks(6)}"
    val conjDocs = res(idx.searchConjunctiveRounded(phrase, 1000)).map(_._1).toSet
    val phraseDocs = res(idx.searchPhraseRounded(phrase, 1000, docs)).map(_._1).toSet
    assert(phraseDocs.subsetOf(conjDocs))
    assert(phraseDocs != conjDocs, // the verification must have bitten
      "test corpus degenerate: every AND match is adjacent — pick other tokens")
    assert(res(idx.searchPhraseRounded("the and", 10, docs)).isEmpty)
  }

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("fuzzy search: expansion == levenshtein-band df-desc/term-asc cap; result == per-term reconstruction") {
    import spark.implicits._
    val vocabDf: Seq[(String, Long)] = spark.read.parquet(s"$idxDir/postings")
      .groupBy("term").agg(org.apache.spark.sql.functions.sum("n").as("df"))
      .as[(String, Long)].collect().toSeq
    // a misspelling one edit from a real high-df term: mutate its 2nd char
    val base = vocabDf.filter(_._1.length >= 5).maxBy { case (t, df) => (df, t) }._1
    val fuzz = base.updated(1, if (base(1) == 'q') 'x' else 'q')
    assert(lev(fuzz, base) == 1 && !vocabDf.exists(_._1 == fuzz))
    for (maxEdits <- Seq(1, 2); maxExp <- Seq(2, 16)) {
      val expansions = vocabDf
        .filter { case (t, _) => math.abs(t.length - fuzz.length) <= maxEdits &&
          lev(t, fuzz) <= maxEdits }
        .sortBy { case (t, df) => (-df, t) }.take(maxExp).map(_._1)
      assert(expansions.contains(base))
      val got = res(idx.searchFuzzyRounded(fuzz, 10, maxEdits, maxExp))
      assert(got.nonEmpty, s"maxEdits=$maxEdits maxExp=$maxExp")
      // reconstruction through the public single-term search path (weight 1
      // per expanded term; scores add) — same contract as the prefix test
      val perTerm: Map[Long, Double] = expansions
        .flatMap(t => res(idx.search(t, 1000)))
        .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).sum }
      val expected = perTerm.toSeq
        .map { case (d, s) => (d, math.rint(s * 1e4) / 1e4) }
        .sortBy { case (d, s) => (-s, d) }.take(10)
      assert(got.toSet == expected.toSet, s"maxEdits=$maxEdits maxExp=$maxExp")
    }
    // an exact vocabulary term at maxEdits=0 degenerates to the plain
    // single-term ranking
    assert(res(idx.searchFuzzyRounded(base, 10, maxEdits = 0)) ==
      res(idx.searchRounded(base, 10)))
  }

  test("fuzzy search: no in-band vocabulary -> empty; bad input rejected") {
    assert(res(idx.searchFuzzyRounded("qqqqqqqqqqqqqqqq", 10, maxEdits = 1)).isEmpty)
    intercept[IllegalArgumentException](idx.searchFuzzyRounded("", 10))
    intercept[IllegalArgumentException](idx.searchFuzzyRounded("a b", 10))
    intercept[IllegalArgumentException](idx.searchFuzzyRounded("abc", 10, maxEdits = 3))
  }

  test("facet counts == brute-force analyzed-match counts; tombstones excluded") {
    val analyzer = Analyzer.noStem(Analyzer.defaultStopWords)
    val all: Seq[(Long, Set[String], String)] = docs
      .select("docId", "content", "lang").collect()
      .map(r => (r.getLong(0), analyzer.analyze(r.getString(1)).toSet, r.getString(2))).toSeq
    val qTerms = analyzer.analyze(query).toSet
    def truth(dead: Set[Long]): Map[String, Long] = all
      .filter { case (d, ts, _) => !dead.contains(d) && ts.exists(qTerms) }
      .groupBy(_._3).map { case (l, xs) => l -> xs.size.toLong }
    def got(h: PostingIndex): Map[String, Long] =
      h.facetCounts(query, docs, "lang").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap

    assert(got(idx) == truth(Set.empty))
    assert(got(idx).values.sum > 0)
    // empty-term query -> empty frame with the facet schema
    assert(idx.facetCounts("the and of", docs, "lang").collect().isEmpty)

    // tombstoned docs must not inflate any facet
    val dir = Files.createTempDirectory("graft-ext-facet").toString
    IndexBuilder.build(spark, docs, dir, cfg)
    val victims = docs.filter(pmod(col("docId"), lit(4L)) === 1).select("docId")
    IndexBuilder.delete(spark, victims, dir, "f1")
    PostingIndex.invalidate(dir)
    val dead = victims.collect().map(_.getLong(0)).toSet
    assert(got(PostingIndex.forDir(spark, dir)) == truth(dead))
  }

  test("more-like-this: profile == (tf desc, df asc, term asc) cap; result == weighted per-term reconstruction minus the source") {
    val analyzer = Analyzer.noStem(Analyzer.defaultStopWords)
    val all: Seq[(Long, Seq[String])] = docs.select("docId", "content").collect()
      .map(r => (r.getLong(0), analyzer.analyze(r.getString(1)).toSeq)).toSeq
    val corpusDf: Map[String, Long] = all.flatMap(_._2.distinct)
      .groupBy(identity).map { case (t, xs) => (t, xs.size.toLong) }
    // a deterministic source with a non-trivial vocabulary (and, over the
    // xxhash64 id scheme, a ~50% chance of being a NEGATIVE id)
    val src = all.filter(_._2.distinct.size >= 10).minBy(_._1)
    val srcTf: Map[String, Long] = src._2
      .groupBy(identity).map { case (t, xs) => (t, xs.size.toLong) }
    for (maxTerms <- Seq(3, 8)) {
      val profile: Seq[String] = srcTf.keys.toSeq
        .sortBy(t => (-srcTf(t), corpusDf(t), t)).take(maxTerms)
      // reconstruction through the public single-term search path with
      // qtf = the source tf (scores add); source doc excluded
      val perDoc: Map[Long, Double] = profile
        .flatMap(t => res(idx.search(t, 1000)).map { case (d, s) => (d, srcTf(t) * s) })
        .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).sum }
      val expected = (perDoc - src._1).toSeq
        .map { case (d, s) => (d, math.rint(s * 1e4) / 1e4) }
        .sortBy { case (d, s) => (-s, d) }.take(10)
      val got = res(idx.searchMoreLikeThisRounded(src._1, 10, docs, maxTerms))
      assert(got.nonEmpty && !got.exists(_._1 == src._1), s"maxTerms=$maxTerms")
      assert(got.toSet == expected.toSet, s"maxTerms=$maxTerms")
    }
    // unknown source doc is an input error, not an empty result
    intercept[IllegalArgumentException](
      idx.searchMoreLikeThisRounded(Long.MaxValue - 1, 10, docs))
  }

  test("explainScore: index-decoded breakdown == independent corpus-derived BM25 components") {
    // Spark's round(col, 4) is BigDecimal.valueOf + HALF_UP — mirror it
    def r4(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val analyzer = Analyzer.noStem(Analyzer.defaultStopWords)
    val all: Seq[(Long, Seq[String])] = docs.select("docId", "content").collect()
      .map(r => (r.getLong(0), analyzer.analyze(r.getString(1)).toSeq)).toSeq
    val n = all.size.toDouble
    val dlMap = all.map { case (d, ts) => d -> ts.size.toDouble }.toMap
    val avgdl = all.map(_._2.size.toLong).sum.toDouble / n
    val qTerms: Map[String, Double] = analyzer.analyze(query).toSeq
      .groupBy(identity).map { case (t, xs) => (t, xs.size.toDouble) }
    val dfMap: Map[String, Long] = all.flatMap(_._2.distinct)
      .groupBy(identity).map { case (t, xs) => (t, xs.size.toLong) }
    // a doc containing >= 2 distinct query terms, deterministically chosen
    val target = all.filter(_._2.toSet.count(qTerms.keySet) >= 2).minBy(_._1)
    val expected = qTerms.keys.toSeq.sorted.flatMap { t =>
      val tf = target._2.count(_ == t).toLong
      if (tf == 0L) None
      else {
        val idf = BM25.idf(n, dfMap(t).toDouble)
        val w = BM25.weight(tf.toDouble, dlMap(target._1), avgdl, idf, BM25.default)
        Some((t, qTerms(t), tf, dfMap(t), r4(idf), r4(w * qTerms(t))))
      }
    }
    assert(expected.size >= 2)
    val got = idx.explainScore(query, target._1).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == expected)
    // no surviving query terms -> empty with the explain schema
    assert(idx.explainScore("the and of", target._1).collect().isEmpty)
  }

  test("explainScore: tombstoned document explains to an empty frame") {
    val dir = Files.createTempDirectory("graft-ext-explain").toString
    IndexBuilder.build(spark, docs, dir, cfg)
    val target = PostingIndex.forDir(spark, dir).search(query, 1).head().getLong(0)
    assert(PostingIndex.forDir(spark, dir).explainScore(query, target).count() > 0)
    import spark.implicits._
    IndexBuilder.delete(spark, Seq(target).toDF("docId"), dir, "e1")
    PostingIndex.invalidate(dir)
    assert(PostingIndex.forDir(spark, dir).explainScore(query, target).collect().isEmpty)
  }

  test("more-like-this composes with the tombstone overlay") {
    val dir = Files.createTempDirectory("graft-ext-mlt").toString
    IndexBuilder.build(spark, docs, dir, cfg)
    val src = docs.select("docId").orderBy(col("docId")).head().getLong(0)
    val before = res(PostingIndex.forDir(spark, dir)
      .searchMoreLikeThisRounded(src, 10, docs))
    assert(before.nonEmpty)
    // tombstone the current top hit: it must vanish while survivors keep
    // their (pre-delete statistics) scores
    val topHit = before.head._1
    import spark.implicits._
    IndexBuilder.delete(spark, Seq(topHit).toDF("docId"), dir, "m1")
    PostingIndex.invalidate(dir)
    val after = res(PostingIndex.forDir(spark, dir)
      .searchMoreLikeThisRounded(src, 10, docs))
    assert(!after.exists(_._1 == topHit))
    assert(before.filterNot(_._1 == topHit).take(9) == after.take(9))
  }

  // deterministic local corpus view for the boolean ground truths
  private lazy val boolAll: Seq[(Long, Set[String])] = {
    val analyzer = Analyzer.noStem(Analyzer.defaultStopWords)
    docs.select("docId", "content").collect()
      .map(r => (r.getLong(0), analyzer.analyze(r.getString(1)).toSet)).toSeq
  }
  // the four highest-df terms (ties term-asc): dense enough that every
  // clause combination below has matches in a 300-doc corpus
  private lazy val Seq(tA, tB, tC, tD) = boolAll.flatMap(_._2)
    .groupBy(identity).toSeq.map { case (t, xs) => (t, xs.size) }
    .sortBy { case (t, n) => (-n, t) }.take(4).map(_._1)

  /** Brute-force boolean ground truth through the PUBLIC single-term
    * search path (scores add; qtf weights multiply), k=10.
    */
  private def boolTruth(must: Seq[String], should: Seq[String],
                        not: Seq[String],
                        dead: Set[Long] = Set.empty): Seq[(Long, Double)] = {
    val posQtf = (must ++ should).groupBy(identity)
      .map { case (t, xs) => (t, xs.size.toDouble) }
    val perTerm: Map[String, Map[Long, Double]] = posQtf.keys.map { t =>
      t -> res(idx.search(t, 1000)).toMap
    }.toMap
    boolAll
      .filter { case (d, ts) =>
        !dead.contains(d) &&
          must.forall(ts) && not.forall(t => !ts(t)) &&
          (must.nonEmpty || should.exists(ts))
      }
      .map { case (d, _) =>
        val s = posQtf.collect {
          case (t, w) if perTerm(t).contains(d) => w * perTerm(t)(d)
        }.sum
        (d, math.rint(s * 1e4) / 1e4)
      }
      .sortBy { case (d, s) => (-s, d) }.take(10)
  }

  test("boolean search: must+should+mustNot == brute-force reconstruction over clause combinations") {
    val configs = Seq(
      (Seq(tA), Seq(tB, tC), Seq(tD)),      // all three clause kinds
      (Seq(tA, tB), Seq.empty[String], Seq(tC)), // pure must + not
      (Seq.empty[String], Seq(tA, tB), Seq(tC)), // pure should + not (WAND branch)
      (Seq(tA), Seq(tB), Seq.empty[String]))     // no negation
    for ((m, s, n) <- configs) {
      val expected = boolTruth(m, s, n)
      assert(expected.nonEmpty, s"degenerate fixture for ($m, $s, $n)")
      val got = res(idx.searchBooleanRounded(m.mkString(" "), s.mkString(" "),
        n.mkString(" "), 10))
      assert(got.toSet == expected.toSet, s"($m, $s, $n)")
    }
  }

  test("boolean search: degenerate forms reduce to the simpler operators") {
    // should-only, no negation == plain disjunctive search
    assert(res(idx.searchBooleanRounded("", s"$tA $tB", "", 10)) ==
      res(idx.searchRounded(s"$tA $tB", 10)))
    // must-only, no negation == conjunctive search
    assert(res(idx.searchBooleanRounded(s"$tA $tB", "", "", 10)) ==
      res(idx.searchConjunctiveRounded(s"$tA $tB", 10)))
    // a term in BOTH must and should carries the summed qtf — identical to
    // repeating the word in a plain query
    assert(res(idx.searchBooleanRounded(tA, tA, "", 10)) ==
      res(idx.searchRounded(s"$tA $tA", 10)))
  }

  test("boolean search: contradictions, empty inputs, and unknown terms") {
    // a term both required and negated can never match
    assert(res(idx.searchBooleanRounded(tA, "", tA, 10)).isEmpty)
    // must term absent from the vocabulary -> no conjunctive match
    assert(res(idx.searchBooleanRounded("zzzzunknownzzz", tB, "", 10)).isEmpty)
    // unknown mustNot term excludes nothing
    assert(res(idx.searchBooleanRounded(tA, "", "zzzzunknownzzz", 10)) ==
      res(idx.searchBooleanRounded(tA, "", "", 10)))
    // no positive clause is an input error (pure negation would enumerate
    // the corpus); stop-word-only positives analyze to the same error
    intercept[IllegalArgumentException](idx.searchBooleanRounded("", "", tA, 10))
    intercept[IllegalArgumentException](
      idx.searchBooleanRounded("the and", "of", tA, 10))
  }

  test("significant terms == brute-force fg/bg df-ratio lift; tombstones shape fg only") {
    // Spark round(col, 6) is BigDecimal HALF_UP — mirror it exactly
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val corpusN = boolAll.size.toDouble
    val bgDf: Map[String, Long] = boolAll.flatMap(_._2)
      .groupBy(identity).map { case (t, xs) => (t, xs.size.toLong) }
    def truth(q: Seq[String], dead: Set[Long], n: Int): Seq[(String, Long, Long, Double)] = {
      val matched = boolAll.collect {
        case (d, ts) if !dead.contains(d) && q.exists(ts) => d }.toSet
      val m = matched.size.toDouble
      boolAll.filter(x => matched(x._1)).flatMap(_._2)
        .groupBy(identity).toSeq
        .map { case (t, xs) =>
          (t, xs.size.toLong, bgDf(t),
            r6((xs.size / m) / (bgDf(t) / corpusN))) }
        .sortBy { case (t, _, _, l) => (-l, t) }.take(n)
    }
    def got(h: PostingIndex, q: String, n: Int): Seq[(String, Long, Long, Double)] =
      h.significantTerms(q, n).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    for (n <- Seq(5, 40)) {
      val expected = truth(Seq(tB, tC), Set.empty, n)
      assert(expected.nonEmpty)
      assert(got(idx, s"$tB $tC", n) == expected, s"n=$n")
    }
    // empty-term query -> empty frame with the schema
    assert(idx.significantTerms("the and of", 5).collect().isEmpty)

    // tombstones: the match set (and thus fg) shrinks; bg df and N keep
    // the index statistics (pre-compact contract)
    val dir = Files.createTempDirectory("graft-ext-sig").toString
    IndexBuilder.build(spark, docs, dir, cfg)
    val victims = docs.filter(pmod(col("docId"), lit(4L)) === 1).select("docId")
    IndexBuilder.delete(spark, victims, dir, "sg1")
    PostingIndex.invalidate(dir)
    val dead = victims.collect().map(_.getLong(0)).toSet
    assert(got(PostingIndex.forDir(spark, dir), s"$tB $tC", 20) ==
      truth(Seq(tB, tC), dead, 20))
  }

  test("search_after pagination walks the full ranking without gaps or duplicates") {
    // ground truth: the complete rounded total order
    val full = res(idx.searchRounded(s"$tA $tB $tC", 1000))
    assert(full.size > 20, "fixture too small to paginate")
    // cursor-walk pages of 7 until exhaustion; concatenation must equal
    // the full ranking exactly (no gaps, no duplicates, order preserved)
    val pages = Iterator.iterate(res(idx.searchRounded(s"$tA $tB $tC", 7))) {
      prev =>
        val (d, s) = prev.last
        res(idx.searchAfterRounded(s"$tA $tB $tC", 7, s, d))
    }.takeWhile(_.nonEmpty).take(1 + full.size / 7 + 2).toSeq
    assert(pages.flatten == full)
    // the +infinity cursor is the first page
    assert(res(idx.searchAfterRounded(s"$tA $tB $tC", 7,
      Double.PositiveInfinity, Long.MinValue)) == full.take(7))
    // a cursor inside a rounded-score TIE resumes by doc_id: synthesize by
    // cutting mid-tie if one exists in the fixture, else mid-ranking
    val ties = full.groupBy(_._2).filter(_._2.size >= 2)
    val (cd, cs) = if (ties.nonEmpty) ties.maxBy(_._1)._2.head
      else full(full.size / 2)
    val after = res(idx.searchAfterRounded(s"$tA $tB $tC", 1000, cs, cd))
    assert(after == full.dropWhile(x => !(x._1 == cd && x._2 == cs)).drop(1))
  }

  test("boolean search composes with the tombstone overlay") {
    val dir = Files.createTempDirectory("graft-ext-bool").toString
    IndexBuilder.build(spark, docs, dir, cfg)
    val before = res(PostingIndex.forDir(spark, dir)
      .searchBooleanRounded(tA, tB, tD, 10))
    assert(before.nonEmpty)
    val victim = before.head._1
    import spark.implicits._
    IndexBuilder.delete(spark, Seq(victim).toDF("docId"), dir, "b1")
    PostingIndex.invalidate(dir)
    val after = res(PostingIndex.forDir(spark, dir)
      .searchBooleanRounded(tA, tB, tD, 10))
    assert(!after.exists(_._1 == victim))
    // survivors keep their (pre-delete statistics) scores and order
    assert(before.filterNot(_._1 == victim).take(9) == after.take(9))
  }

  // -----------------------------------------------------------------------
  // Batch search (broadcast + table-valued forms) and suggestions
  // -----------------------------------------------------------------------

  private def resMany(df: DataFrame): Map[Long, Seq[(Long, Double)]] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3))).toMap

  test("searchManyRounded == per-query searchRounded (incl. degenerate query)") {
    val qs = Seq("longest river complexity", s"$tA $tB", "the and of", tC)
    val got = resMany(idx.searchManyRounded(qs, 10))
    qs.zipWithIndex.foreach { case (q, i) =>
      assert(got.getOrElse(i.toLong, Seq.empty) == res(idx.searchRounded(q, 10)),
        s"query '$q'")
    }
    // an all-degenerate batch is empty with the batch schema
    val empty = idx.searchManyRounded(Seq("the and", "of"), 10)
    assert(empty.columns.toSeq == Seq("query_id", "doc_id", "score"))
    assert(empty.collect().isEmpty)
  }

  test("searchManyTable == searchManyRounded; batch-count and id invariant") {
    import spark.implicits._
    val qs = Seq("longest river complexity", s"$tA $tB $tC", "the and of", tD)
    val expected = resMany(idx.searchManyRounded(qs, 10))
    for (b <- Seq(1, 3, 64)) {
      val qdf = qs.zipWithIndex.map { case (q, i) => (i.toLong, q) }
        .toDF("query_id", "query")
      assert(resMany(idx.searchManyTable(qdf, 10, queryBatches = b)) == expected,
        s"queryBatches=$b")
    }
    // non-contiguous and NEGATIVE caller ids: results keyed by the caller's
    // ids (pmod batching must not care)
    val shifted = qs.zipWithIndex.map { case (q, i) => (i * 7L - 3L, q) }
      .toDF("query_id", "query")
    val gotS = resMany(idx.searchManyTable(shifted, 10, queryBatches = 4))
    qs.indices.foreach { i =>
      assert(gotS.getOrElse(i * 7L - 3L, Seq.empty)
        == expected.getOrElse(i.toLong, Seq.empty), s"i=$i")
    }
    // all-degenerate query table -> empty
    assert(idx.searchManyTable(
      Seq((1L, "the and of")).toDF("query_id", "query"), 10).collect().isEmpty)
  }

  test("batch search property: table == broadcast == per-query over random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(97)
    val vocabPool = Seq("longest", "river", "best", "complexity", "world",
      "war", "common", "search", "science", "health", "climate", "the", "of")
    (1 to 8).foreach { trial =>
      val n = 30 + rnd.nextInt(120)
      val corpus = Corpus.fromCodeDocs(
        SyntheticCorpus.generate(spark, n, seed = 1000L + trial))
      val dir = Files.createTempDirectory(s"graft-many-prop$trial").toString
      val c = IndexConfig(shards = 1 + rnd.nextInt(5),
        termBuckets = 1 + rnd.nextInt(3), blockSize = 4 + rnd.nextInt(24),
        stem = false)
      IndexBuilder.build(spark, corpus, dir, c)
      val h = new PostingIndex(spark, dir)
      val qs = (0 until 1 + rnd.nextInt(6)).map { _ =>
        (0 until 1 + rnd.nextInt(3))
          .map(_ => vocabPool(rnd.nextInt(vocabPool.size))).mkString(" ")
      }
      val k = 1 + rnd.nextInt(12)
      val expected = resMany(h.searchManyRounded(qs, k))
      qs.zipWithIndex.foreach { case (q, i) =>
        assert(expected.getOrElse(i.toLong, Seq.empty)
          == res(h.searchRounded(q, k)), s"trial=$trial '$q'")
      }
      val qdf = qs.zipWithIndex.map { case (q, i) => (i.toLong, q) }
        .toDF("query_id", "query")
      val got = resMany(h.searchManyTable(qdf, k,
        queryBatches = 1 + rnd.nextInt(5)))
      assert(got == expected, s"trial=$trial k=$k qs=$qs")
    }
  }

  test("searchManyTable composes with the tombstone overlay") {
    val dir = Files.createTempDirectory("graft-ext-many").toString
    IndexBuilder.build(spark, docs, dir, cfg)
    import spark.implicits._
    val h0 = PostingIndex.forDir(spark, dir)
    val before = res(h0.searchRounded(tA, 10))
    assert(before.nonEmpty)
    val victim = before.head._1
    IndexBuilder.delete(spark, Seq(victim).toDF("docId"), dir, "m1")
    PostingIndex.invalidate(dir)
    val h = PostingIndex.forDir(spark, dir)
    val got = resMany(h.searchManyTable(
      Seq((5L, tA)).toDF("query_id", "query"), 10, queryBatches = 2))
    assert(got(5L) == res(h.searchRounded(tA, 10)))
    assert(!got(5L).exists(_._1 == victim))
  }

  test("proximity == brute-force ordered-window re-analysis; slop 0 == phrase; big slop == AND") {
    val dir = Files.createTempDirectory("graft-ext-prox").toString
    IndexBuilder.build(spark, docs, dir, cfg)
    IndexBuilder.buildPositions(spark, docs, dir)
    val idxP = new PostingIndex(spark, dir)
    val analyzer = Analyzer.noStem(Analyzer.defaultStopWords)
    val all: Seq[(Long, Array[String])] = docs.select("docId", "content").collect()
      .map(r => (r.getLong(0), analyzer.analyze(r.getString(1)))).toSeq
    def windowMatch(ts: Array[String], seq: Array[String], slop: Int): Boolean = {
      val bound = seq.length - 1 + slop
      ts.indices.exists { i =>
        if (ts(i) != seq(0)) false
        else {
          var prev = i
          var ok = true
          var j = 1
          while (j < seq.length && ok) {
            var n = prev + 1
            while (n < ts.length && ts(n) != seq(j)) n += 1
            if (n >= ts.length) ok = false else { prev = n; j += 1 }
          }
          ok && prev - i <= bound
        }
      }
    }
    val (_, toks) = all.find(_._2.length > 12).get
    // a 2-gram with a gap: tokens 5 and 7 (one token apart)
    val gapped = Array(toks(5), toks(7))
    for (ph <- Seq(Array(toks(5), toks(6)), gapped,
                   Array(toks(3), toks(5), toks(7)));
         slop <- Seq(0, 1, 2, 5)) {
      val truth = all.filter { case (_, ts) => windowMatch(ts, ph, slop) }
        .map(_._1).toSet
      val got = res(idxP.searchProximityRounded(ph.mkString(" "), slop, 1000))
      assert(got.map(_._1).toSet == truth, s"phrase=${ph.mkString(" ")} slop=$slop")
      // matching docs score as the conjunctive ranking scores them
      val conj = res(idxP.searchConjunctiveRounded(ph.mkString(" "), 1000)).toMap
      assert(got.forall { case (d, s) => conj(d) == s })
    }
    // slop 0 == the phrase surface exactly
    val ph2 = s"${toks(5)} ${toks(6)}"
    assert(res(idxP.searchProximityRounded(ph2, 0, 1000))
      == res(idxP.searchPhrasePositionalRounded(ph2, 1000)))
    // an ordered gapped pair: matched at slop >= gap, missed below it
    assert(res(idxP.searchProximityRounded(gapped.mkString(" "), 0, 1000)).size
      <= res(idxP.searchProximityRounded(gapped.mkString(" "), 1, 1000)).size)
    // a giant slop window == conjunctive AND restricted to ordered chains;
    // for a 2-gram both orders usually exist somewhere, so just pin truth
    val big = res(idxP.searchProximityRounded(ph2, 10000, 1000)).map(_._1).toSet
    assert(big == all.filter { case (_, ts) =>
      windowMatch(ts, Array(toks(5), toks(6)), 10000) }.map(_._1).toSet)
    intercept[IllegalArgumentException](idxP.searchProximityRounded("the and", 1, 5))
    intercept[IllegalArgumentException](idxP.searchProximityRounded(toks(5), 1, 5))
  }

  test("synonym expansion == weighted per-term reconstruction; cap, collision, unknown-syn") {
    import spark.implicits._
    // real vocabulary terms for the expansion targets
    val vocab: Seq[String] = spark.read.parquet(s"$idxDir/postings")
      .select("term").distinct().as[String].collect().toSeq.sorted
    val Seq(sA, sB, sC) = vocab.filterNot(Seq(tA, tB).contains).take(3)

    def reconstruct(weights: Map[String, Double], k: Int): Seq[(Long, Double)] =
      weights.toSeq.flatMap { case (t, w) =>
        res(idx.search(t, 1000)).map { case (d, s) => (d, s * w) } }
        .groupBy(_._1).map { case (d, xs) => (d, xs.map(_._2).sum) }.toSeq
        .map { case (d, s) => (d, math.rint(s * 1e4) / 1e4) }
        .sortBy { case (d, s) => (-s, d) }.take(k)

    val syns = Seq((tA, sA), (tA, sB), (tB, sC)).toDF("term", "syn")
    // search(t, …) scores with weight 1; synonym expansion of "tA tB"
    // gives every expanded term weight 1 too, so reconstruction weights
    // are 1 for tA, sA, sB, tB, sC
    val expected = reconstruct(
      Map(tA -> 1.0, sA -> 1.0, sB -> 1.0, tB -> 1.0, sC -> 1.0), 10)
    assert(res(idx.searchSynonymsRounded(s"$tA $tB", syns, 10)) == expected)

    // per-term cap keeps the lexicographically FIRST synonym
    val first = Seq(sA, sB).min
    val capped = reconstruct(Map(tA -> 1.0, first -> 1.0, tB -> 1.0, sC -> 1.0), 10)
    assert(res(idx.searchSynonymsRounded(s"$tA $tB", syns, 10,
      maxExpansionsPerTerm = 1)) == capped)

    // a synonym COLLIDING with another query term sums weights (tA -> tB
    // on query "tA tB": tB carries qtf 2)
    val collide = Seq((tA, tB)).toDF("term", "syn")
    val collided = reconstruct(Map(tA -> 1.0, tB -> 2.0), 10)
    assert(res(idx.searchSynonymsRounded(s"$tA $tB", collide, 10)) == collided)

    // out-of-vocabulary synonym contributes nothing; empty query rejected
    val oov = Seq((tA, "zzzzunknown")).toDF("term", "syn")
    assert(res(idx.searchSynonymsRounded(tA, oov, 10))
      == res(idx.searchRounded(tA, 10)))
    assert(res(idx.searchSynonymsRounded("the and of", syns, 10)).isEmpty)
    // malformed synonym value rejected
    intercept[IllegalArgumentException](
      res(idx.searchSynonymsRounded(tA, Seq((tA, "Bad Syn")).toDF("term", "syn"), 10)))
  }

  test("wildcard search: expansion == LIKE df-desc/term-asc cap; leading wildcard rejected") {
    import spark.implicits._
    val vocabDf: Seq[(String, Long)] = spark.read.parquet(s"$idxDir/postings")
      .groupBy("term")
      .agg(org.apache.spark.sql.functions.sum("n").cast("long").as("df"))
      .as[(String, Long)].collect().toSeq
    // a pattern guaranteed productive: first char + '*' + last char of a
    // real term (matches it, and possibly others)
    val t0 = vocabDf.filter(_._1.length >= 4).maxBy { case (t, df) => (df, t) }._1
    val pat = s"${t0.head}*${t0.last}"
    val rx = ("^" + pat.replace("*", ".*").replace("?", ".") + "$").r
    for (maxExp <- Seq(1, 3, 100)) {
      val expansions = vocabDf
        .filter { case (t, _) => rx.matches(t) }
        .sortBy { case (t, df) => (-df, t) }.take(maxExp).map(_._1)
      assert(expansions.contains(t0) || maxExp < expansions.size + 1)
      val got = res(idx.searchWildcardRounded(pat, 10, maxExp))
      val perTerm: Map[Long, Double] = expansions
        .flatMap(t => res(idx.search(t, 1000)))
        .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).sum }
      val expected = perTerm.toSeq
        .map { case (d, s) => (d, math.rint(s * 1e4) / 1e4) }
        .sortBy { case (d, s) => (-s, d) }.take(10)
      assert(got == expected, s"pat=$pat maxExp=$maxExp")
    }
    // '?' is exactly-one-char: a term with one char replaced matches itself
    val q1 = t0.updated(1, '?').take(t0.length)
    assert(res(idx.searchWildcardRounded(q1, 10, 100)).nonEmpty)
    assert(res(idx.searchWildcardRounded("zz*zz", 10, 8)).isEmpty)
    intercept[IllegalArgumentException](idx.searchWildcardRounded("*abc", 10))
    intercept[IllegalArgumentException](idx.searchWildcardRounded("?abc", 10))
    intercept[IllegalArgumentException](idx.searchWildcardRounded("a%b", 10))
    intercept[IllegalArgumentException](idx.searchWildcardRounded("", 10))
  }

  test("kwic == driver-side first-occurrence reconstruction; no-match rows kept") {
    import org.apache.spark.sql.functions.col
    val terms = idx.queryTerms(query).map(_._1)
    val topk = idx.searchRounded(query, 10)
    val docsKw = docs.select(col("docId").as("doc_id"), col("content").as("text"))
    val w = 10
    val got = Snippets.kwic(topk, docsKw, terms, window = w).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
        r.getInt(3), r.getString(4))).toSeq
    val textById: Map[Long, String] = docs.select("docId", "content").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase).toMap
    val expected = res(topk).map { case (d, s) =>
      val txt = textById(d)
      val cands = terms.distinct.sorted.flatMap { t =>
        val i = txt.indexOf(t); if (i >= 0) Some((i + 1, t)) else None }
      if (cands.isEmpty) (d, s, "", 0, "")
      else {
        val (pos, t) = cands.minBy { case (p, tt) => (p, tt) }
        val start = math.max(pos - w, 1)
        val kw = txt.substring(start - 1,
          math.min(txt.length, start - 1 + 2 * w + t.length))
        (d, s, t, pos, kw)
      }
    }
    assert(got == expected)
    assert(got.exists(_._4 > 1), "fixture degenerate: no mid-text match")
    // terms absent from every document: rows survive with ('', 0, '')
    val gotNo = Snippets.kwic(topk, docsKw, Seq("zzzznotfound"), w).collect()
    assert(gotNo.length == got.length)
    assert(gotNo.forall(r => r.getString(2) == "" && r.getInt(3) == 0
      && r.getString(4) == ""))
  }

  test("suggest == levenshtein-band df-desc/term-asc cap; edges rejected") {
    import spark.implicits._
    val vocabDf: Seq[(String, Long)] = spark.read.parquet(s"$idxDir/postings")
      .groupBy("term")
      .agg(org.apache.spark.sql.functions.sum("n").cast("long").as("df"))
      .as[(String, Long)].collect().toSeq
    val base = vocabDf.filter(_._1.length >= 5).maxBy { case (t, df) => (df, t) }._1
    val fuzz = base.updated(1, if (base(1) == 'q') 'x' else 'q')
    for (maxEdits <- Seq(1, 2); n <- Seq(1, 4, 1000)) {
      val expected = vocabDf
        .filter { case (t, _) => math.abs(t.length - fuzz.length) <= maxEdits &&
          lev(t, fuzz) <= maxEdits }
        .sortBy { case (t, df) => (-df, t) }.take(n)
      val got = idx.suggest(fuzz, maxEdits, n).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == expected, s"maxEdits=$maxEdits n=$n")
    }
    assert(idx.suggest("zzzzzzzzzz", 1, 5).collect().isEmpty)
    intercept[IllegalArgumentException](idx.suggest("", 1, 5))
    intercept[IllegalArgumentException](idx.suggest("a b", 1, 5))
    intercept[IllegalArgumentException](idx.suggest("abc", 3, 5))
  }
}
