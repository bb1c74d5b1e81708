package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.corpus.{Corpus, SyntheticCorpus}

/** One query as a client sends it. `must`/`mustNot` non-empty selects the
  * boolean mode, `conj` the conjunctive mode, otherwise a ranked OR query.
  */
final case class Query(kind: String, text: String, must: String = "",
                       mustNot: String = "", conj: Boolean = false) {
  def json(limit: Int): String = {
    val sb = new StringBuilder(s"""{"query":"$text","limit":$limit""")
    if (conj) sb.append(""","conjunctive":true""")
    if (must.nonEmpty) sb.append(s""","must":"$must"""")
    if (mustNot.nonEmpty) sb.append(s""","must_not":"$mustNot"""")
    sb.append('}').toString
  }
}

/** Seeded inputs. The program under test only ever sees what these
  * functions generate; the same seed gives the same corpora and queries.
  */
object Inputs {

  /** Pool words that survive analysis (stop words would empty a query). */
  val commonWords: Array[String] =
    (SyntheticCorpus.queryVocab ++ SyntheticCorpus.stemmables)
      .filter(w => Analyzer.default.analyze(w).nonEmpty).distinct

  /** The `SyntheticCorpus` rows (repo, path, commit, lang, content): the
    * input shape `graft.Main build` reads.
    */
  def codeDocs(spark: SparkSession, n: Int, seed: Long, vocabSpread: Int): DataFrame =
    SyntheticCorpus.generate(spark, n, seed, vocabSpread = vocabSpread)

  /** The same rows in the `documents.parquet` shape `SearchServer` reads:
    * (doc_id, text, lang, source, n_chars), ids from `Corpus.fromCodeDocs`.
    */
  def documents(codeDocs: DataFrame): DataFrame =
    Corpus.fromCodeDocs(codeDocs).select(col("docId").as("doc_id"),
      col("content").as("text"), col("lang"), concat(lit("src-"), col("lang")).as("source"),
      length(col("content")).as("n_chars"))

  /** Identifier terms are `ident<i>`, i < spread; a doc draws a third of its
    * words from them, so a rare term's df is about docs * words / (3 * spread).
    */
  def identifier(rnd: scala.util.Random, spread: Int): String = s"ident${rnd.nextInt(spread)}"

  private def words(rnd: scala.util.Random, n: Int): Seq[String] =
    Seq.fill(n)(commonWords(rnd.nextInt(commonWords.length)))

  private def distinctWords(rnd: scala.util.Random, n: Int): Seq[String] =
    rnd.shuffle(commonWords.toSeq).take(n)

  /** The serve mix: `mix` maps kind -> weight over rare / common /
    * conjunctive / boolean. Queries come in blocks of sum(weights) that hold
    * every kind exactly `weight` times, in seeded order, so any window of
    * consecutive requests carries the mix, not just the whole sequence; rare
    * queries cycle through 1-2 identifiers and common ones through 2-4 words
    * the same way. Only the terms themselves are drawn at random.
    */
  def serveQueries(n: Int, seed: Long, spread: Int, mix: Map[String, Int]): IndexedSeq[Query] = {
    val rnd = new scala.util.Random(seed)
    val block = Seq("rare", "common", "conjunctive", "boolean").flatMap(k => Seq.fill(mix(k))(k))
    var (rare, common) = (0, 0)
    Iterator.continually(rnd.shuffle(block)).flatten.take(n).map {
      case kind @ "rare" =>
        rare += 1
        Query(kind, Seq.fill(1 + rare % 2)(identifier(rnd, spread)).mkString(" "))
      case kind @ "common" =>
        common += 1
        Query(kind, words(rnd, 2 + common % 3).mkString(" "))
      case kind @ "conjunctive" => Query(kind, distinctWords(rnd, 2).mkString(" "), conj = true)
      case kind =>
        val ws = distinctWords(rnd, 4)
        Query(kind, ws.slice(1, 3).mkString(" "), must = ws.head, mustNot = ws(3))
    }.toIndexedSeq
  }

  /** Posting-heavy batch queries: 3-8 common words, the df~N term `return`
    * in half of them. Lengths and `return` cycle in blocks of 12 so every
    * job carries the same amount of each; the words are drawn at random.
    */
  def batchQueries(n: Int, seed: Long): IndexedSeq[String] = {
    val rnd = new scala.util.Random(seed)
    IndexedSeq.tabulate(n) { i =>
      val ws = words(rnd, 3 + i % 6)
      (if (i / 6 % 2 == 0) ws :+ "return" else ws).mkString(" ")
    }
  }
}
