package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.corpus.WebCorpus

/** Seeded inputs. The library sees only what these produce. */
object Gen {

  /** The WebCorpus doc id of a workload's `i`-th doc; the workload seed
    * picks the offset, so each seed indexes different docs. Ids are a prime
    * stride apart: the generator seeds each doc's random stream with its
    * id, and docs of consecutive ids have nearly the same length, so a
    * block of consecutive ids would give each seed inputs of another size.
    */
  def docId(offset: Long, i: Long): Long = offset + i * 7919L

  def text(offset: Long, i: Long): String = WebCorpus.genText(docId(offset, i))

  /** A workload's docs `from until from + n`. */
  def docs(spark: SparkSession, offset: Long, from: Long, n: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(from, from + n, 1, parts).as[Long].map(i => WebCorpus.genDoc(docId(offset, i))).toDF()
  }

  def docOffset(seed: Long): Long = (math.abs(seed) % 1000L) * 10000000L

  // Zipf(s = 1.1) over the corpus vocabulary, the corpus's own term law
  private lazy val zipfCum: Array[Double] = {
    val w = Array.tabulate(WebCorpus.VocabSize)(i => 1.0 / math.pow(i + 1.0, 1.1))
    val cum = w.scanLeft(0.0)(_ + _).tail
    cum.map(_ / cum.last)
  }

  def zipfRank(rnd: scala.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(zipfCum, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, WebCorpus.VocabSize - 1)
  }

  /** Ranks below this are the head: a Searcher's doc-freq cache can hold
    * them all (the search workload caches them in set-up).
    */
  val HeadRanks = 1000

  def term(rank: Int): String = f"w$rank%05d"
  /** A Zipf-drawn head term. */
  def headTerm(rnd: scala.util.Random): String = {
    var r = zipfRank(rnd)
    while (r >= HeadRanks) r = zipfRank(rnd)
    term(r)
  }
  def zipfTerm(rnd: scala.util.Random): String = term(zipfRank(rnd))
  /** A term from the Zipf tail (rank >= `from`), uniformly. */
  def tailTerm(rnd: scala.util.Random, from: Int): String =
    term(from + rnd.nextInt(WebCorpus.VocabSize - from))

  /** The vocabulary rank of a corpus token, -1 for a sentinel token. */
  private def rankOf(tok: String): Int =
    if (tok.length == 6 && tok.charAt(0) == 'w' && tok.drop(1).forall(_.isDigit)) tok.drop(1).toInt else -1
  private def isHead(tok: String): Boolean = { val r = rankOf(tok); r >= 0 && r < HeadRanks }

  /** `k` distinct terms of rank >= `minRank` from one of a workload's docs
    * `from until from + n`: terms that match at least that doc.
    */
  def docTerms(rnd: scala.util.Random, offset: Long, from: Long, n: Long, minRank: Int,
      k: Int): Seq[String] = {
    var found: Seq[String] = Nil
    while (found.isEmpty) {
      val toks = text(offset, from + (rnd.nextDouble() * n).toLong).split(' ')
        .filter(rankOf(_) >= minRank).distinct.toSeq
      if (toks.size >= k) found = rnd.shuffle(toks).take(k)
    }
    found
  }

  /** Two adjacent head tokens of a corpus doc: a phrase that matches. */
  def phrase(rnd: scala.util.Random, offset: Long, n: Long): String = {
    var found: String = null
    while (found == null) {
      val toks = text(offset, (rnd.nextDouble() * n).toLong).split(' ')
      val at = (0 until toks.length - 1).filter(i => isHead(toks(i)) && isHead(toks(i + 1)))
      if (at.nonEmpty) { val i = at(rnd.nextInt(at.size)); found = "\"" + toks(i) + " " + toks(i + 1) + "\"" }
    }
    found
  }

  /** Clustered embeddings of the vector scale probe's shape: dim 64,
    * n/100 topics, unit-variance centroids plus 0.35 Gaussian noise.
    */
  def vectors(spark: SparkSession, seed: Long, n: Int, parts: Int): DataFrame = {
    import spark.implicits._
    val dim = 64
    val nClusters = math.max(12, n / 100)
    val rnd = new scala.util.Random(seed)
    val centroids = Array.fill(nClusters, dim)(rnd.nextGaussian())
    spark.range(0, n.toLong, 1, parts).as[Long].map { i =>
      val r = new scala.util.Random(seed * 1000003L + i)
      val c = centroids((i % nClusters).toInt)
      (i, Array.tabulate(dim)(d => (c(d) + 0.35 * r.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  /** (doc_id, text) rows from the corpus generator where every fourth doc
    * is its predecessor with one token replaced, so the near-duplicate ops
    * have pairs to find.
    */
  def textDocs(spark: SparkSession, offset: Long, n: Int, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n.toLong, 1, parts).as[Long].map { i =>
      if (i % 4 != 3) (i, text(offset, i))
      else {
        val toks = text(offset, i - 1).split(' ')
        val r = new scala.util.Random(offset + i)
        toks(r.nextInt(toks.length)) = f"w${r.nextInt(WebCorpus.VocabSize)}%05d"
        (i, toks.mkString(" "))
      }
    }.toDF("doc_id", "text")
  }
}
