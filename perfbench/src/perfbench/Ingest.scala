package perfbench

import org.apache.spark.sql.SparkSession
import graft.analysis.Analyzer
import graft.corpus.WebCorpus
import graft.index.{Deleter, IndexBuilder, IndexConfig, IndexManifest, SegmentMerger}
import graft.search.{Query, QueryParser, Searcher}
import graft.streaming.StreamingIndexer

/** Writes beside reads. A cycle builds an index from a staged corpus, then
  * runs rounds of append, delete and a fresh Searcher's top-k reads, then
  * merges until the log policy is stable and accounts the index's space.
  * Deletes are lazy and every append adds segments, so the reads run on a
  * fragmented, tombstoned index.
  */
final class Ingest(seed: Long) extends Workload {
  val BaseDocs = 15000L
  val Rounds = 2
  val AppendDocs = 2000L
  val ReadsPerRound = 3

  private val offset = Gen.docOffset(seed)
  private val rnd = new scala.util.Random(seed)
  private var base: String = _
  private var batches: Seq[String] = Nil
  /** The analyzer's token count over the base corpus and the text bytes of
    * every input doc: check and space inputs, computed once per run on the
    * last set-up's staged corpus, outside set-up and the timed calls.
    */
  private lazy val baseTokens: Long = {
    val spark = SparkSession.active
    import spark.implicits._
    val analyzer = cfg.textAnalyzer
    spark.read.parquet(base).select("text").as[String]
      .map(t => Analyzer.chain(analyzer)(t).length.toLong).reduce(_ + _)
  }
  private lazy val inputTextBytes: Long = (base +: batches).map { d =>
    SparkSession.active.read.parquet(d).selectExpr("sum(octet_length(text))").head().getLong(0)
  }.sum
  private var cfg: IndexConfig = _
  private var lastSpace: Map[String, Double] = Map.empty
  /** the last cycle's merged index, kept for the traced run's kernel probes */
  private var lastIndex: String = _

  private def appendFrom(round: Int): Long = BaseDocs + round * AppendDocs

  def setup(r: Run): Unit = {
    cfg = IndexConfig(numPartitions = r.cores)
    base = r.freshDir("corpus")
    Gen.docs(r.spark, offset, 0L, BaseDocs, r.cores).write.parquet(base)
    batches = (0 until Rounds).map { i =>
      val d = r.freshDir("batch")
      Gen.docs(r.spark, offset, appendFrom(i), AppendDocs, r.cores).write.parquet(d)
      d
    }
    // warm-up on a small corpus: the build, append and read paths
    val wdir = r.freshDir("warm")
    IndexBuilder.build(r.spark, Gen.docs(r.spark, 0L, 0L, 1000L, r.cores), wdir, cfg)
    StreamingIndexer.appendBatch(r.spark, Gen.docs(r.spark, 0L, 1000L, 300L, r.cores), wdir, cfg, 0L)
    new Searcher(r.spark, wdir).topDocs(Query.Term(cfg.textField, "alpha"), 10)
  }

  private def urlOf(i: Long): String = WebCorpus.genDoc(Gen.docId(offset, i)).url

  def cycle(r: Run, n: Int): Unit = {
    if (lastIndex != null) org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lastIndex))
    val dir = r.freshDir("ingest")
    val spark = r.spark
    val built = r.call("index.build", BaseDocs.toDouble,
        (m: IndexManifest) => m.totalDocs == BaseDocs) {
      IndexBuilder.build(spark, spark.read.parquet(base), dir, cfg)
    }
    if (built.isEmpty) return
    r.check(built.get.totalTokens == baseTokens,
      s"manifest tokens ${built.get.totalTokens} != analyzed input tokens $baseTokens")

    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    val appended = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until Rounds).foreach { round =>
      val before = IndexManifest.read(spark, dir).get.segments.size
      r.call("streaming.append", AppendDocs.toDouble,
          (m: IndexManifest) => m.totalDocs == BaseDocs + (round + 1) * AppendDocs) {
        val m = StreamingIndexer.appendBatch(spark, spark.read.parquet(batches(round)), dir, cfg,
          round.toLong)
        r.tracer.attr("segments_added", m.segments.size - before)
        m
      }
      // the last appended doc is found
      val url = urlOf(appendFrom(round) + AppendDocs - 1)
      appended += url
      val live = new Searcher(spark, dir)
      r.check(live.count(Query.Term(cfg.keyField, url)) == 1L, s"appended doc $url not found")
      // a term (even rounds) or a two-term AND (odd rounds) of a doc just
      // appended, so it matches live docs before the delete
      val del =
        if (round % 2 == 0) Gen.docTerms(rnd, offset, appendFrom(round), AppendDocs, 200, 1).head
        else Gen.docTerms(rnd, offset, appendFrom(round), AppendDocs, 50, 2).mkString(" AND ")
      deleted += del
      val liveParser = new QueryParser(live.manifest.textField, analyzer = live.manifest.textAnalyzer)
      r.check(live.count(liveParser.parse(del)) > 0L, s"'$del' matches nothing before its delete")
      r.call("index.delete", 0.0) {
        if (round % 2 == 0) Deleter.deleteTerm(spark, dir, cfg.textField, del)
        else Deleter.deleteQuery(spark, dir, del)
      }
      val s = new Searcher(spark, dir)
      val p = new QueryParser(s.manifest.textField, analyzer = s.manifest.textAnalyzer)
      r.check(s.count(p.parse(del)) == 0L, s"deleted '$del' still matches")
      val reads = Seq.fill(ReadsPerRound)(s"alpha ${Gen.zipfTerm(rnd)}")
      reads.foreach(q => SearchChecks.read(r, s, p, q, "search.read"))
      if (n == 0 && round == Rounds - 1)
        SearchChecks.topkIsExhaustive(r, s, p.parse(reads.head), reads.head)
    }

    // what the merge must preserve: live docs, and the appended docs' matches
    val pre = IndexManifest.read(spark, dir).get
    val preSearcher = new Searcher(spark, dir)
    val dead = preSearcher.resolveDeadDocs(pre.segments.map(_.segment)).values.map(_.length.toLong).sum
    val p = new QueryParser(pre.textField, analyzer = pre.textAnalyzer)
    val appendedCounts = appended.map(u => u -> preSearcher.count(Query.Term(cfg.keyField, u))).toMap
    val deletedCounts = deleted.map(d => d -> preSearcher.count(p.parse(d))).toMap
    r.call("index.merge", 0.0, (m: IndexManifest) => m.segments.size <= pre.segments.size) {
      val m = SegmentMerger.mergeUntilStable(spark, dir)
      val gone = pre.segments.map(_.segment).toSet -- m.segments.map(_.segment)
      r.tracer.attr("rounds", (m.commitSeq - pre.commitSeq).toDouble)
      r.tracer.attr("bytes_rewritten",
        pre.segments.filter(s => gone.contains(s.segment)).map(_.postingsBytes).sum.toDouble)
      m
    }
    val merged = new Searcher(spark, dir)
    r.check(merged.manifest.totalDocs == pre.totalDocs - dead,
      s"merged docs ${merged.manifest.totalDocs} != ${pre.totalDocs} - $dead dead")
    // docs appended after a delete keep its term, so the merge must keep
    // each count as it was, not drop it to 0
    deletedCounts.foreach { case (d, c) =>
      r.check(merged.count(p.parse(d)) == c, s"'$d' matches differ after merge")
    }
    appendedCounts.foreach { case (u, c) =>
      r.check(merged.count(Query.Term(cfg.keyField, u)) == c, s"appended doc $u changed by the merge")
    }

    val textBytes = inputTextBytes // computed once, outside the timed call
    r.call("index.space", 0.0, (u: Map[String, Double]) => u("index.fs_bytes") > 0) {
      Layers.space(spark, new Searcher(spark, dir), dir, textBytes)
    }.foreach(u => lastSpace = u)
    lastIndex = dir
  }

  def check(r: Run): Unit = ()

  def calls: Seq[String] = Seq("index.build", "streaming.append", "index.delete", "search.read",
    "index.merge", "index.space")

  def layers(r: Run): Map[String, Double] =
    if (lastIndex == null) lastSpace
    else lastSpace ++ Layers.kernelLayers(r, new Searcher(r.spark, lastIndex), lastIndex)
}
