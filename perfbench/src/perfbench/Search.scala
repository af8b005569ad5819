package perfbench

import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{Query, QueryParser, SearchHit, Searcher}

/** The search workload's index: `docs` WebCorpus docs from the seed's
  * offset, one segment per core.
  */
final class SearchIndex(r: Run, val docs: Long) {
  val offset: Long = Gen.docOffset(r.seed)
  private def textBytes: Long = {
    val spark = r.spark
    import spark.implicits._
    Gen.docs(spark, offset, 0L, docs, r.cores).selectExpr("sum(octet_length(text))").as[Long].head()
  }
  val dir: String = r.freshDir("index")
  IndexBuilder.build(r.spark, Gen.docs(r.spark, offset, 0L, docs, r.cores), dir,
    IndexConfig(numPartitions = r.cores))
  val searcher = new Searcher(r.spark, dir)
  val parser = new QueryParser(searcher.manifest.textField,
    analyzer = searcher.manifest.textAnalyzer)

  def layers(r: Run): Map[String, Double] =
    Layers.space(r.spark, searcher, dir, textBytes) ++ Layers.kernelLayers(r, searcher, dir)
}

object SearchChecks {
  /** Ranked, scored, at most k, ranks 1..n: the shape every top-k answer has. */
  def wellFormed(hits: Array[SearchHit], k: Int): Boolean =
    hits.length <= k && hits.indices.forall(i => hits(i).rank == i + 1) &&
      hits.indices.drop(1).forall(i => hits(i - 1).score >= hits(i).score)

  private def key(h: SearchHit) = (h.segment, h.docId, h.score)

  /** top-k equals the exhaustive ranking: score descending, f32-exact,
    * ties broken by ascending (segment, docId) address.
    */
  def topkIsExhaustive(r: Run, s: Searcher, q: Query, label: String): Unit = {
    val top = s.topDocs(q, 10).map(key).toSeq
    val all = s.allMatches(q).collect()
      .map(x => (x.getInt(0), x.getInt(1), x.getFloat(2)))
      .sortBy { case (seg, d, sc) => (-sc, seg, d) }.take(10).toSeq
    r.check(top == all, s"topDocs($label) != exhaustive ranking: $top vs $all")
  }

  def countIsExhaustive(r: Run, s: Searcher, q: Query, label: String): Unit = {
    val c = s.count(q)
    val x = s.allMatches(q, scored = false).count()
    r.check(c == x, s"count($label) = $c, exhaustive $x")
  }

  /** A traced read: parse, plan (the doc-freq stats job on new terms), then
    * top-k over the warm plan; untraced it is parse then top-k. A
    * latency-only call.
    */
  def read(r: Run, s: Searcher, p: QueryParser, text: String, name: String): Option[Array[SearchHit]] = {
    val hits = r.call(name, 0.0, (h: Array[SearchHit]) => wellFormed(h, 10)) {
      val q = r.tracer.span("search.parse")(p.parse(text))
      if (r.tracing) {
        r.tracer.span("search.plan") {
          r.tracer.attr("terms", graft.search.CQuery.termsOf(s.plan(q)).size)
        }
      }
      r.tracer.span("search.topk")(s.topDocs(q, 10))
    }
    if (r.tracing) hits.flatMap(_.headOption).foreach { h =>
      r.probe("search.fetch")(s.doc(h.segment, h.docId))
    }
    hits
  }
}

/** One long-lived Searcher serving two kinds of client call.
  *
  * Interactive requests, in seeded order: top-10 over term/AND/OR/NOT/phrase
  * queries, expansion queries (prefix, fuzzy, regex, range), counts and
  * aggregations. Most of them take a tail term that no earlier request and
  * no query log used, so the Searcher's doc-freq cache mostly misses and
  * each request pays its planner, kernel and fetch jobs: per-call fixed
  * cost dominates. They are latency-only calls (work 0).
  *
  * Batch calls: batchTopDocs and batchCount over seeded query logs that mix
  * the half-corpus term `alpha` (where block-max WAND pruning pays) with
  * Zipf and tail terms. Their doc freqs are cached in set-up, so fixed cost
  * amortises away and the kernel, decode and exchange dominate. They alone
  * make `work_per_s`, one unit per query.
  */
final class SearchWorkload(seed: Long) extends Workload {
  val Docs = 20000L
  val Logs = 3
  val LogSize = 1000

  private var ix: SearchIndex = _
  private val rnd = new scala.util.Random(seed)
  private val checked = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  private val logs: IndexedSeq[IndexedSeq[String]] = {
    val rnd = new scala.util.Random(seed + 1)
    def z = Gen.zipfTerm(rnd)
    IndexedSeq.fill(Logs)(IndexedSeq.fill(LogSize) {
      rnd.nextInt(10) match {
        case 0 | 1 | 2 => s"alpha $z"
        case 3 | 4 => s"$z $z"
        case 5 | 6 => s"+alpha +$z"
        case 7 => Gen.tailTerm(rnd, 1000)
        case 8 => s"beta $z $z"
        case _ => s"+$z +$z"
      }
    })
  }
  /** tail terms that no query log names, in seeded order, each used once.
    * Set-up caches the logs' doc freqs, so a request's tail term is a
    * cache miss unless an earlier expansion cached it as a neighbour.
    */
  private val tail: Iterator[String] = {
    val logged = logs.flatten.flatMap("w\\d{5}".r.findAllIn(_)).toSet
    rnd.shuffle((Gen.HeadRanks until graft.corpus.WebCorpus.VocabSize).toVector)
      .iterator.map(Gen.term).filterNot(logged)
  }
  private var queries: IndexedSeq[IndexedSeq[Query]] = _
  /** the first answers to log 0, checked after the timed window */
  private var firstTopk: Option[Seq[Array[SearchHit]]] = None
  private var firstCount: Option[Seq[Long]] = None

  def setup(r: Run): Unit = {
    ix = new SearchIndex(r, Docs)
    queries = logs.map(_.map(ix.parser.parse))
    // cache the doc freqs of every logged term and of the head; warm each
    // call path on sentinel terms the interactive stream never draws
    ix.searcher.planAll(queries.flatten ++
      (0 until Gen.HeadRanks).map(i => Query.Term(ix.searcher.manifest.textField, Gen.term(i))))
    ix.searcher.batchTopDocs(queries(0).take(50), 10)
    ix.searcher.batchCount(queries(0).take(50))
    ix.searcher.topDocs(ix.parser.parse("alpha gamma"), 10)
    ix.searcher.count(ix.parser.parse("alpha AND gamma"))
    ix.searcher.aggregate(ix.parser.parse("gamma"), SearchWorkload.LangAgg)
  }

  private def expansion(i: Int): String = {
    val t = tail.next()
    (i % 4) match {
      case 0 => t.take(5) + "*"
      case 1 => t + "~1"
      case 2 => "/" + t.take(5) + "[0-4]/"
      case _ => s"text:[$t TO ${Gen.term(math.min(t.drop(1).toInt + 5, 9999))}]"
    }
  }

  /** A cycle is two blocks of eleven interactive requests, each in seeded
    * order (five top-k shapes, two expansions, three counts, one
    * aggregation), so that it makes every expansion kind and both
    * aggregations; then one batchTopDocs and one batchCount over each query
    * log. Each request pairs Zipf head terms (cached) with one fresh tail
    * term (a cache miss); the phrase and the aggregation use head terms
    * only.
    */
  def cycle(r: Run, n: Int): Unit = {
    val s = ix.searcher
    val p = ix.parser
    def h = Gen.headTerm(rnd)
    def t = tail.next()

    def topk(text: String, name: String = "search.request"): Unit = {
      if (checked.count(_._1 == "topk") < 3) checked += (("topk", text))
      SearchChecks.read(r, s, p, text, name)
    }
    def count(text: String): Unit = {
      if (checked.count(_._1 == "count") < 2) checked += (("count", text))
      r.call("search.count_request", 0.0, (c: Long) => c >= 0) {
        val q = r.tracer.span("search.parse")(p.parse(text))
        r.tracer.span("search.count")(s.count(q))
      }
    }
    def agg(text: String, json: String): Unit = {
      val out = r.call("agg.request", 0.0, (j: String) => j.contains("buckets")) {
        val q = r.tracer.span("search.parse")(p.parse(text))
        r.tracer.span("agg.aggregate")(s.aggregate(q, json))
      }
      if (r.tracing && out.isDefined) {
        r.probe("agg.parse")(graft.agg.AggRequest.parse(json))
        r.probe("agg.match")(s.allMatches(p.parse(text), scored = false).count())
      }
    }
    (0 until 2).foreach { b =>
      val block: Seq[() => Unit] = Seq(
        () => topk(t),
        () => topk(s"$h AND $t"),
        () => topk(s"$h OR $t"),
        () => topk(s"+$h -$t"),
        () => topk(Gen.phrase(rnd, ix.offset, Docs)),
        () => topk(expansion(2 * b), "search.expand_request"),
        () => topk(expansion(2 * b + 1), "search.expand_request"),
        () => count(t),
        () => count(h),
        () => count(s"$h AND $t"),
        () => agg(h, if (b == 0) SearchWorkload.LangAgg else SearchWorkload.DateAgg))
      rnd.shuffle(block).foreach(_())
    }

    queries.indices.foreach { i =>
      val qs = queries(i)
      if (r.tracing) r.probe("search.batch_plan")(s.planAll(qs))
      r.call("search.batch_topk", qs.size.toDouble,
          (hs: Seq[Array[SearchHit]]) => hs.size == qs.size && hs.forall(SearchChecks.wellFormed(_, 10))) {
        s.batchTopDocs(qs, 10)
      }.foreach(hs => if (i == 0 && firstTopk.isEmpty) firstTopk = Some(hs))
      r.call("search.batch_count", qs.size.toDouble,
          (cs: Seq[Long]) => cs.size == qs.size && cs.forall(_ >= 0)) {
        s.batchCount(qs)
      }.foreach(cs => if (i == 0 && firstCount.isEmpty) firstCount = Some(cs))
    }
  }

  /** Interactive answers equal the exhaustive ones; batch answers equal the
    * per-query calls on the first and last query of log 0.
    */
  def check(r: Run): Unit = {
    val s = ix.searcher
    checked.foreach {
      case ("topk", t) => SearchChecks.topkIsExhaustive(r, s, ix.parser.parse(t), t)
      case (_, t) => SearchChecks.countIsExhaustive(r, s, ix.parser.parse(t), t)
    }
    r.check(firstTopk.isDefined && firstCount.isDefined, "no batch answers to log 0")
    Seq(0, LogSize - 1).foreach { j =>
      firstTopk.foreach { hs =>
        r.check(s.topDocs(queries(0)(j), 10).toSeq == hs(j).toSeq,
          s"batchTopDocs log 0 query $j (${logs(0)(j)}) != topDocs")
      }
      firstCount.foreach { cs =>
        val one = s.count(queries(0)(j))
        r.check(one == cs(j), s"batchCount log 0 query $j (${logs(0)(j)}) = ${cs(j)}, count $one")
      }
    }
  }

  def layers(r: Run): Map[String, Double] = ix.layers(r)

  def calls: Seq[String] = Seq("search.request", "search.expand_request", "search.count_request",
    "agg.request", "search.batch_topk", "search.batch_count")
}

object SearchWorkload {
  val LangAgg = """{"langs":{"terms":{"field":"lang"}}}"""
  // a workload's docs span about five years of warc_ts: about 60 buckets
  val DateAgg = """{"months":{"date_histogram":{"field":"warc_ts","fixed_interval":"30d"}}}"""
}
