package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.analysis.Analyzer
import graft.codec.{ByteVector, Codec, PostingsCodec}
import graft.index.{PostingRow, SpaceUsage}
import graft.search.{CQuery, QueryKernel, Searcher, TopNComputer}

/** Per-layer metrics of a traced run: from the span records and the
  * listener's per-span Spark counts, from the untraced calls' latencies by
  * call kind, and from single-thread probes of the analysis, codec and
  * kernel layers.
  */
object Layers {

  val OpNames = Seq("ivf_assign", "ivf_neardup", "knn_graph_ivf", "ivfpq_topk",
    "minhash_dedup", "jaccard_pairs", "bpe_train")
  private val VectorOps = OpNames.take(4)

  import Stats.{mean, median, quantile}

  /** The per-kind end-to-end figures, from the untraced calls of a traced run. */
  def fromCalls(r: Run): Map[String, Double] = {
    def ms(n: String) = r.untracedCalls(n).map(_._1)
    def rate(n: String) = {
      val c = r.untracedCalls(n)
      if (c.isEmpty) 0.0 else c.map(_._2).sum / (c.map(_._1).sum / 1000.0)
    }
    def opS(names: Seq[String]) = names.map(o => median(ms(s"ops.$o")) / 1000.0).sum
    Map(
      "topk_p50_ms" -> median(ms("search.request")),
      "topk_p90_ms" -> quantile(ms("search.request"), 0.9),
      "expand_p50_ms" -> median(ms("search.expand_request")),
      "count_p50_ms" -> median(ms("search.count_request")),
      "agg_p50_ms" -> median(ms("agg.request")),
      "batch_topk_qps" -> rate("search.batch_topk"),
      "batch_count_qps" -> rate("search.batch_count"),
      "build_docs_per_s" -> rate("index.build"),
      "append_p50_ms" -> median(ms("streaming.append")),
      "search_after_write_p50_ms" -> median(ms("search.read")),
      "merge_s" -> median(ms("index.merge")) / 1000.0,
      "vector_ops_s" -> opS(VectorOps),
      "text_ops_s" -> opS(OpNames.drop(4)),
      "failed_frac" -> (if (r.attempted == 0) 0.0 else r.failed.toDouble / r.attempted))
  }

  def fromSpans(t: Tracer): Map[String, Double] = {
    def ms(n: String) = t.named(n).map(_.ms)
    def stats(n: String) = t.named(n).map(t.stats)
    def attr(n: String, k: String) = t.named(n).flatMap(_.attrs.get(k))
    val out = Map.newBuilder[String, Double]

    out += "search.parse_us" -> median(ms("search.parse")) * 1000.0
    val plans = t.named("search.plan")
    out += "search.plan_ms" -> median(plans.map(_.ms))
    out += "search.plan_jobs" -> mean(plans.map(t.stats(_).jobs.toDouble))
    out += "search.df_cache_hit_frac" ->
      (if (plans.isEmpty) 0.0 else plans.count(t.stats(_).jobs == 0).toDouble / plans.size)
    val expandIds = t.named("search.expand_request").map(_.id).toSet
    out += "search.expanded_terms" ->
      mean(plans.filter(p => expandIds.contains(p.parent)).flatMap(_.attrs.get("terms")))
    val topk = stats("search.topk")
    out += "search.topk_ms" -> median(ms("search.topk"))
    out += "search.topk_jobs" -> mean(topk.map(_.jobs.toDouble))
    out += "search.topk_stages" -> mean(topk.map(_.stages.toDouble))
    out += "search.topk_tasks" -> mean(topk.map(_.tasks.toDouble))
    out += "search.fetch_ms" -> median(ms("search.fetch"))
    val scans = topk ++ stats("search.batch_topk")
    out += "search.scan_bytes" -> mean(scans.map(_.inputBytes.toDouble))
    out += "search.exchange_bytes" -> mean(scans.map(_.shuffleWriteBytes.toDouble))
    // the kernel stage of a call is its stage with the most task time
    val kernel = scans.flatMap(s =>
      if (s.taskMsByStage.isEmpty) None else Some(s.taskMsByStage.values.maxBy(_.sum).map(_.toDouble).toSeq))
    out += "search.kernel_task_ms_p50" -> median(kernel.map(median))
    out += "search.kernel_task_ms_max" -> median(kernel.map(_.max))
    out += "search.batch_plan_ms" -> median(ms("search.batch_plan"))
    out += "search.count_ms" -> median(ms("search.count") ++ ms("search.batch_count"))
    out += "search.count_jobs" ->
      mean((stats("search.count") ++ stats("search.batch_count")).map(_.jobs.toDouble))

    out += "agg.parse_us" -> median(ms("agg.parse")) * 1000.0
    out += "agg.match_ms" -> median(ms("agg.match"))
    out += "agg.aggregate_ms" -> median(ms("agg.aggregate"))
    out += "agg.aggregate_jobs" -> mean(stats("agg.aggregate").map(_.jobs.toDouble))
    out += "agg.aggregate_stages" -> mean(stats("agg.aggregate").map(_.stages.toDouble))

    val build = stats("index.build")
    out += "index.build_s" -> median(ms("index.build")) / 1000.0
    out += "index.build_tasks" -> mean(build.map(_.tasks.toDouble))
    out += "index.build_shuffle_bytes" -> mean(build.map(_.shuffleWriteBytes.toDouble))
    out += "index.build_gc_ms" -> mean(build.map(_.gcMs.toDouble))
    out += "index.build_spill_bytes" -> mean(build.map(_.spillBytes.toDouble))
    val buildTasks = build.map(_.taskMsByStage.values.flatten.map(_.toDouble).toSeq)
    out += "index.build_task_ms_p50" -> median(buildTasks.flatten)
    out += "index.build_task_ms_max" -> median(buildTasks.filter(_.nonEmpty).map(_.max))
    out += "index.delete_ms" -> median(ms("index.delete"))
    out += "index.merge_rounds" -> mean(attr("index.merge", "rounds"))
    out += "index.merge_bytes_rewritten" -> mean(attr("index.merge", "bytes_rewritten"))
    out += "index.merge_jobs" -> mean(stats("index.merge").map(_.jobs.toDouble))
    out += "streaming.append_ms" -> median(ms("streaming.append"))
    out += "streaming.append_jobs" -> mean(stats("streaming.append").map(_.jobs.toDouble))
    out += "streaming.segments_added" -> mean(attr("streaming.append", "segments_added"))

    OpNames.foreach { o =>
      val n = s"ops.$o"
      out += s"ops.${o}_s" -> median(ms(n)) / 1000.0
      out += s"ops.${o}_jobs" -> mean(stats(n).map(_.jobs.toDouble))
      out += s"ops.${o}_shuffle_bytes" -> mean(stats(n).map(_.shuffleWriteBytes.toDouble))
      out += s"ops.${o}_output_rows" -> mean(attr(n, "output_rows"))
    }
    out.result()
  }

  /** Space accounting of an index built from `textBytes` bytes of text. */
  def space(spark: SparkSession, s: Searcher, dir: String, textBytes: Long): Map[String, Double] = {
    val u = SpaceUsage.of(spark, dir, s.manifest)
    val fs = SpaceUsage.filesystemBytes(spark, dir).toDouble
    Map(
      "index.segments" -> s.manifest.segments.size.toDouble,
      "index.fs_bytes" -> fs,
      "index.postings_bytes" -> u.segments.map(_.postingsBytes).sum.toDouble,
      "index.positions_bytes" -> u.segments.map(_.positionsBytes).sum.toDouble,
      "index.termdict_bytes" -> u.segments.map(_.termdictBytes).sum.toDouble,
      "index_bytes_per_input_byte" -> fs / textBytes)
  }

  /** Median of three timings of `f`, each repeated until it ran 100 ms. */
  private def rate(work: Double)(f: => Unit): Double = {
    val rates = (0 until 3).map { _ =>
      var reps = 0
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 100000000L || reps == 0) { f; reps += 1 }
      work * reps / ((System.nanoTime() - t0) / 1e9)
    }
    median(rates)
  }

  /** Single-thread probes of the analysis and codec layers on seeded input. */
  def textLayers(seed: Long): Map[String, Double] = {
    val texts = (0 until 300).map(i => Gen.text(Gen.docOffset(seed), i))
    val chain = Analyzer.chain("default")
    val tokens = texts.map(chain(_).length).sum
    val rnd = new scala.util.Random(seed)
    val blocks = Array.fill(2000) {
      val bits = 1 + rnd.nextInt(20)
      (bits, Array.fill(128)(rnd.nextInt(1 << bits)))
    }
    val out = new Array[Int](128)
    Map(
      "analysis.tokens_per_s" -> rate(tokens)(texts.foreach(chain)),
      // bytes of ints packed and unpacked again, per second
      "codec.bitpack_mb_per_s" -> rate(blocks.length * 128 * 4 * 2 / 1e6) {
        val bv = new ByteVector(1 << 16)
        blocks.foreach { case (b, v) => Codec.packBits(v, 0, 128, b, bv) }
        val bytes = bv.toArray
        var p = 0
        blocks.foreach { case (b, _) => p += Codec.unpackBits(bytes, p, 128, b, out, 0) }
      })
  }

  /** Single-thread probes of postings decode and the query kernel over one
    * segment of the workload's index, plus the index's space accounting.
    */
  def kernelLayers(r: Run, s: Searcher, dir: String): Map[String, Double] = {
    val spark = r.spark
    import spark.implicits._
    val rnd = new scala.util.Random(r.seed)
    def z = Gen.zipfTerm(rnd)
    val parser = new graft.search.QueryParser(s.manifest.textField)
    val texts = Seq.fill(16)(Seq(s"alpha $z", s"$z $z", s"+$z +$z", s"beta $z")).flatten
    val cqs = s.planAll(texts.map(parser.parse)).filter(_ != CQuery.CEmpty)
    val seg = s.manifest.segments.maxBy(_.numDocs)
    val terms = cqs.flatMap(CQuery.termsOf).toSet
    val rows = spark.read.parquet(s"$dir/postings")
      .where(col("segment") === seg.segment && (col("field") === PostingRow.NormsField ||
        (col("field") === s.manifest.textField && col("term").isin(terms.map(_._2).toSeq: _*))))
      .as[PostingRow].collect()
    val ctx = Searcher.makeContext(rows.iterator, Map(seg.segment -> seg.numDocs), seg.segment,
      primaryField = s.manifest.textField)
    val base = seg.segment.toLong << 32
    val topkPerS = rate(cqs.size) {
      cqs.foreach(q => QueryKernel.topK(q, ctx, 10, new TopNComputer(10), base))
    }
    val allPerS = rate(cqs.size)(cqs.foreach(q => QueryKernel.allMatches(q, ctx, scored = true).foreach(_ => ())))
    val postings = rows.filter(_.field == s.manifest.textField)
    val docs = postings.map(_.docFreq.toLong).sum
    Map(
      "search.kernel_us_per_query_segment" -> 1e6 / topkPerS,
      "search.wand_vs_exhaustive" -> topkPerS / allPerS,
      "codec.decode_mdocs_per_s" -> rate(docs / 1e6) {
        postings.foreach { p =>
          val c = ctx.fresh(p.field, p.term)
          while (c.doc != PostingsCodec.Terminated) c.advance()
        }
      })
  }

  @volatile private var sink = 0L

  /** Fixed work that no code change touches: a single-thread integer loop
    * and one trivial Spark job. Run at the start and end of a run, it shows
    * host contention apart from code changes.
    */
  def sentinel(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 30000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink = x
    spark.sparkContext.parallelize(1 to 4, 4).map(_ + 1).count()
    (System.nanoTime() - t0) / 1e6
  }
}
