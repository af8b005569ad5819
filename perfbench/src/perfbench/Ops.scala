package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import graft.ops.PipelineOps

/** Direct PipelineOps calls on seeded data: the IVF vector family on
  * clustered embeddings (centroid count scaled to n) and the text family
  * on corpus docs with planted near-duplicates. Neither touches an index.
  */
final class OpsPipeline(seed: Long) extends Workload {
  val Vectors = 2000
  val Centroids: Int = Vectors / 125
  val Docs = 1000
  val NearDupCos = 0.92
  val Jaccard = 0.6
  val K = 5
  val NProbe = 4
  val BpeMerges = 3

  private var vecs: DataFrame = _
  private var docs: DataFrame = _
  private lazy val vecById: Map[Long, Array[Double]] =
    vecs.collect().map(x => x.getLong(0) -> x.getSeq[Float](1).map(_.toDouble).toArray).toMap
  private val rnd = new scala.util.Random(seed)
  /** outputs of the first cycle, checked after the timed window */
  private val first = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  def setup(r: Run): Unit = {
    vecs = Gen.vectors(r.spark, seed, Vectors, r.cores).localCheckpoint(eager = true)
    docs = Gen.textDocs(r.spark, Gen.docOffset(seed), Docs, r.cores).localCheckpoint(eager = true)
    // warm-up on a small slice: the quantizer and cell-block kernels every
    // IVF op shares, and the shingle and token kernels of the text ops
    val v = vecs.where(col("vec_id") < 200)
    val d = docs.where(col("doc_id") < 100)
    PipelineOps.knnGraphIvf(v, K, 4, 2).collect()
    PipelineOps.dedupMinHash(d, Jaccard).collect()
    PipelineOps.bpeTrain(d, 1)
  }

  private def op[T](r: Run, name: String, rows: Int)(f: => T)(size: T => Int): Unit =
    r.call(s"ops.$name", rows.toDouble) {
      val out = f
      r.tracer.attr("output_rows", size(out))
      out
    }.foreach(out => if (!first.contains(name)) first(name) = out)

  def cycle(r: Run, n: Int): Unit = {
    val q = rnd.nextInt(Vectors).toLong
    op(r, "ivf_assign", Vectors) {
      val (a, cents) = PipelineOps.ivfAssignments(vecs, Centroids)
      (a.collect(), cents)
    }(_._1.length)
    op(r, "ivf_neardup", Vectors)(
      PipelineOps.embeddingNearDupPairsIvf(vecs, NearDupCos, Centroids).collect())(_.length)
    op(r, "knn_graph_ivf", Vectors)(
      PipelineOps.knnGraphIvf(vecs, K, Centroids, NProbe).collect())(_.length)
    op(r, "ivfpq_topk", Vectors)(
      (q, PipelineOps.ivfPqTopK(vecs, q, K, Centroids, NProbe).collect()))(_._2.length)
    op(r, "minhash_dedup", Docs)(PipelineOps.dedupMinHash(docs, Jaccard).collect())(_.length)
    op(r, "jaccard_pairs", Docs)(PipelineOps.ngramJaccardPairs(docs, Jaccard).collect())(_.length)
    op(r, "bpe_train", Docs)(PipelineOps.bpeTrain(docs, BpeMerges))(_.size)
  }

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / math.sqrt(na * nb)
  }
  private def near(x: Double, y: Double, tol: Double): Boolean = math.abs(x - y) <= tol

  /** Each op's own predicate, recomputed from the inputs. */
  def check(r: Run): Unit = {
    first.get("ivf_assign").foreach { case (rows: Array[Row] @unchecked, cents: Array[Array[Double]] @unchecked) =>
      r.check(rows.length == Vectors && rows.map(_.getLong(0)).distinct.length == Vectors,
        "ivfAssignments: not one row per vector")
      // each vector sits in the cell of its nearest centroid (normalized space)
      val bad = rows.count { x =>
        val v = vecById(x.getLong(0))
        val nv = math.sqrt(v.map(a => a * a).sum)
        val d = cents.map(c => c.indices.map(i => { val e = v(i) / nv - c(i); e * e }).sum)
        d(x.getInt(1)) > d.min + 1e-9
      }
      r.check(bad == 0, s"ivfAssignments: $bad vectors not in their nearest cell")
    }
    first.get("ivf_neardup").foreach { case rows: Array[Row] @unchecked =>
      val bad = rows.count { x =>
        val c = cos(vecById(x.getLong(0)), vecById(x.getLong(1)))
        x.getLong(0) == x.getLong(1) || c < NearDupCos - 1e-9 || !near(c, x.getDouble(2), 1e-4)
      }
      r.check(rows.nonEmpty && bad == 0, s"embeddingNearDupPairsIvf: $bad of ${rows.length} pairs fail cos >= $NearDupCos")
    }
    first.get("knn_graph_ivf").foreach { case rows: Array[Row] @unchecked =>
      val byVec = rows.groupBy(_.getLong(0))
      val badDegree = byVec.count { case (_, es) => es.length != K || es.map(_.getLong(3)).sorted.toSeq != (1L to K.toLong) }
      val badEdge = rows.count { x =>
        x.getLong(0) == x.getLong(1) ||
          !near(cos(vecById(x.getLong(0)), vecById(x.getLong(1))), x.getDouble(2), 1e-4)
      }
      r.check(byVec.size == Vectors && badDegree == 0 && badEdge == 0,
        s"knnGraphIvf: ${byVec.size} vectors, $badDegree not of degree $K, $badEdge bad edges")
    }
    first.get("ivfpq_topk").foreach { case (q: Long, rows: Array[Row] @unchecked) =>
      val cs = rows.map(x => cos(vecById(q), vecById(x.getLong(0))))
      r.check(rows.length == K && rows.forall(_.getLong(0) != q) &&
        rows.indices.forall(i => near(cs(i), rows(i).getDouble(1), 1e-4)) &&
        rows.indices.drop(1).forall(i => rows(i - 1).getDouble(1) >= rows(i).getDouble(1)),
        s"ivfPqTopK: not $K exact-cosine neighbours in order")
    }
    lazy val shingles: Map[Long, Set[String]] = PipelineOps.withShingles(docs)
      .select(col("doc_id"), col("sh")).collect()
      .map(x => x.getLong(0) -> x.getSeq[String](1).toSet).toMap
    def jaccardOk(name: String): Unit = first.get(name).foreach { case rows: Array[Row] @unchecked =>
      val bad = rows.count { x =>
        val a = shingles(x.getLong(0)); val b = shingles(x.getLong(1))
        val j = (a intersect b).size.toDouble / (a union b).size
        j < Jaccard - 1e-9 || !near(j, x.getDouble(2), 1e-4)
      }
      r.check(rows.nonEmpty && bad == 0, s"$name: $bad of ${rows.length} pairs fail Jaccard >= $Jaccard")
    }
    jaccardOk("minhash_dedup")
    jaccardOk("jaccard_pairs")
    first.get("bpe_train").foreach { case merges: Seq[(String, String, Long)] @unchecked =>
      // the first merge is the most frequent adjacent symbol pair, and
      // merge counts never increase
      val words = PipelineOps.withTokens(docs).select("toks").collect()
        .flatMap(_.getSeq[String](0)).groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
      val pairs = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (w, c) =>
        val syms = w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
        syms.indices.drop(1).foreach(i => pairs((syms(i - 1), syms(i))) = pairs.getOrElse((syms(i - 1), syms(i)), 0L) + c)
      }
      r.check(merges.size == BpeMerges && merges.head._3 == pairs.values.max &&
        merges.indices.drop(1).forall(i => merges(i - 1)._3 >= merges(i)._3),
        s"bpeTrain: merges ${merges.take(3)} vs top pair count ${pairs.values.max}")
    }
  }

  def layers(r: Run): Map[String, Double] = Map.empty

  def calls: Seq[String] = Layers.OpNames.map("ops." + _)
}
