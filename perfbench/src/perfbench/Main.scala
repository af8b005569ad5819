package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One workload: set-up (staging and warm-up), a cycle of timed calls that
  * the closed loop repeats, correctness checks made outside the timed
  * window, and the per-layer probes of a traced run.
  */
trait Workload {
  /** Stage inputs and warm up on the run's current session. */
  def setup(r: Run): Unit
  /** One cycle of timed calls; the client issues each call after the
    * previous one returned.
    */
  def cycle(r: Run, n: Int): Unit
  /** Full correctness checks, made after the timed window. */
  def check(r: Run): Unit
  /** Per-layer numbers a traced run measures outside the span records. */
  def layers(r: Run): Map[String, Double]
  /** Every call name a cycle issues; each must succeed at least once. */
  def calls: Seq[String]
}

/** Two workloads run as one: set-up, cycle, checks and layers in turn. */
final class Both(a: Workload, b: Workload) extends Workload {
  def setup(r: Run): Unit = { a.setup(r); b.setup(r) }
  def cycle(r: Run, n: Int): Unit = { a.cycle(r, n); b.cycle(r, n) }
  def check(r: Run): Unit = { a.check(r); b.check(r) }
  def layers(r: Run): Map[String, Double] = a.layers(r) ++ b.layers(r)
  def calls: Seq[String] = a.calls ++ b.calls
}

/** State of one benchmark run: session, tracer, accounting of calls. */
final class Run(val workload: String, val seed: Long, val seconds: Double, val traced: Boolean,
    val workDir: File) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  var spark: SparkSession = _
  var tracer: Tracer = _

  var attempted = 0L
  var failed = 0L
  /** latency (ms) and work of each successful untraced call, by call name */
  private val untraced = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[(Double, Double)]]
  /** latency (ms) of each successful traced call, by call name */
  private val tracedMs = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val checkFailures = ArrayBuffer.empty[String]

  private var dirs = 0
  /** A fresh directory under this run's temporary directory. */
  def freshDir(prefix: String): String = {
    dirs += 1
    new File(workDir, s"$prefix-$dirs").getAbsolutePath
  }

  def startSession(): Unit = {
    if (spark != null) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(workDir, "spark").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer = new Tracer(spark.sparkContext, false)
  }

  /** Whether the current cycle records spans. */
  def tracing: Boolean = tracer.enabled && tracer.on

  /** A correctness check outside the timed window; a check that throws
    * has failed.
    */
  def check(cond: => Boolean, what: => String): Unit = {
    val held = try cond catch {
      case e: Exception =>
        System.err.println(s"perfbench: check threw $e")
        false
    }
    if (!held) {
      checkFailures += what
      System.err.println(s"perfbench: check failed: $what")
    }
  }

  /** One timed call into the library. An exception or a failed per-call
    * check counts as a failure and is never timed as a success. `work` is
    * the call's units of throughput (queries, docs, rows); 0 marks a
    * latency-only call, which `work_per_s` leaves out.
    */
  def call[T](name: String, work: Double)(f: => T): Option[T] = call[T](name, work, (_: T) => true)(f)

  def call[T](name: String, work: Double, ok: T => Boolean)(f: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(name)(f)) catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    res match {
      case Right(v) if okay(name, ok, v) =>
        if (tracing) tracedMs.getOrElseUpdate(name, ArrayBuffer.empty) += ms
        else untraced.getOrElseUpdate(name, ArrayBuffer.empty) += ((ms, work))
        Some(v)
      case Right(_) =>
        failed += 1
        None
      case Left(e) =>
        failed += 1
        System.err.println(s"perfbench: $name failed: $e")
        None
    }
  }

  private def okay[T](name: String, ok: T => Boolean, v: T): Boolean = {
    val good = try ok(v) catch { case _: Exception => false }
    if (!good) check(false, s"$name: per-call check")
    good
  }

  /** An extra call a traced cycle makes to time one layer; counted as
    * attempted and failed like any call but not part of the call latency.
    */
  def probe[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(tracer.span(name)(f))
    catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"perfbench: $name failed: $e")
        None
    }
  }

  def untracedCalls(name: String): Seq[(Double, Double)] =
    untraced.get(name).map(_.toSeq).getOrElse(Nil)
  def callNames: Seq[String] = untraced.keys.toSeq
  /** Untraced call kinds of one sort (throughput or latency-only) as
    * (calls, median ms, work). The median stands for each call of its kind,
    * so one stalled call does not set a run's figure.
    */
  private def kinds(throughput: Boolean): Seq[(Int, Double, Double)] =
    untraced.values.toSeq.filter(c => (c.head._2 > 0) == throughput)
      .map(c => (c.size, Stats.median(c.map(_._1).toSeq), c.map(_._2).sum))

  /** Work done per second the client spent inside untraced throughput
    * calls (work > 0); latency-only calls count in neither sum.
    */
  def workPerSecond: Double = {
    val ks = kinds(throughput = true)
    val busyS = ks.map(k => k._1 * k._2).sum / 1000.0
    if (busyS > 0) ks.map(_._3).sum / busyS else 0.0
  }

  /** Geometric mean latency of the untraced latency-only calls (work 0). */
  def latencyGeomean: Double = {
    val ks = kinds(throughput = false)
    val n = ks.map(_._1).sum
    if (n == 0) 0.0 else math.exp(ks.map(k => k._1 * math.log(math.max(k._2, 1e-3))).sum / n)
  }
  /** Traced over untraced median latency, per call name made both ways,
    * as a geometric mean, minus one.
    */
  def traceOverhead: Double = {
    val ratios = tracedMs.toSeq.collect {
      case (n, ms) if untraced.contains(n) => Stats.median(ms.toSeq) / Stats.median(untracedCalls(n).map(_._1))
    }
    if (ratios.isEmpty) 0.0 else Stats.geomean(ratios) - 1.0
  }
}

/** The metric names and units that BENCHMARK.json declares. */
final class Declared(file: File) {
  private val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file)
  private def list(key: String): Seq[(String, String)] =
    root.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
  val endToEnd: Seq[(String, String)] = list("end_to_end")
  val perLayer: Seq[(String, String)] = list("per_layer")
}

object Main {

  /** A cold set-up (class loading, JIT) and a warm one; more would not fit
    * the run's time budget. The median of two is their mean.
    */
  val SetupReps = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val r = new Run(workload, opt("seed").toLong, opt("seconds").toDouble, opt("trace") == "1",
      new File(opt("work-dir")))
    val declared = new Declared(new File(opt("benchmark")))
    val w: Workload = workload match {
      case "search" => new SearchWorkload(r.seed)
      case "pipeline" => new Both(new Ingest(r.seed), new OpsPipeline(r.seed))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val code =
      try run(r, w, declared, new File(opt("trace-dir")))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  private def run(r: Run, w: Workload, declared: Declared, traceDir: File): Int = {
    // set-up repeats from session start; the last set-up's inputs are used
    val setupS = (0 until SetupReps).map { _ =>
      val t0 = System.nanoTime()
      r.startSession()
      val t1 = System.nanoTime()
      w.setup(r)
      val t = (System.nanoTime() - t0) / 1e9
      System.err.println(f"perfbench: set-up $t%.2f s (session ${(t1 - t0) / 1e9}%.2f s)")
      t
    }
    if (r.traced) r.tracer = new Tracer(r.spark.sparkContext, true)
    val sentinelStart = Layers.sentinel(r.spark)

    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcs.map(_.getCollectionTime).sum
    val deadline = System.nanoTime() + (r.seconds * 1e9).toLong
    var n = 0
    // a traced run makes at least one cycle of each kind
    while (System.nanoTime() < deadline || (r.traced && n < 2)) {
      // a traced run alternates untraced and traced cycles, so the two
      // kinds see the same host and the same warm state
      r.tracer.on = r.traced && n % 2 == 1
      r.tracer.request += 1
      w.cycle(r, n)
      n += 1
    }
    r.tracer.on = false
    val gcMs = gcs.map(_.getCollectionTime).sum - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val sentinelEnd = Layers.sentinel(r.spark)
    System.out.println(f"""{"host.sentinel_start_ms":$sentinelStart%.3f,"host.sentinel_end_ms":$sentinelEnd%.3f,"cycles":$n}""")

    val tc = System.nanoTime()
    w.check(r)
    w.calls.foreach(c => r.check(r.untracedCalls(c).nonEmpty, s"no successful untraced $c call"))
    System.err.println(f"perfbench: $n cycles, checks ${(System.nanoTime() - tc) / 1e9}%.2f s")
    r.callNames.foreach { c =>
      val ms = r.untracedCalls(c).map(_._1)
      System.err.println(f"perfbench:   $c%-24s ${ms.size}%3d calls, median ${Stats.median(ms)}%.1f ms")
    }

    val metrics: Seq[(String, Double, String)] =
      if (!r.traced) {
        val values = Map(
          "setup_s" -> Stats.median(setupS),
          "call_geomean_ms" -> r.latencyGeomean,
          "work_per_s" -> r.workPerSecond)
        require(values.keySet == declared.endToEnd.map(_._1).toSet,
          s"end-to-end metrics ${values.keySet} differ from BENCHMARK.json")
        declared.endToEnd.map { case (k, u) => (k, values(k), u) }
      } else {
        r.tracer.listener.drain()
        val values = Layers.fromSpans(r.tracer) ++ Layers.fromCalls(r) ++
          Layers.textLayers(r.seed) ++ w.layers(r) ++ Map(
          "host.sentinel_start_ms" -> sentinelStart,
          "host.sentinel_end_ms" -> sentinelEnd,
          "jvm.heap_peak_mb" -> heapPeakMb,
          "jvm.gc_ms" -> gcMs.toDouble,
          "trace_overhead_frac" -> r.traceOverhead)
        val unknown = values.keySet -- declared.perLayer.map(_._1)
        require(unknown.isEmpty, s"per-layer metrics missing from BENCHMARK.json: $unknown")
        r.tracer.writeJson(new File(traceDir, s"${r.workload}-seed${r.seed}.json"),
          s""""workload":${Json.str(r.workload)},"seed":${r.seed}""")
        declared.perLayer.map { case (k, u) => (k, values.getOrElse(k, 0.0), u) }
      }

    // a call that threw or failed its per-call check fails the run
    val correct = r.checkFailures.isEmpty && r.failed == 0
    val body = metrics.map { case (k, v, u) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString(",")
    System.out.println(s"""{"correct":$correct,"attempted":${r.attempted},"failed":${r.failed},"metrics":{$body}}""")
    System.out.flush()
    r.spark.stop()
    if (correct) 0 else 1
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-3))).sum / xs.size)
}
