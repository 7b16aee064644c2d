package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one run reports back to `run.py`. Times of the workload's
  * measured operation go to `opMs`; `items`/`itemS` give its
  * throughput; `quality` its recall (or share of results checked
  * equal). Failed operations are counted, never timed. */
final class Outcome {
  val opMs = ArrayBuffer.empty[Double]
  var items = 0L
  var itemS = 0.0
  val quality = ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  val problems = ArrayBuffer.empty[String]
  val prepS = ArrayBuffer.empty[Double]
  var warmupS = 0.0
  val layers = LinkedHashMap.empty[String, Double]

  def fail(what: String): Unit = {
    failed += 1
    if (problems.size < 20) problems += what
  }

  /** Run one measured operation: its seconds, or None when it threw
    * (counted as failed, not timed). */
  def attempt[T](what: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      Some((r, (System.nanoTime() - t0) / 1e9))
    } catch {
      case e: Throwable =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }
}

/** The program's memory high-water mark, from the moment it is made:
  * the most heap in use at the end of any collection (live data plus
  * what that collection left), plus the peak of the non-heap pools
  * (loaded and generated classes, compiled code) and of the direct and
  * mapped buffers. The heap's size does not enter it, as it would the
  * resident set of a JVM whose heap is fixed. */
final class MemWatch {
  import java.lang.management.{BufferPoolMXBean, ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._
  import com.sun.management.GarbageCollectionNotificationInfo

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val nonHeap = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.NON_HEAP)
  private val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
  @volatile private var heapAfterGc = 0L
  @volatile private var bufferPeak = 0L
  @volatile private var gcs = 0

  private def sampleBuffers(): Unit =
    bufferPeak = math.max(bufferPeak, buffers.map(_.getMemoryUsed).sum)

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach { b =>
    b.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(
      (n: javax.management.Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { heapAfterGc = math.max(heapAfterGc, used); gcs += 1 }
          sampleBuffers()
        }, null, null)
  }

  /** (heap after collection, non-heap, buffers) in MiB, and the number
    * of collections seen. */
  def parts: (Seq[Double], Int) = {
    sampleBuffers()
    (Seq(heapAfterGc, nonHeap.map(_.getPeakUsage.getUsed).sum, bufferPeak).map(_ / 1048576.0), gcs)
  }

  def peakMb: Double = parts._1.sum
}

final case class Conf(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: String, out: String, cpus: Int)

object Harness {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val c = Conf(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("work"), a("out"), a("cpus").toInt)
    val mem = new MemWatch
    val t0 = System.nanoTime()
    val spark = session(c)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (c.trace) Some(new Tracer(spark, c.cpus, s"${c.workload}-${c.seed}")) else None
    val tr = new Trace(tracer)
    val o = c.workload match {
      case "knn_build" => KnnBuild.run(spark, c, tr)
      case "ann_serve" => AnnServe.run(spark, c, tr)
      case w => sys.error(s"unknown workload $w")
    }
    tracer.foreach { t => t.detach(); t.writeSpans(s"${c.work}/spans.jsonl") }
    spark.stop()
    val setupS = sessionS + median(o.prepS.toSeq) + o.warmupS
    val fields = Seq(
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "problems" -> o.problems.map(Json.str).mkString("[", ",", "]"),
      "op_ms" -> o.opMs.map(Json.num).mkString("[", ",", "]"),
      "items" -> o.items.toString,
      "item_s" -> Json.num(o.itemS),
      "quality" -> o.quality.map(Json.num).mkString("[", ",", "]"),
      "setup_s" -> Json.num(setupS),
      "setup_parts" -> Json.obj(Seq("session_s" -> Json.num(sessionS),
        "prep_s" -> o.prepS.map(Json.num).mkString("[", ",", "]"),
        "warmup_s" -> Json.num(o.warmupS))),
      "peak_mem_mb" -> Json.num(mem.peakMb),
      "mem_parts" -> Json.obj(Seq("heap_after_gc_mb", "non_heap_mb", "buffers_mb")
        .zip(mem.parts._1.map(Json.num)) :+ ("collections" -> mem.parts._2.toString)),
      "layers" -> Json.obj(o.layers.toSeq.map { case (k, v) => k -> Json.num(v) }))
    Files.write(Paths.get(c.out), Json.obj(fields).getBytes("UTF-8"))
  }

  def session(c: Conf): SparkSession = {
    val spark = graft.SessionTuning.tuned(SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      // the result fingerprint hashes every column, maps included
      .config("spark.sql.legacy.allowHashOnMapType", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Release what an operation pinned, between operations (as the
    * engine's own bench harness does), outside every timed interval. */
  def hygiene(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `op` repeatedly for about `seconds`: after the first `min`
    * runs, another starts only if it should end in time, judged by the
    * last one. */
  def window(seconds: Double, min: Int)(op: => Unit): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var last = 0L
    var n = 0
    while (n < min || System.nanoTime() + last <= deadline) {
      val t0 = System.nanoTime()
      op
      last = System.nanoTime() - t0
      n += 1
    }
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete(); ()
  }

  /** Add the traced counters of `n` operations (or passes) under
    * `prefix`, normalised per operation. */
  def putLayer(o: Outcome, prefix: String, l: Layer, cores: Int, n: Int): Unit =
    l.metrics(prefix, cores, n).foreach { case (k, v) => o.layers(k) = v }
}

/** knn_build: the paper's job. A seeded Gaussian-mixture fvecs corpus
  * is read with `Fvecs.readAuto` and built into the approximate k-NN
  * graph by `Mrdf.buildGraphWithStats` (k = 30, rho = 15, alpha below N
  * so the divide and the per-block descent both run, three rounds). One
  * operation is one build, file to materialised edge table; the corpus
  * is large enough that task compute, not the per-job floor, takes most
  * of a build. Each build is checked: exactly N·k edges, and recall
  * against the exact top-k of a seeded sample (`TopKJoin.knn`, scored
  * by `knn.Recall`). */
object KnnBuild {
  val N = 4000
  val Dim = 64
  val K = 30
  val Rho = 15
  val Alpha = 2400
  val Rounds = 3
  val Sample = 200
  // clusters well above k + 1 points: a divided block smaller than that
  // leaves its members short of k neighbours for the round
  val ClusterSize = 100

  def run(spark: SparkSession, c: Conf, tr: Trace): Outcome = {
    import spark.implicits._
    val o = new Outcome
    val path = s"${c.work}/corpus.fvecs"
    // a fixed number of rounds (tau 0 never stops early), so every seed
    // does the same work
    val params = graft.mrdf.Mrdf.Params(k = K, rho = Rho, alpha = Alpha,
      tau = 0.0, maxIter = Rounds)
    def read(): DataFrame = graft.io.Fvecs.readAuto(spark, path).toDF("vec_id", "embedding")
    var truth: DataFrame = null
    for (_ <- 1 to 3) {
      val (_, s) = Harness.timed {
        new File(path).delete()
        graft.io.FvecsGen.write(path, N.toLong, Dim, c.seed, N / ClusterSize)
        val pts = read()
        val ids = new scala.util.Random(c.seed).shuffle((0 until N).toList).take(Sample)
        val rows = org.apache.spark.sql.graft.TopKJoin.knn(
          pts.filter(col("vec_id").isin(ids: _*)), pts, K)
          .groupBy("id").agg(collect_list("nbr").as("nbrs"))
          .as[(Long, Seq[Long])].collect()
        truth = rows.toSeq.toDF("id", "nbrs")
        Harness.hygiene(spark)
      }
      o.prepS += s
    }

    /** One build: the edge table, the read's seconds, the round stats. */
    def build(): (DataFrame, Double, Seq[graft.mrdf.Mrdf.IterStat]) =
      tr.span("knn_build.build") {
        val (pts, readS) = Harness.timed(tr.span("io.read")(read()))
        val (g, stats) = tr.span("mrdf.build") {
          val r = graft.mrdf.Mrdf.buildGraphWithStats(pts, params)
          iterationSpans(tr, r._2)
          r
        }
        (g, readS, stats)
      }

    def check(g: DataFrame): Unit = {
      val n = g.count()
      if (n != N.toLong * K) o.fail(s"build produced $n edges, expected ${N.toLong * K}")
      o.quality += graft.knn.Recall.recall(truth, graft.mrdf.Mrdf.asAdjacency(g))
        .collect()(0).getDouble(0)
      graft.Checkpoints.release(g)
      Harness.hygiene(spark)
    }

    // warm-up: one round on a quarter of the corpus runs every code
    // path of a build
    val (_, warm) = Harness.timed {
      o.attempt("warm-up build") {
        val small = s"${c.work}/warm.fvecs"
        graft.io.FvecsGen.write(small, N / 4L, Dim, c.seed, N / 4 / ClusterSize)
        val pts = graft.io.Fvecs.readAuto(spark, small).toDF("vec_id", "embedding")
        val g = graft.mrdf.Mrdf.buildGraph(pts, params.copy(alpha = Alpha / 4, maxIter = 1))
        graft.Checkpoints.release(g)
        Harness.hygiene(spark)
      }
    }
    o.warmupS = warm

    val reads = ArrayBuffer.empty[Double]
    val rounds = ArrayBuffer.empty[graft.mrdf.Mrdf.IterStat]
    var layer = Layer()
    Harness.window(c.seconds, 1) {
      o.attempt("build")(tr.measure(build())).foreach { case (((g, readS, stats), l), s) =>
        o.opMs += s * 1e3
        o.items += N
        o.itemS += s
        l.foreach(x => layer = layer + x)
        reads += readS
        rounds ++= stats
        check(g)
      }
    }
    tr.tracer.foreach { t =>
      val n = math.max(o.opMs.size, 1).toDouble
      Harness.putLayer(o, "", layer, t.cores, o.opMs.size)
      o.layers("trace.pass_s") = o.itemS / n
      o.layers("io.read_s") = reads.sum / n
      o.layers("mrdf.iterations") = rounds.size / n
      o.layers("mrdf.divide_s") = rounds.map(_.divideSec).sum / n
      o.layers("mrdf.descent_merge_s") = rounds.map(_.mergeSec).sum / n
      o.layers("mrdf.delta_s") = rounds.map(_.deltaSec).sum / n
      o.layers("mrdf.changed_edges") = rounds.map(_.changedEdges).sum / n
    }
    o
  }

  /** The build reports each outer iteration's phase durations, not
    * their start times: lay the iterations end to end, ending now. */
  private def iterationSpans(tr: Trace, stats: Seq[graft.mrdf.Mrdf.IterStat]): Unit = {
    var t = System.nanoTime() - (stats.map(_.seconds).sum * 1e9).toLong
    stats.foreach { s =>
      val end = t + (s.seconds * 1e9).toLong
      val id = tr.child(s"mrdf.iter", t, end)
      var p = t
      Seq("mrdf.divide" -> s.divideSec, "mrdf.descent_merge" -> s.mergeSec,
        "mrdf.delta" -> s.deltaSec).foreach { case (name, sec) =>
        val e = p + (sec * 1e9).toLong
        tr.child(name, p, e, id)
        p = e
      }
      t = end
    }
  }
}
