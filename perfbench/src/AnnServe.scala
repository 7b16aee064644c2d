package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ann_serve: a persisted graph index under reads and writes. Set-up
  * generates a seeded Gaussian-mixture corpus and builds the exact
  * 10-NN graph of its base part with `TopKJoin.knn`. The run writes
  * the index once with `GraphIndexStore.write`, then one client runs a
  * closed loop that alternates a `GraphIndexStore.search` request (a
  * batch of indexed vectors) with a `GraphIndexStore.upsert` of a batch
  * of new ids, until the new ids run out; then it only searches. As in
  * the engine's declared upsert cycle (q227, a quarter of the corpus
  * upserted into the rest), the upserts grow the index by a quarter of
  * its base within one window.
  *
  * Checks: every returned neighbour exists in the indexed corpus, is
  * not the query, and carries its true distance; recall@10 against an
  * exact top-10 over the corpus as indexed at that moment, computed
  * by the harness; after the last upsert the index is fresh for
  * the full corpus and its meta counts base + deltas. */
object AnnServe {
  val N = 2000
  val Dim = 64
  // 125 points a cluster (base and new); the clusters are far apart,
  // so the exact 10-NN graph links no two of them
  val Clusters = 20
  val K = 10
  val Nlist = 16
  // entry seeds per list. A search reaches a cluster only from a seed
  // inside it; with the engine's default of 4, a list holding several
  // clusters could leave one without a seed, and recall moved between
  // seeds by whole clusters
  val SeedsPerList = 16
  val Beam = 8
  val Hops = 4
  val Nprobe = 2
  val QueryBatch = 64
  val UpsertBatch = 250
  // new ids for two upserts, a quarter of the base: a window runs them
  // between three searches
  val Pool = 2 * UpsertBatch

  def run(spark: SparkSession, c: Conf, tr: Trace): Outcome = {
    val o = new Outcome
    val path = s"${c.work}/corpus.fvecs"
    var vecs: Array[Array[Float]] = null
    var edges: DataFrame = null
    for (_ <- 1 to 3) {
      val (_, s) = Harness.timed {
        new java.io.File(path).delete()
        graft.io.FvecsGen.write(path, (N + Pool).toLong, Dim, c.seed, Clusters)
        vecs = graft.io.Fvecs.readFvecsFile(path).sortBy(_._1).map(_._2).toArray
        val base = corpus(spark, vecs, 0 until N)
        // parquet, not a checkpoint: it must outlive the hygiene
        // sweeps between operations
        org.apache.spark.sql.graft.TopKJoin.knn(base.repartition(col("vec_id")), base, K)
          .write.mode("overwrite").parquet(s"${c.work}/exact_graph")
        edges = spark.read.parquet(s"${c.work}/exact_graph")
      }
      o.prepS += s
    }
    val rnd = new scala.util.Random(c.seed)

    // the index's corpus as of now: base ids, then upserted pool ids
    val indexed = ArrayBuffer.empty[Int] ++= (0 until N)
    var nextNew = N

    def search(dir: String): Option[(Double, Option[Layer])] = {
      val qids = Seq.fill(QueryBatch)(indexed(rnd.nextInt(indexed.size))).distinct
      val q = corpus(spark, vecs, qids)
      val r = o.attempt("search") {
        tr.measure(tr.span("knn.search") {
          graft.knn.GraphIndexStore.search(spark, dir, q, k = K, beam = Beam,
            hops = Hops, nprobe = Nprobe).collect()
        })
      }
      Harness.hygiene(spark)
      r.map { case ((rows, layer), s) =>
        val got = rows.map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2)))
        check(got, qids)
        (s, layer)
      }
    }

    def check(got: Array[(Int, Int, Double)], qids: Seq[Int]): Unit = {
      val live = indexed.toSet
      val bad = got.find { case (q, nb, d) =>
        q == nb || !live.contains(nb) || math.abs(d - dist(vecs(q), vecs(nb))) > 1e-4
      }
      bad.foreach(b => o.fail(s"search returned a wrong neighbour row $b"))
      if (got.groupBy(_._1).exists(_._2.length > K)) o.fail("search returned more than k rows")
      val byQ = got.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      val hits = qids.map { q =>
        val exact = indexed.iterator.filter(_ != q)
          .map(i => (dist(vecs(q), vecs(i)), i)).toSeq.sorted.take(K).map(_._2)
        exact.count(byQ.getOrElse(q, Set.empty[Int]).contains)
      }
      o.quality += hits.sum.toDouble / (qids.size * K)
    }

    def upsert(dir: String): Option[(Double, Option[Layer])] = {
      val ids = nextNew until nextNew + UpsertBatch
      val delta = corpus(spark, vecs, ids)
      val r = o.attempt("upsert") {
        tr.measure(tr.span("knn.upsert") {
          graft.knn.GraphIndexStore.upsert(spark, dir, delta, K)
        })
      }
      Harness.hygiene(spark)
      r.map { case ((_, layer), s) =>
        indexed ++= ids
        nextNew += UpsertBatch
        (s, layer)
      }
    }

    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def write(dir: String): Double = {
      Harness.deleteTree(new java.io.File(dir))
      val base = corpus(spark, vecs, 0 until N)
      val (_, s) = Harness.timed(tr.span("knn.write") {
        graft.knn.GraphIndexStore.write(base, edges, dir, k = K, nlist = Nlist,
          seedsPerList = SeedsPerList, onPhase = (p, sec) => { tr.phase(s"knn.$p", sec); phases(p) = phases.getOrElse(p, 0.0) + sec })
      })
      Harness.hygiene(spark)
      s
    }

    // warm-up on a throwaway index: the first requests of a JVM run
    // several times slower than the steady state
    val (_, warm) = Harness.timed {
      val dir = s"${c.work}/warm_index"
      write(dir)
      for (i <- 1 to 3) if (i == 2) upsert(dir) else search(dir)
      Harness.deleteTree(new java.io.File(dir))
    }
    o.warmupS = warm
    indexed.clear(); indexed ++= (0 until N); nextNew = N
    o.quality.clear(); phases.clear()

    val dir = s"${c.work}/index"
    val writeS = write(dir)
    val upsertMs = ArrayBuffer.empty[Double]
    var searchLayer = Layer()
    var upsertLayer = Layer()
    var searches = 0
    var i = 0
    // at least the whole mix: a search before, between and after the
    // upserts, so every run times the same reads beside the same writes
    Harness.window(c.seconds, 2 * Pool / UpsertBatch + 1) {
      i += 1
      if (i % 2 == 0 && nextNew < N + Pool) {
        upsert(dir).foreach { case (s, l) =>
          upsertMs += s * 1e3
          l.foreach(x => upsertLayer = upsertLayer + x)
        }
      } else {
        search(dir).foreach { case (s, l) =>
          o.opMs += s * 1e3
          o.items += QueryBatch
          o.itemS += s
          searches += 1
          l.foreach(x => searchLayer = searchLayer + x)
        }
      }
    }

    val all = corpus(spark, vecs, indexed.toSeq)
    if (!graft.knn.GraphIndexStore.isFreshFor(spark, dir, all))
      o.fail("index is not fresh for base + upserted vectors")
    val meta = spark.read.parquet(s"$dir/meta").collect()(0).getAs[Long]("n_vectors")
    if (meta != indexed.size.toLong)
      o.fail(s"meta n_vectors $meta != ${indexed.size} indexed")
    Harness.deleteTree(new java.io.File(dir))

    tr.tracer.foreach { t =>
      Harness.putLayer(o, "", searchLayer, t.cores, searches)
      o.layers("trace.pass_s") = o.itemS / math.max(searches, 1)
    }
    o.layers("knn.index_write_s") = writeS
    Seq("router_train", "cluster_seeds", "component_writes").foreach { p =>
      o.layers(s"knn.${p}_s") = phases.getOrElse(p, 0.0)
    }
    o.layers("knn.upsert_ms") = Harness.median(upsertMs.toSeq)
    tr.tracer.foreach { t =>
      val n = math.max(upsertMs.size, 1).toDouble
      o.layers("knn.upsert_jobs") = upsertLayer.jobs / n
      o.layers("knn.upsert_shuffle_mb") =
        (upsertLayer.shuffleReadMb + upsertLayer.shuffleWriteMb) / n
    }
    o
  }

  def dist(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  def corpus(spark: SparkSession, vecs: Array[Array[Float]], ids: Seq[Int]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, vecs(i))).toDF("vec_id", "embedding")
  }
}
