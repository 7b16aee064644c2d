package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.linalg.Distances

/** Product quantization (PQ) ANN — the compressed-domain scale path of
  * the similarity family, alongside LSH (bucketing) and IVF (coarse
  * partitioning): vectors compress to `m` byte-sized codes (here
  * 4 codes for a 64-dim float vector = 64× smaller), and queries scan
  * CODES, not vectors, via per-query lookup tables (ADC — asymmetric
  * distance computation, Jégou et al., TPAMI 2011).
  *
  * Scale design (the part that matters at 100 TB):
  *  - Training: ONE grouped Lloyd's loop trains all `m` subspace
  *    codebooks simultaneously — per-iteration cost is one narrow
  *    nearest-centroid projection (the m·ks-row codebook rides in
  *    [[Ann.nearestCid]], keyed by subspace) + one mean shuffle over
  *    the subvector table, independent of `m` (m sequential k-means
  *    runs would scan the data m× per round).
  *  - The trained codebook is m·ks rows (64 here) — a driver-side
  *    scalar in the same legitimacy class as a k-means centroid
  *    broadcast; it becomes LITERALS in the encode expression.
  *  - Encoding: pure row-local codegen expressions (SquaredEuclidean
  *    against literal centroids + argmin over a ks-array) — ZERO
  *    shuffle; the codes table is a narrow map over the corpus.
  *  - Query: the per-query LUT (m × ks subspace distances) is built
  *    row-locally on the query side, the query set broadcasts, and the
  *    ADC distance is m array lookups per (code-row, query) — one scan
  *    of the codes, no shuffle until the ≤ rerank·k-per-query partial
  *    top-k. Exact cosine re-rank of that candidate set restores
  *    metric fidelity (ADC error only affects which candidates
  *    surface, never the reported similarity).
  *
  * Seeded/approximate ⇒ rows-only declared query; recall vs brute
  * force and code-domain invariants are spec-gated.
  */
object Pq {

  /** Grouped distributed Lloyd's: trains an independent k-means per
    * `grp` over `(grp, id, vec)` points, all groups in the same rounds.
    * Init is the order-independent bottom-k-by-hash per group (the
    * MRDF/IVF sampler); each round is one narrow [[assign]] + one
    * per-(grp, cid, dim) mean. Returns (grp, cid, cvec). */
  def groupedKmeans(pts: DataFrame, k: Int, iters: Int = 5,
                    seed: Long = 42L): DataFrame = {
    // bottom-k by hash per group: the aggregator ships ≤ k candidates
    // per group out of each map task, never the full point set
    val ids = graft.agg.TopKByWeight.perId(
        pts.select(col("grp").cast("long").as("id"), col("id").as("nbr"),
          xxhash64(lit(seed), col("id")).cast("double").as("dist")), k)
      .select(col("id").as("grp"), col("nbr").as("id"), col("dist").as("h"))
    var cent = pts.join(ids.select(col("grp"), col("id"), col("h")),
        Seq("grp", "id"))
      .withColumn("cid", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("h"), col("id"))) - 1)
      .select(col("grp"), col("cid"), col("vec").as("cvec"))
      .localCheckpoint()
    (1 to iters).foreach { _ =>
      val moved = assign(pts, cent)
        .select(col("grp"), col("cid"), posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy(col("grp"), col("cid"), col("pos"))
        .agg(avg(col("x")).as("mn"))
        .groupBy(col("grp"), col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mn")))).as("s"))
        .select(col("grp"), col("cid"),
          transform(col("s"), e => e("mn").cast("float")).as("cvec"))
      // a centroid that won no points this round keeps its position —
      // dropping it would shrink the codebook below ks (empty-cluster
      // hole) and leave null cells in the collected books array. One
      // left-outer from the (tiny, checkpointed) cent table references
      // `moved` once — a union+anti pair would recompute its DAG twice.
      val next = cent.select(col("grp"), col("cid"), col("cvec").as("prev"))
        .join(moved, Seq("grp", "cid"), "left_outer")
        .select(col("grp"), col("cid"),
          coalesce(col("cvec"), col("prev")).as("cvec"))
        .localCheckpoint()
      graft.Checkpoints.release(cent)
      cent = next
    }
    cent
  }

  /** (grp, id, vec) points with their own subspace's nearest `cid`
    * prepended: the (grp, cid, cvec) table (m·ks rows, checkpointed)
    * comes to the driver, one codegen argmin per point. */
  private def assign(pts: DataFrame, cent: DataFrame): DataFrame = {
    val books = cent.select(col("grp").cast("string"), col("cid"), col("cvec"))
      .collect().groupBy(_.getString(0)).map { case (g, rs) =>
        g -> rs.map(r => (r.getInt(1), r.getSeq[Float](2).toArray)).sortBy(_._1)
      }
    pts.select(Ann.nearestCid(books, col("vec"), col("grp").cast("string"))
      .as("cid") +: pts.columns.toSeq.map(col): _*)
  }

  /** (grp, id, vec) subvector table: vector j-th slice under group j. */
  def subspacePoints(emb: DataFrame, m: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val subDim = dim / m
    val slices = (0 until m).map(j => struct(lit(j).as("grp"),
      slice(col(vecCol), j * subDim + 1, subDim).as("vec")))
    emb.select(col(idCol).as("id"), explode(array(slices: _*)).as("s"))
      .select(col("s.grp").as("grp"), col("id"), col("s.vec").as("vec"))
  }

  /** Train the m×ks codebook and collect it (m·ks rows — the k-row
    * driver-scalar class). books(j)(c) = centroid c of subspace j. */
  def trainCodebooks(emb: DataFrame, m: Int, ks: Int, dim: Int,
      iters: Int = 5, seed: Long = 42L): Array[Array[Array[Float]]] = {
    val cent = groupedKmeans(subspacePoints(emb, m, dim), ks, iters, seed)
      .collect()
    val books = Array.ofDim[Array[Float]](m, ks)
    cent.foreach { r =>
      books(r.getInt(0))(r.getInt(1)) =
        r.getSeq[Float](2).toArray
    }
    books
  }

  /** Distances from the j-th subvector of `vec` to every centroid of
    * subspace j — an array of ks codegen SquaredEuclidean calls against
    * literal centroids (row-local, no shuffle, no UDF). */
  private def subDists(vec: Column, books: Array[Array[Array[Float]]],
      j: Int, subDim: Int): Column = {
    val sub = slice(vec, j * subDim + 1, subDim)
    array(books(j).map(c =>
      Distances.squaredEuclideanCol(sub, typedlit(c.toSeq))): _*)
  }

  /** PQ code array for a vector: per subspace, the index of the nearest
    * centroid (first-min tie-break via array_position ⇒ deterministic). */
  def encodeExpr(vec: Column, books: Array[Array[Array[Float]]],
      subDim: Int): Column =
    array(books.indices.map { j =>
      val d = subDists(vec, books, j, subDim)
      (array_position(d, array_min(d)) - 1).cast("int")
    }: _*)

  /** ADC approximate top-k with exact cosine re-rank.
    *
    * @param rerank candidate multiplier: ADC keeps rerank·k per query,
    *               exact cosine keeps the final k. */
  def adcTopK(emb: DataFrame, k: Int, queryPred: Column, m: Int = 4,
      ks: Int = 16, dim: Int = 64, iters: Int = 3, seed: Long = 42L,
      rerank: Int = 3): DataFrame = {
    val subDim = dim / m
    val books = trainCodebooks(emb, m, ks, dim, iters, seed)
    adcFromBooks(emb, books, k, queryPred, subDim, rerank)
  }

  /** Cross-engine-exact grouped Lloyd's — [[groupedKmeans]]' oracle-
    * mirrorable twin (the q175 doctrine, per subspace): md5 bottom-k
    * init (shared ids across groups, as the seeded init also picks),
    * ordered-fold means, argmin ties on (d, cid), empty-cluster carry
    * via the same left-outer coalesce. [[groupedKmeans]] (xxhash init,
    * plain avg) stays the scale path. */
  def groupedKmeansPortable(pts: DataFrame, k: Int, iters: Int = 3): DataFrame = {
    val sel = pts.select(col("id")).distinct()
      .withColumn("hk", conv(substring(
        md5(concat(lit("km|"), col("id").cast("string"))), 1, 15), 16, 10)
        .cast("long"))
      .orderBy(col("hk"), col("id")).limit(k)
    var cent = pts.join(broadcast(sel), Seq("id"))
      .withColumn("cid", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("hk"), col("id"))) - 1)
      .select(col("grp"), col("cid"), col("vec").as("cvec"))
      .localCheckpoint()
    (1 to iters).foreach { _ =>
      val moved = assign(pts, cent)
        .select(col("grp"), col("cid"), col("id"),
          posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy(col("grp"), col("cid"), col("pos"))
        .agg(count(lit(1)).as("n"),
          array_sort(collect_list(struct(col("id"), col("x")))).as("s"))
        .withColumn("mn", expr(
          "aggregate(s, CAST(0 AS DOUBLE), (acc, e) -> acc + CAST(e.x AS DOUBLE)) / n"))
        .groupBy(col("grp"), col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mn")))).as("dims"))
        .select(col("grp"), col("cid"),
          transform(col("dims"), e => e("mn").cast("float")).as("cvec"))
      val next = cent.select(col("grp"), col("cid"), col("cvec").as("prev"))
        .join(moved, Seq("grp", "cid"), "left_outer")
        .select(col("grp"), col("cid"),
          coalesce(col("cvec"), col("prev")).as("cvec"))
        .localCheckpoint()
      graft.Checkpoints.release(cent)
      cent = next
    }
    cent
  }

  /** [[adcTopK]] over the portable codebooks — the variant the q177
    * oracle replays end to end. */
  def adcTopKPortable(emb: DataFrame, k: Int, queryPred: Column, m: Int = 4,
      ks: Int = 16, dim: Int = 64, iters: Int = 3, rerank: Int = 3): DataFrame = {
    val subDim = dim / m
    val cent = groupedKmeansPortable(subspacePoints(emb, m, dim), ks, iters)
      .collect()
    val books = Array.ofDim[Array[Float]](m, ks)
    cent.foreach(r => books(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray)
    adcFromBooks(emb, books, k, queryPred, subDim, rerank)
  }

  private def adcFromBooks(emb: DataFrame, books: Array[Array[Array[Float]]],
      k: Int, queryPred: Column, subDim: Int, rerank: Int): DataFrame = {
    // one row-local pass: corpus → (id, codes)
    val codes = emb.select(col("vec_id").as("nbr"),
      encodeExpr(col("embedding"), books, subDim).as("codes"))
    // queries carry their LUT rows: lut(j)(c) = d²(q_sub_j, books(j)(c))
    val lutCol = array(books.indices.map(j =>
      subDists(col("qv"), books, j, subDim)): _*)
    val queries = emb.filter(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .withColumn("lut", lutCol)
    // ADC scan: Σ_j lut(j)(code_j) — m array lookups per (row, query),
    // statically unrolled so the whole distance stays in codegen
    val adist = books.indices.map(j =>
      element_at(element_at(col("lut"), j + 1),
        element_at(col("codes"), j + 1) + 1)).reduce(_ + _)
    val cands = codes.join(broadcast(queries.select(col("qid"), col("lut"))))
      .filter(col("qid") =!= col("nbr"))
      .select(col("qid").as("id"), col("nbr"), adist.as("dist"))
    val shortlist = graft.agg.TopKByWeight.perId(cands, rerank * k)
      .select(col("id").as("qid"), col("nbr"))
    // exact cosine re-rank of ≤ rerank·k rows per query
    val exact = shortlist
      .join(emb.select(col("vec_id").as("nbr"), col("embedding").as("cv")),
        Seq("nbr"))
      .join(broadcast(queries.select(col("qid"), col("qv"))), Seq("qid"))
      .select(col("qid"), col("nbr"),
        round(Distances.cosineSimilarity(col("qv"), col("cv")), 6).as("sim"))
    graft.agg.TopKByWeight.topKBySimilarity(exact, k)
  }
}
