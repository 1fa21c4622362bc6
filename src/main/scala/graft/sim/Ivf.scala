package graft.sim

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import Similarity.{dot, toDouble}

/** IVF (inverted-file) approximate nearest-neighbor search — the
  * classic coarse-quantizer scale path for embedding search: train
  * `nlist` centroids (spherical k-means on a deterministic sample),
  * assign every corpus vector to its nearest centroid (the "inverted
  * list"), and answer a query by exact re-ranking within only the
  * `nprobe` lists whose centroids are nearest to the query.
  *
  * Scale design (100 TB corpus):
  *  - training touches only a hash-deterministic sample (standard IVF
  *    practice); each Lloyd step is distributed (assign map-side,
  *    per-(centroid, dim) mean via one shuffle of the sample).
  *  - centroids are nlist × dims doubles — baked into the plan as
  *    literals, i.e. broadcast for free; assignment is a map-side
  *    codegen'd argmin, no shuffle of the corpus.
  *  - the search join shuffles nothing on the corpus side either: the
  *    exploded (query × probe) side is broadcast, candidates stream
  *    per-partition; per-query top-k via window over candidates only.
  */
object Ivf {

  /** L2-normalize (zero vectors pass through unchanged) — one kernel
    * pass per row; see [[graft.functions.VectorKernels.l2normalize]].
    */
  private[sim] def normalize(v: Column): Column =
    graft.functions.VectorOps.l2normalize(v)

  /** Nearest centroid id of a normalized vector (map-side argmax dot,
    * ties to the lowest id). The centroid matrix rides along as an
    * expression reference object — see
    * [[graft.functions.CentroidKernels]] for why not literal arrays.
    */
  def nearestCentroid(vec: Column, cents: Array[Array[Double]]): Column =
    graft.functions.CentroidOps.nearestCentroid(vec, cents)

  /** The `nprobe` nearest centroid ids, nearest first. */
  def probeCentroids(vec: Column, cents: Array[Array[Double]], nprobe: Int): Column =
    graft.functions.CentroidOps.probeCentroids(vec, cents, nprobe)

  /** Spherical k-means on a deterministic sample: init = first `nlist`
    * vectors in xxhash64(id) order, then `iters` Lloyd steps. Each
    * step is distributed; only the (nlist × dims) means are collected.
    * Empty clusters keep their previous centroid.
    */
  def train(corpus: DataFrame, nlist: Int, iters: Int,
            sampleMax: Int = 10000, idCol: String = "vec_id",
            vecCol: String = "embedding"): Array[Array[Double]] = {
    Tables.persisted(corpus
        .select(col(idCol).as("id"), normalize(toDouble(col(vecCol))).as("v"))
        .orderBy(xxhash64(col("id")), col("id"))
        .limit(sampleMax)) { sample =>
      var cents: Array[Array[Double]] = sample.limit(nlist).collect()
        .map(r => r.getSeq[Double](1).toArray)
      require(cents.length == nlist, s"sample smaller than nlist=$nlist")
      for (_ <- 0 until iters) {
        val means = sample
          .withColumn("cid", nearestCentroid(col("v"), cents))
          .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("cid", "pos").agg(avg(col("x")).as("m"))
          .collect()
        val byCid: Map[Int, Array[Row]] = means.groupBy(_.getInt(0))
        cents = cents.zipWithIndex.map { case (old, i) =>
          byCid.get(i) match {
            case Some(rows) =>
              val m = rows.sortBy(_.getInt(1)).map(_.getDouble(2))
              val norm = math.sqrt(m.map(x => x * x).sum)
              if (norm > 0) m.map(_ / norm) else old
            case None => old
          }
        }
      }
      cents
    }
  }

  /** Two-level (coarse × fine) IVF index: `coarse` routes, `fine` is
    * the FLAT nlist-centroid matrix (global fine id = flat index),
    * `offsets` maps coarse cell c to its fine ids
    * [offsets(c), offsets(c+1)). Every cell holds >= 1 fine centroid
    * (empty cells are compacted out at build time).
    */
  case class HierIndex(coarse: Array[Array[Double]],
                       fine: Array[Array[Double]], offsets: Array[Int]) {
    def nlist: Int = fine.length
    def nCoarse: Int = coarse.length
    require(offsets.length == coarse.length + 1 && offsets.last == fine.length,
      s"offsets (${offsets.length}, last=${offsets.lastOption.getOrElse(-1)}) " +
        s"inconsistent with coarse=${coarse.length}, fine=${fine.length}")
  }

  /** Driver-side spherical Lloyd over an in-memory point set — the
    * per-cell fine trainer. Same semantics as the distributed [[train]]
    * step: init = first k points, mean then L2-normalize, empty or
    * zero-norm clusters keep their previous centroid.
    */
  private def lloydLocal(pts: Array[Array[Double]], k: Int,
                         iters: Int): Array[Array[Double]] = {
    var cents = pts.take(k).map(_.clone)
    for (_ <- 0 until iters) {
      val dims = pts.head.length
      val sums = Array.fill(k)(new Array[Double](dims))
      val counts = new Array[Int](k)
      pts.foreach { p =>
        val c = graft.functions.CentroidKernels.nearestVec(p, cents)
        val s = sums(c)
        var i = 0
        while (i < dims) { s(i) += p(i); i += 1 }
        counts(c) += 1
      }
      cents = cents.zipWithIndex.map { case (old, i) =>
        if (counts(i) == 0) old
        else {
          val m = sums(i).map(_ / counts(i))
          val norm = math.sqrt(m.map(x => x * x).sum)
          if (norm > 0) m.map(_ / norm) else old
        }
      }
    }
    cents
  }

  /** Deterministic proportional split of `nlist` fine centroids over
    * the coarse cells: each non-empty cell gets >= 1 and <= its point
    * count, remainders go to the cells with the most headroom (ties to
    * the lowest cell id). Feasible whenever sum(counts) >= nlist.
    */
  private[sim] def allocateFine(counts: Array[Int], nlist: Int): Array[Int] = {
    val total = counts.map(_.toLong).sum
    require(total >= nlist, s"fine-training sample ($total points) smaller than nlist=$nlist")
    val alloc = counts.map { c =>
      if (c == 0) 0 else math.min(c, math.max(1, ((nlist.toLong * c) / total).toInt))
    }
    var diff = nlist - alloc.sum
    while (diff > 0) {
      var best = -1
      var bestRoom = 0
      var i = 0
      while (i < counts.length) {
        val room = counts(i) - alloc(i)
        if (room > bestRoom) { best = i; bestRoom = room }
        i += 1
      }
      alloc(best) += 1; diff -= 1
    }
    while (diff < 0) {
      var best = -1
      var bestAlloc = 1
      var i = 0
      while (i < counts.length) {
        if (alloc(i) > bestAlloc) { best = i; bestAlloc = alloc(i) }
        i += 1
      }
      alloc(best) -= 1; diff += 1
    }
    alloc
  }

  /** Hierarchical IVF training — the nlist > sample-bound scale path.
    *
    * The flat [[train]] is bounded twice at large nlist: init needs
    * nlist sample vectors, and each Lloyd assignment is an
    * O(nlist · dims) argmax per row — at nlist = 20k the quadratic
    * train step is the wall the round-9 verdict flagged. The classic
    * fix (hierarchical k-means, the FAISS coarse-quantizer recipe) is
    * two levels: ~sqrt(nlist) coarse cells from the distributed
    * trainer, then per-cell fine k-means over a bounded sample, flat-
    * concatenated into the nlist centroid matrix. Assignment and probe
    * then cost O((nCoarse + cellFine) · dims) per row via the
    * two-level kernels — ~70x less than flat argmax at nlist = 20k.
    *
    * Bounded-collect accounting (the repo rule): the fine-training
    * sample is `minPointsPerCentroid · nlist` vectors collected ONCE —
    * sampleN · dims · 8 bytes of driver memory (20k centroids × 4 pts
    * × 128 dims ≈ 82 MB), the same in-memory-train bound FAISS
    * imposes; everything corpus-sized stays distributed. Deterministic:
    * hash-ordered sample, first-k init, lowest-id tie-breaks.
    */
  def trainHierarchical(corpus: DataFrame, nlist: Int, iters: Int,
                        minPointsPerCentroid: Int = 4, nCoarse: Int = 0,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): HierIndex = {
    require(nlist >= 1, s"nlist must be >= 1: $nlist")
    require(minPointsPerCentroid >= 1,
      s"minPointsPerCentroid must be >= 1: $minPointsPerCentroid")
    val nc = if (nCoarse > 0) nCoarse
      else math.max(1, math.ceil(math.sqrt(nlist.toDouble)).toInt)
    require(nc <= nlist, s"nCoarse=$nc must be <= nlist=$nlist")

    val coarse = train(corpus, nc, iters, idCol = idCol, vecCol = vecCol)

    val sampleN = math.min(minPointsPerCentroid.toLong * nlist, Int.MaxValue.toLong).toInt
    val sample = corpus
      .select(col(idCol).as("id"), normalize(toDouble(col(vecCol))).as("v"))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(sampleN)
      .select("v")
      .collect()
      .map(_.getSeq[Double](0).toArray)

    val byCell = Array.fill(nc)(Vector.newBuilder[Array[Double]])
    sample.foreach { v =>
      byCell(graft.functions.CentroidKernels.nearestVec(v, coarse)) += v
    }
    val cells = byCell.map(_.result())
    val alloc = allocateFine(cells.map(_.size), nlist)

    // train per-cell fine centroids; compact away cells with no
    // allocation (no sample points landed there — nothing routes to
    // them) so the kernels never see an empty fine range
    val kept = cells.indices.filter(alloc(_) > 0)
    val fineLists = kept.map(i => lloydLocal(cells(i).toArray, alloc(i), iters))
    val offsets = fineLists.scanLeft(0)(_ + _.length).toArray
    HierIndex(kept.map(coarse).toArray, fineLists.flatten.toArray, offsets)
  }

  /** Nearest GLOBAL fine centroid id via the two-level kernel. */
  def nearestCentroidHier(vec: Column, idx: HierIndex): Column =
    graft.functions.CentroidOps.nearestCentroidHier(vec, idx.coarse, idx.fine, idx.offsets)

  /** ANN top-k via the hierarchical index: corpus vectors assign
    * two-level (map-side, no corpus shuffle — same plan shape as
    * [[annIvf]]); each query probes its `nprobeCoarse` nearest coarse
    * cells and re-ranks within the top `nprobe` fine lists gathered
    * from them. With nprobeCoarse = nCoarse the probe selection is
    * IDENTICAL to the flat top-nprobe (spec-pinned); smaller values
    * trade recall for an O(nCoarse/nprobeCoarse) probe-cost cut.
    */
  def annIvfHier(corpus: DataFrame, queries: DataFrame, k: Int,
                 idx: HierIndex, nprobe: Int, nprobeCoarse: Int = 4,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val c = corpus
      .select(col(idCol).as("neighbor_id"), normalize(toDouble(col(vecCol))).as("va"))
      .withColumn("cid", nearestCentroidHier(col("va"), idx))
    val q = queries
      .select(col(idCol).as("query_id"), normalize(toDouble(col(vecCol))).as("vb"))
      .withColumn("cid", explode(graft.functions.CentroidOps.probeCentroidsHier(
        col("vb"), idx.coarse, idx.fine, idx.offsets, nprobeCoarse, nprobe)))
    val scored = c.join(broadcast(q), Seq("cid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", dot(col("va"), col("vb")))
    Similarity.topKSelect(scored, k)
  }

  /** ANN top-k via IVF: candidates are corpus vectors whose inverted
    * list is among the query's `nprobe` probed lists; exact cosine
    * (dot of normalized vectors) re-rank of candidates only.
    */
  def annIvf(corpus: DataFrame, queries: DataFrame, k: Int,
             cents: Array[Array[Double]], nprobe: Int,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus
      .select(col(idCol).as("neighbor_id"), normalize(toDouble(col(vecCol))).as("va"))
      .withColumn("cid", nearestCentroid(col("va"), cents))
    val q = queries
      .select(col(idCol).as("query_id"), normalize(toDouble(col(vecCol))).as("vb"))
      .withColumn("cid", explode(probeCentroids(col("vb"), cents, nprobe)))
    val scored = c.join(broadcast(q), Seq("cid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", dot(col("va"), col("vb")))
    // nprobe > 1 explodes the query over distinct cids; the corpus side
    // has one cid per vector, so each (query, neighbor) pair scores once
    Similarity.topKSelect(scored, k)
  }

  /** Inverted-list histogram — the data-distribution view of the index
    * (bucket sizes drive nprobe/recall trade-offs).
    */
  def listSizes(corpus: DataFrame, cents: Array[Array[Double]],
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus
      .withColumn("cid", nearestCentroid(normalize(toDouble(col(vecCol))), cents))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vectors"), min(col(idCol)).as("min_vec_id"))
      .orderBy("cid")
}
