package graft.pipeline

import scala.collection.mutable.ArrayBuffer

/** M5 — global speaker re-clustering (`speaker_rematch.py:90-137`).
  *
  * The reference runs UMAP → HDBSCAN(min_cluster_size = max(2, n·0.04),
  * soft rescue ≥ 0.2) per audio file. Neither is in this environment (and
  * neither is deterministic enough for an exact gate), so this is the
  * HDBSCAN-*shaped* deterministic substitute over the raw embeddings,
  * preserving the three semantics the pipeline depends on:
  *
  *  1. density grouping — greedy leader clustering: scan embeddings in a
  *     deterministic order, join the nearest existing cluster when the
  *     cosine to its centroid ≥ `simThreshold`, else found a new one;
  *  2. the A12 min-cluster floor — clusters smaller than
  *     `max(2, ⌊n·minClusterRatio⌋)` dissolve to noise (−1), mirroring
  *     HDBSCAN's `min_cluster_size` (`speaker_rematch.py:117`);
  *  3. soft rescue — a noise point joins its best-matching surviving
  *     cluster when the cosine ≥ `softThreshold`, else stays −1,
  *     mirroring `all_points_membership_vectors` + the ≥ 0.2 rule
  *     (`speaker_rematch.py:129-136`).
  *
  * Pure and single-file-sized by design: [[SpeechKernels.cluster]] runs
  * it once per file inside each task, exactly the reference's
  * one-file-at-a-time granularity — 1000 executors cluster 1000 files
  * concurrently and no state ever leaves one key.
  */
object Clustering {

  /** Cosine between a running centroid SUM (scale-invariant, so the sum
    * stands in for the mean) and one embedding.
    */
  private def cosine(c: Array[Double], e: Array[Float]): Double = {
    var dot = 0d; var nc = 0d; var ne = 0d; var i = 0
    val n = math.min(c.length, e.length)
    while (i < n) {
      dot += c(i) * e(i); nc += c(i) * c(i); ne += e(i).toDouble * e(i)
      i += 1
    }
    if (nc == 0 || ne == 0) 0d else dot / (math.sqrt(nc) * math.sqrt(ne))
  }

  /** Cluster one file's embeddings (caller fixes the order — it is part
    * of the deterministic contract). Returns one label per input: ≥ 0 a
    * global cluster id in first-appearance order, −1 noise.
    */
  def clusterOne(embs: IndexedSeq[Array[Float]],
                 minClusterRatio: Double = 0.04,
                 simThreshold: Double = 0.75,
                 softThreshold: Double = 0.2): Array[Int] = {
    val n = embs.length
    if (n == 0) return Array.empty
    val sums = ArrayBuffer.empty[Array[Double]]
    val sizes = ArrayBuffer.empty[Int]
    val assign = new Array[Int](n)
    var i = 0
    while (i < n) {
      val e = embs(i)
      var best = -1; var bestSim = -2d
      var c = 0
      while (c < sums.length) {
        val sim = cosine(sums(c), e)
        if (sim > bestSim) { bestSim = sim; best = c }
        c += 1
      }
      if (best >= 0 && bestSim >= simThreshold) {
        assign(i) = best
        val s = sums(best)
        var j = 0
        while (j < s.length && j < e.length) { s(j) += e(j); j += 1 }
        sizes(best) += 1
      } else {
        assign(i) = sums.length
        sums += e.map(_.toDouble)
        sizes += 1
      }
      i += 1
    }
    // A12 floor: small clusters dissolve to noise; survivors renumber in
    // first-appearance order (they already are ordered by founding index).
    val minSize = math.max(2, (n * minClusterRatio).toInt)
    val surviving = sums.indices.filter(sizes(_) >= minSize)
    val remap = surviving.zipWithIndex.toMap
    val labels = Array.tabulate(n)(k => remap.getOrElse(assign(k), -1))
    // soft rescue of noise points against surviving centroids
    var k = 0
    while (k < n) {
      if (labels(k) == -1) {
        var best = -1; var bestSim = -2d
        surviving.foreach { c =>
          val sim = cosine(sums(c), embs(k))
          if (sim > bestSim) { bestSim = sim; best = c }
        }
        if (best >= 0 && bestSim >= softThreshold) labels(k) = remap(best)
      }
      k += 1
    }
    labels
  }
}
