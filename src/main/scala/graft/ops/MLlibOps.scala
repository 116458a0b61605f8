package graft.ops

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, HashingTF, MinHashLSH, Normalizer}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MLlib-backed scale paths for similarity/dedup — the bucketed
  * alternatives to the exact kernels in [[Similarity]]/[[Dedup]]. These
  * are approximate (hash-based candidate generation) and seeded for
  * reproducibility; the driver records a rows-only check for them, the
  * exact kernels carry the oracle.
  */
object MLlibOps {

  /** The production composition: MLlib ANN *candidates* verified by the
    * exact quantized cosine ([[Similarity.verifyPairs]]). Candidates are
    * the pairs colliding in ≥1 of the model's `numHashTables` buckets —
    * recall at `minCos` is 1 − (1 − p)^numHashTables per pair; choose
    * `numHashTables`/`bucketLength` for the corpus's margin — and the
    * exact verify restores precision.
    *
    * The collision join moves ONLY (id, table, bucket) rows (guide
    * §2.3/§8: decide with small rows): `approxSimilarityJoin` would ship
    * both sides' full feature + hash vectors through the same join and
    * run its float key-distance per collision row, but that radius
    * filter is subsumed here — it accepts every pair the exact verify
    * can keep (that is what its `candSlack` widening guaranteed), so
    * dropping it only enlarges the candidate set the verify prunes, and
    * the verified output is identical.
    */
  def annVerifiedNearDups(emb: DataFrame, idCol: String, embCol: String,
                          minCos: Double,
                          numHashTables: Int = 12,
                          bucketLength: Double = 2.0): DataFrame = {
    val v = emb.select(col(idCol), array_to_vector(col(embCol)).as("vec"))
    val nv = new Normalizer().setInputCol("vec").setOutputCol("features").setP(2.0)
      .transform(v).select(col(idCol), col("features"))
    val lsh = new BucketedRandomProjectionLSH()
      .setBucketLength(bucketLength).setNumHashTables(numHashTables).setSeed(42L)
      .setInputCol("features").setOutputCol("hashes")
    val model = lsh.fit(nv) // fit draws seeded projections; no data pass
    val hashed = model.transform(nv)
      .select(col(idCol), posexplode(col("hashes")))
      .select(col(idCol), col("pos").as("__ht"),
        element_at(vector_to_array(col("col")), 1).as("__hb"))
      .cache() // feeds both sides of the collision self-join of one action
    hashed.count()
    val cand = hashed.select(col(idCol).as("a"), col("__ht"), col("__hb"))
      .join(hashed.select(col(idCol).as("b"), col("__ht"), col("__hb")),
        Seq("__ht", "__hb"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    Similarity.verifyPairs(cand, Similarity.quantize(emb, idCol, embCol), idCol, minCos)
  }

  /** Seeded KMeans cell assignment over an embedding column: the
    * fitted-centroid flavor of the IVF inverted file
    * ([[Similarity.ivfNearDupPairs]] uses fixed seed ROWS so its oracle
    * can mirror the assignment relationally; at 100 TB these fitted
    * centroids replace them), and the MLlib global-clustering substitute
    * for M5 next to the per-file kernel
    * ([[graft.pipeline.Clustering.clusterOne]]). Deterministic for a
    * fixed seed and input.
    */
  def kmeansCells(emb: DataFrame, idCol: String, embCol: String, k: Int,
                  seed: Long = 42L): DataFrame = {
    val v = emb.select(col(idCol), array_to_vector(col(embCol)).as("features"))
      .cache()
    v.count() // eager: reused by fit + transform
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(20)
      .setFeaturesCol("features").setPredictionCol("cell")
      .fit(v)
    model.transform(v).select(col(idCol), col("cell").cast("long").as("cell"))
  }

  /** MLlib MinHash-LSH *candidates* verified by the exact Jaccard over
    * the true shingle table ([[Dedup.jaccardVerify]]). Candidates are
    * the pairs colliding in ≥1 of the model's `numHashTables` min-hash
    * buckets; the verify stage computes the exact set Jaccard. As in
    * [[annVerifiedNearDups]], the collision join moves only (id, table,
    * bucket) rows — `approxSimilarityJoin`'s feature-Jaccard radius
    * (whose `distSlack` widening existed precisely so it could never
    * clip a pair the exact verify keeps) is subsumed by the exact
    * verify, so dropping it leaves the output identical.
    */
  def minhashVerifiedNearDups(df: DataFrame, idCol: String, textCol: String,
                              shingleN: Int, minJaccard: Double,
                              numHashTables: Int = 6): DataFrame = {
    val sh = df.select(col(idCol),
        TextOps.shingles(TextOps.tokens(col(textCol)), shingleN).as("shs"))
      .filter(size(col("shs")) > 0)
    val tf = new HashingTF().setInputCol("shs").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
    val feat = tf.transform(sh).select(col(idCol), col("features"))
    val lsh = new MinHashLSH().setNumHashTables(numHashTables).setSeed(42L)
      .setInputCol("features").setOutputCol("hashes")
    val model = lsh.fit(feat) // fit draws seeded hash coeffs; first()-only
    val hashed = model.transform(feat)
      .select(col(idCol), posexplode(col("hashes")))
      .select(col(idCol), col("pos").as("__ht"),
        element_at(vector_to_array(col("col")), 1).as("__hb"))
      .cache() // feeds both sides of the collision self-join of one action
    hashed.count()
    val cand = hashed.select(col(idCol).as("a"), col("__ht"), col("__hb"))
      .join(hashed.select(col(idCol).as("b"), col("__ht"), col("__hb")),
        Seq("__ht", "__hb"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    Dedup.jaccardVerify(cand,
      TextOps.shingleTable(df, idCol, textCol, shingleN), idCol, minJaccard)
  }
}
