package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** The set-based `Dedup.jaccardVerify` and `Dedup.pairCommons` must
  * return exactly the rows of the join formulations they replaced (kept
  * here as the reference) on random small corpora with hot shingles,
  * both candidate orientations and a one-shingle document. Each case
  * runs several Spark jobs, so this object checks 30 cases, not
  * ScalaCheck's default 100, and reports a failing case as generated:
  * shrinking it would rerun every check once per shrink candidate.
  */
object DedupVerifyProps extends Properties("DedupVerify") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(30)

  /** The pre-set join verify: fan each pair out over its `a` shingles,
    * join the `b` shingles, count per pair, join both shingle counts. */
  private def joinJaccardVerify(cand: DataFrame, sd: DataFrame,
                                minJaccard: Double): DataFrame = {
    val n = sd.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    cand
      .join(sd.select(col("id").as("a"), col("shingle")), "a")
      .join(sd.select(col("id").as("b"), col("shingle").as("shingle_b")), Seq("b"))
      .filter(col("shingle") === col("shingle_b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
      .join(n.select(col("id").as("a"), col("n_sh").as("na")), "a")
      .join(n.select(col("id").as("b"), col("n_sh").as("nb")), "b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"), col("common"), col("jaccard"))
  }

  /** The pre-set pairCommons: rare pairs by self-join, hot commons by a
    * pairs × hot-membership join added back with a left join. */
  private def joinPairCommons(sd: DataFrame, cap: Long): DataFrame = {
    val fq = sd.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
    val rare = sd.join(fq.filter(col("__df") <= cap).select(col("shingle")), Seq("shingle"))
    val hot = sd.join(fq.filter(col("__df") > cap).select(col("shingle")), Seq("shingle"))
    val commonRare = rare.select(col("id").as("a"), col("shingle"))
      .join(rare.select(col("id").as("b"), col("shingle")), Seq("shingle"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common_rare"))
    val commonHot = commonRare.select(col("a"), col("b"))
      .join(hot.select(col("id").as("a"), col("shingle")), "a")
      .join(hot.select(col("id").as("b"), col("shingle").as("__sh_b")), Seq("b"))
      .filter(col("shingle") === col("__sh_b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common_hot"))
    val n = sd.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    commonRare.join(commonHot, Seq("a", "b"), "left")
      .withColumn("common", col("common_rare") + coalesce(col("common_hot"), lit(0L)))
      .join(n.select(col("id").as("a"), col("n_sh").as("na")), "a")
      .join(n.select(col("id").as("b"), col("n_sh").as("nb")), "b")
      .select(col("a"), col("b"), col("common"), col("na"), col("nb"))
  }

  /** A small corpus over a 10-shingle vocabulary, so shingles are shared
    * by many docs and a low df cap makes some of them hot. Doc 0 holds
    * exactly one shingle. Candidates are distinct ordered pairs and
    * always include both orientations of (0, last).
    */
  private val genCorpus: Gen[(Seq[(Long, String)], Seq[(Long, Long)], Long, Double)] = for {
    nDocs <- Gen.chooseNum(3, 7)
    first <- Gen.chooseNum(0, 9)
    rest <- Gen.listOfN(nDocs - 1, Gen.chooseNum(1, 8).flatMap(k => Gen.pick(k, 0 until 10)))
    ordered = for (a <- 0L until nDocs; b <- 0L until nDocs if a != b) yield (a, b)
    picked <- Gen.someOf(ordered)
    cap <- Gen.oneOf(1L, 2L, 3L, Long.MaxValue)
    minJ <- Gen.oneOf(0.0, 0.25, 0.5)
  } yield {
    val docs = (Seq(first) +: rest.map(_.toSeq)).zipWithIndex.flatMap { case (shs, id) =>
      shs.distinct.map(sh => (id.toLong, f"s$sh%02d")) }
    val last = nDocs - 1L
    (docs, (picked.toSet ++ Set((0L, last), (last, 0L))).toSeq, cap, minJ)
  }

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  property("jaccardVerify and pairCommons equal the join formulations") = {
    val spark = TestSpark.spark
    import spark.implicits._
    Prop.forAllNoShrink(genCorpus) { case (docs, pairs, cap, minJ) =>
      val sd = docs.toDF("id", "shingle")
      val cand = pairs.toDF("a", "b")
      val want = rows(joinJaccardVerify(cand, sd, minJ))
      rows(graft.ops.Dedup.jaccardVerify(cand, sd, "id", minJ)) == want &&
        rows(graft.ops.Dedup.jaccardVerify(cand, sd, "id", minJ,
          pruneToCandidates = true)) == want &&
        rows(graft.ops.Dedup.pairCommons(sd, "id", cap)) == rows(joinPairCommons(sd, cap))
    }
  }
}
