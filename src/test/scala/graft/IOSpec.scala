package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expr.LongArrayDot
import graft.sources.{Incremental, JsonIO}

/** Sources/sinks + incremental-skip + custom expression coverage. */
class IOSpec extends SparkSpec {
  import spark.implicits._

  private val segSchema = StructType(Seq(
    StructField("start", DoubleType), StructField("end", DoubleType)))

  test("readSegmentArray parses a reference-style pretty-printed JSON array") {
    val dir = Files.createTempDirectory("graft_json")
    val f = dir.resolve("timestamps.json")
    Files.writeString(f,
      """[
        |    {
        |        "start": 1.5,
        |        "end": 3.25
        |    },
        |    {
        |        "start": 10.0,
        |        "end": 12.5
        |    }
        |]""".stripMargin)
    val df = JsonIO.readSegmentArray(spark, f.toString, segSchema)
    assert(df.orderBy("start").collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
      == Seq((1.5, 3.25), (10.0, 12.5)))
  }

  test("JSON lines sink/source roundtrip") {
    val dir = Files.createTempDirectory("graft_jsonl").resolve("out")
    val df = Seq((1.0, 2.0), (3.0, 4.0)).toDF("start", "end")
    JsonIO.writeJsonLines(df, dir.toString)
    val back = JsonIO.readJsonLines(spark, dir.toString, segSchema)
    assert(back.count() == 2)
    assert(back.agg(sum($"start")).head.getDouble(0) == 4.0)
  }

  test("Incremental.remaining is the left-anti manifest skip") {
    val inputs = Seq("a", "b", "c", "d").toDF("file")
    val done = Seq("b", "d").toDF("file")
    val rest = Incremental.remaining(inputs, done, "file")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(rest == Seq("a", "c"))
  }

  test("binaryFile glob scan reads only matching extensions (S1)") {
    val dir = Files.createTempDirectory("graft_media")
    Files.write(dir.resolve("a.wav"), Array[Byte](1, 2, 3, 4))
    Files.write(dir.resolve("b.mp3"), Array[Byte](5, 6))
    Files.write(dir.resolve("c.txt"), Array[Byte](9))
    val df = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.{wav,mp3}")
      .load(dir.toString)
    val got = df.select("path", "length").collect()
      .map(r => (r.getString(0).split('/').last, r.getLong(1))).sorted.toSeq
    assert(got == Seq(("a.wav", 4L), ("b.mp3", 2L)))
  }

  test("saltedSum equals the direct aggregation") {
    val df = (1 to 1000).map(i => (if (i % 10 == 0) "hot" else s"k${i % 7}", i.toLong))
      .toDF("key", "v")
    val direct = df.groupBy("key").agg(sum($"v").as("sum_v"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val salted = graft.ops.SegmentOps.saltedSum(df, "key", "v", salts = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(salted == direct)
  }

  test("ManifestSink: atomic commits, snapshot reads, incremental skip") {
    import graft.sources.ManifestSink
    val root = Files.createTempDirectory("graft_manifest").toString
    val batch1 = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("file", "v")
    val v0 = ManifestSink.commit(batch1, root, keys = Seq("a", "b"))
    assert(v0 == 0L)
    assert(ManifestSink.read(spark, root).count() == 3)
    // uncommitted data dir is invisible to readers
    val orphan = java.nio.file.Paths.get(root, "data", "orphan")
    Seq(("zz", 99L)).toDF("file", "v").write.parquet(orphan.toString)
    assert(ManifestSink.read(spark, root).count() == 3)
    // incremental skip: only 'c' remains
    val inputs = Seq("a", "b", "c").toDF("file")
    val rest = graft.sources.Incremental.remaining(
      inputs, ManifestSink.doneKeys(spark, root), "file")
      .collect().map(_.getString(0)).toSeq
    assert(rest == Seq("c"))
    // second commit appends atomically; snapshot grows
    val v1 = ManifestSink.commit(Seq(("c", 4L)).toDF("file", "v"), root, Seq("c"))
    assert(v1 == 1L)
    assert(ManifestSink.read(spark, root).count() == 4)
    assert(graft.sources.Incremental.remaining(
      inputs, ManifestSink.doneKeys(spark, root), "file").count() == 0)
  }

  test("ManifestSink: racing committers both publish, neither overwrites") {
    import graft.sources.ManifestSink
    val root = Files.createTempDirectory("graft_manifest_race").toString
    // Two committers race from the same observed log state: the loser of
    // the version claim must retry onto a fresh version, and BOTH commits
    // must be visible afterwards (a rename-based publish silently drops
    // one).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val fa = scala.concurrent.Future(
      ManifestSink.commit(Seq(("a", 1L)).toDF("file", "v"), root, Seq("a")))
    val fb = scala.concurrent.Future(
      ManifestSink.commit(Seq(("b", 2L)).toDF("file", "v"), root, Seq("b")))
    val va = scala.concurrent.Await.result(fa, scala.concurrent.duration.Duration.Inf)
    val vb = scala.concurrent.Await.result(fb, scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    assert(va != vb, "racing committers must claim distinct versions")
    assert(ManifestSink.read(spark, root).count() == 2)
    assert(ManifestSink.doneKeys(spark, root).collect().map(_.getString(0)).sorted
      .toSeq == Seq("a", "b"))
  }

  test("ManifestSink: compaction folds the log; commits on top still apply") {
    import graft.sources.ManifestSink
    val root = Files.createTempDirectory("graft_manifest_compact").toString
    ManifestSink.commit(Seq(("a", 1L)).toDF("file", "v"), root, Seq("a"))
    ManifestSink.commit(Seq(("b", 2L)).toDF("file", "v"), root, Seq("b"))
    val ckpt = ManifestSink.compact(root)
    assert(ckpt >= 2L)
    // superseded per-commit manifests are gone, snapshot unchanged
    assert(ManifestSink.read(spark, root).count() == 2)
    // a commit after compaction lands on a higher version and applies
    ManifestSink.commit(Seq(("c", 3L)).toDF("file", "v"), root, Seq("c"))
    assert(ManifestSink.read(spark, root).count() == 3)
    assert(ManifestSink.doneKeys(spark, root, keyCol = "k")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b", "c"))
    // second compaction folds checkpoint + new commit
    ManifestSink.compact(root)
    assert(ManifestSink.read(spark, root).count() == 3)
  }

  test("ManifestSink replay: a commit landing mid-compaction survives the checkpoint") {
    import graft.sources.ManifestSink
    val root = Files.createTempDirectory("graft_manifest_midrace").toString
    ManifestSink.commit(Seq(("a", 1L)).toDF("file", "v"), root, Seq("a")) // 0.txt
    ManifestSink.commit(Seq(("b", 2L)).toDF("file", "v"), root, Seq("b")) // 1.txt
    // Reconstruct the exact race outcome on disk: a compaction snapshots
    // versions 0-1, and while it publishes, a racing commit claims 2.txt;
    // the checkpoint then lands at 3.txt with fold point 1.
    val mdir = java.nio.file.Paths.get(root, "_manifest")
    Files.writeString(mdir.resolve("2.txt"), "commit=racer\nkey=c")
    val folded = (Files.readString(mdir.resolve("0.txt")) + "\n" +
      Files.readString(mdir.resolve("1.txt")))
    Files.writeString(mdir.resolve("3.txt"), "checkpoint upto=1\n" + folded)
    Files.delete(mdir.resolve("0.txt"))
    Files.delete(mdir.resolve("1.txt"))
    // the racing commit's key must still be visible alongside the folds
    assert(ManifestSink.doneKeys(spark, root).collect().map(_.getString(0)).sorted
      .toSeq == Seq("a", "b", "c"))
    assert(ManifestSink.read(spark, root).count() == 2) // a + b data files
    // and a subsequent compaction folds all three, preserving everything
    ManifestSink.compact(root)
    assert(ManifestSink.doneKeys(spark, root).collect().map(_.getString(0)).sorted
      .toSeq == Seq("a", "b", "c"))
  }

  test("ManifestSink replay: racing compactions do not duplicate folded lines") {
    import graft.sources.ManifestSink
    val root = Files.createTempDirectory("graft_manifest_dblckpt").toString
    ManifestSink.commit(Seq(("a", 1L)).toDF("file", "v"), root, Seq("a")) // 0.txt
    ManifestSink.commit(Seq(("b", 2L)).toDF("file", "v"), root, Seq("b")) // 1.txt
    // Reconstruct two compactions that raced from the same snapshot:
    // both folded versions 0-1; the loser's checkpoint landed at 3.
    val mdir = java.nio.file.Paths.get(root, "_manifest")
    val folded = (Files.readString(mdir.resolve("0.txt")) + "\n" +
      Files.readString(mdir.resolve("1.txt")))
    Files.writeString(mdir.resolve("2.txt"), "checkpoint upto=1\n" + folded)
    Files.writeString(mdir.resolve("3.txt"), "checkpoint upto=1\n" + folded)
    Files.delete(mdir.resolve("0.txt"))
    Files.delete(mdir.resolve("1.txt"))
    // each row exactly once, each key exactly once
    assert(ManifestSink.read(spark, root).count() == 2)
    assert(ManifestSink.doneKeys(spark, root).collect().map(_.getString(0)).sorted
      .toSeq == Seq("a", "b"))
  }

  test("restoreOpenCount targets the group covering the open session") {
    import graft.streaming.StreamingSessions
    import graft.ops.SegmentKernels.Merged
    // open session (10,20,n=4); a LATE segment (0,2) predates it and does
    // not merge — the adjustment must land on the second group, not head
    val merged = IndexedSeq(Merged(0d, 2d, 1), Merged(10d, 25d, 3))
    val fixed = StreamingSessions.restoreOpenCount(merged,
      Some(StreamingSessions.OpenSession(10d, 20d, 4)))
    assert(fixed == IndexedSeq(Merged(0d, 2d, 1), Merged(10d, 25d, 6)))
    // no open session: untouched
    assert(StreamingSessions.restoreOpenCount(merged, None) == merged)
  }

  test("IntervalUnionAgg: partial merges equal the single-pass union") {
    val agg = new graft.expr.IntervalUnionAgg()
    val ivs = Seq((0L, 10L), (5L, 15L), (20L, 30L), (29L, 40L), (100L, 101L))
    // single fold
    val whole = agg.finish(ivs.foldLeft(agg.zero)(agg.reduce))
    assert(whole == 15L + 20L + 1L)
    // arbitrary partition splits must merge to the same result
    for (cut <- 1 until ivs.length) {
      val (a, b) = ivs.splitAt(cut)
      val partial = agg.finish(agg.merge(
        a.foldLeft(agg.zero)(agg.reduce), b.foldLeft(agg.zero)(agg.reduce)))
      assert(partial == whole, s"split at $cut")
    }
    // empty/degenerate intervals ignored
    assert(agg.finish(agg.reduce(agg.zero, (5L, 5L))) == 0L)
  }

  test("LongArrayDot matches zip_with+aggregate, interpreted and codegen") {
    LongArrayDot.register(spark)
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
      (Seq(-2L, 0L, 7L), Seq(3L, 9L, -1L))).toDF("a", "b")
      .withColumn("dot", expr("graft_dot(a, b)"))
      .withColumn("ref", aggregate(zip_with($"a", $"b", _ * _), lit(0L), _ + _))
    assert(df.filter($"dot" =!= $"ref").count() == 0)
    assert(df.select("dot").collect().map(_.getLong(0)).toSeq == Seq(32L, -13L))
  }

  test("staged registry: one build per (session, tag, dir), nesting-safe, thread-safe") {
    import java.util.concurrent.atomic.AtomicInteger
    val dir = "registry-spec"
    val builds = new AtomicInteger
    def once() = QuerySupport.stagedRelation("spec_once", spark, dir) {
      builds.incrementAndGet()
      spark.range(5).toDF("id")
    }
    val first = once()
    val second = once()
    assert(builds.get == 1)
    assert(second.collect().toSeq == first.collect().toSeq)
    // the staged dir keeps the graft_rel_<tag> name: <dir>/rel/part-*
    val staged = first.inputFiles.map(f =>
      java.nio.file.Paths.get(new java.net.URI(f)).getParent.getParent.getFileName.toString)
    assert(staged.nonEmpty && staged.forall(_.startsWith("graft_rel_spec_once")),
      staged.mkString(","))

    // a builder that stages another tag inside its own build
    val outer = QuerySupport.stagedRelation("spec_outer", spark, dir) {
      QuerySupport.stagedRelation("spec_inner", spark, dir)(spark.range(3).toDF("id"))
        .withColumn("twice", col("id") * 2)
    }
    assert(outer.orderBy("id").collect().map(_.getLong(1)).toSeq == Seq(0L, 2L, 4L))

    // three pool threads asking for one key
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val poolBuilds = new AtomicInteger
    try {
      val tasks = (1 to 3).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
          def call(): Seq[Long] = QuerySupport.stagedRelation("spec_pool", spark, dir) {
            poolBuilds.incrementAndGet()
            spark.range(20).toDF("id")
          }.collect().map(_.getLong(0)).sorted.toSeq
        })
      }
      val rows = tasks.map(_.get())
      assert(rows.forall(_ == (0L until 20L)))
      assert(poolBuilds.get == 1)
    } finally pool.shutdown()
  }

  test("overlap rethrows the first failure promptly and cancels the sibling jobs") {
    val sc = spark.sparkContext
    val siblingError = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      QuerySupport.overlap(spark)(
        () => { // one task per partition, each waiting a minute or until killed
          try spark.range(0, 4, 1, 4).map { x =>
            val tc = org.apache.spark.TaskContext.get()
            var waited = 0
            while (waited < 600 && !tc.isInterrupted()) { Thread.sleep(100L); waited += 1 }
            x
          }.count()
          catch { case e: Throwable => siblingError.set(e); throw e }
        },
        () => {
          // fail once the long job is running, so its cancel is observable
          while (sc.statusTracker.getActiveJobIds().isEmpty) Thread.sleep(20L)
          throw new IllegalStateException("first failure")
        })
    }
    assert(err.getMessage == "first failure")
    assert((System.nanoTime() - t0) / 1e9 < 30d, "the helper waited for the long job")
    while (siblingError.get == null && (System.nanoTime() - t0) / 1e9 < 30d) Thread.sleep(50L)
    assert(String.valueOf(siblingError.get).toLowerCase.contains("cancel"),
      s"long job did not end cancelled: ${siblingError.get}")
  }
}
