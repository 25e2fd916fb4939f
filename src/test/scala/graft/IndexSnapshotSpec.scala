package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.index.{AnnIndex, BandIndex, FpIndex, FpMeta}
import graft.operators.{Dedup, DocPipeline, MaterializeOnce, Similarity}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Each persisted index is validated once per SNAPSHOT of its corpus
  * and root files, not on every served call: an unchanged valid index
  * serves with no validation and no Spark job in `ensure`, and every
  * change to the files — from outside or through the index's own
  * mutators — costs exactly one full check on the next `ensure`. */
class IndexSnapshotSpec extends SparkSpec {
  import spark.implicits._

  /** A documents corpus: 40 base docs (src1..src3) with distinct
    * 20-word texts, and a src0 shard of 8 near-copies of base docs
    * 0..7 (last word changed) — each a near-dup of its base doc. */
  private def writeDocs(d: String, tag: String = "w"): Unit = {
    def text(i: Int) = (0 until 20)
      .map(j => s"$tag${(i * 37 + j * 11) % 101}x$j").mkString(" ")
    val base = (0 until 40).map(i => (i.toLong, text(i), s"src${1 + i % 3}"))
    val shard = (0 until 8).map(i =>
      (100L + i, text(i).split(" ").dropRight(1).mkString(" ") + " tail",
        "src0"))
    (base ++ shard).toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
  }

  /** An embeddings corpus of 240 dim-8 vectors with dense ids from 0
    * (what the naive IVF book seeds from). */
  private def writeVecs(d: String): Unit =
    (0 until 240).map { i =>
      (i.toLong, (0 until 8).map(j => ((i * 31 + j * 17) % 23 - 11) / 10f),
        s"l${i % 3}")
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")

  private def jobsDuring[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      val a = f
      ListenerBusDrain(sc)
      (a, n.get)
    } finally sc.removeSparkListener(l)
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("an unchanged valid index serves with no validation: ensure runs " +
      "no Spark job, and the served queries run no check") {
    val d = tmpDir("snap_docs")
    writeDocs(d)
    val v = tmpDir("snap_vecs")
    writeVecs(v)
    val fpRoot = FpIndex.ensure(spark, d)
    val bandRoot = BandIndex.ensure(spark, d)
    val annRoot = AnnIndex.ensure(spark, v)
    val checks0 = (FpIndex.validations.get, BandIndex.validations.get,
      AnnIndex.validations.get)
    val (_, jobs) = jobsDuring {
      FpIndex.ensure(spark, d); BandIndex.ensure(spark, d)
      AnnIndex.ensure(spark, v)
    }
    assert(jobs == 0, "ensure on an unchanged valid snapshot must not " +
      "start a Spark job")
    assert(Dedup.qCrossDedupServed(spark, d).count() == 8)
    assert(Dedup.qCrossNeardup(spark, d).filter(col("is_neardup") === 1)
      .select("doc_id").distinct().count() == 8,
      "every shard doc is a near-copy of a base doc")
    Dedup.qContamDelta(spark, d).collect()
    Similarity.qAnnServed(spark, v).collect()
    Similarity.qProbeServed(spark, v).collect()
    DocPipeline.ingestShard(spark, d)._1.collect()
    assert(AnnIndex.annSearch(spark, annRoot).count() > 0)
    assert(FpIndex.probe(spark, d, fpRoot).count() == 8)
    assert(BandIndex.probe(spark, d, bandRoot).count() > 0)
    assert((FpIndex.validations.get, BandIndex.validations.get,
      AnnIndex.validations.get) == checks0,
      "served calls on unchanged snapshots must not re-validate")
  }

  test("every change to an FpIndex snapshot costs exactly one check: a " +
      "torn append and a corpus overwritten in place rebuild; delete and " +
      "vacuum revalidate without a rebuild; a newer format is refused") {
    val d = tmpDir("snap_fp_docs")
    writeDocs(d)
    val root = tmpDir("snap_fp_root")
    FpIndex.ensure(spark, d, root)
    def step(expectBuild: Boolean)(change: => Unit): Unit = {
      change
      val (v0, b0) = (FpIndex.validations.get, FpIndex.builds.get)
      FpIndex.ensure(spark, d, root)
      FpIndex.ensure(spark, d, root)
      assert(FpIndex.validations.get == v0 + 1,
        "one check per changed snapshot, none for the unchanged one after")
      assert(FpIndex.builds.get == b0 + (if (expectBuild) 1 else 0))
    }
    // torn append: an fps row lands from outside, meta stays
    step(expectBuild = true) {
      Seq((999999999L, 1L)).toDF("fp", "n_base")
        .write.mode("append").parquet(s"$root/fps")
    }
    // the corpus overwritten in place: new content rebuilds, the same
    // content rewritten (new files) only revalidates
    step(expectBuild = true) {
      writeDocs(d, tag = "v")
      MaterializeOnce.invalidate()
    }
    step(expectBuild = false) {
      writeDocs(d, tag = "v")
      MaterializeOnce.invalidate()
    }
    val dead = spark.read.parquet(s"$d/documents.parquet")
      .filter(col("doc_id") === 0L).select("doc_id", "text")
    step(expectBuild = false) { assert(FpIndex.delete(spark, root, dead) == 1L) }
    step(expectBuild = false) { FpIndex.vacuum(spark, root) }
    // a newer-format meta is refused on every call, never cached
    val meta = spark.read.parquet(s"$root/meta").as[FpMeta].head()
    Seq(meta.copy(formatVersion = FpIndex.FormatVersion + 1)).toDS()
      .toDF().coalesce(1).write.mode("overwrite").parquet(s"$root/meta")
    for (_ <- 1 to 2) {
      val v0 = FpIndex.validations.get
      val e = intercept[IllegalStateException] { FpIndex.ensure(spark, d, root) }
      assert(e.getMessage.contains("refusing to overwrite"))
      assert(FpIndex.validations.get == v0 + 1)
    }
  }

  test("every change to a BandIndex snapshot costs exactly one check: a " +
      "deleted buckets/ rebuilds; delete, vacuum and append revalidate " +
      "without a rebuild") {
    val d = tmpDir("snap_band_docs")
    writeDocs(d)
    val root = tmpDir("snap_band_root")
    BandIndex.ensure(spark, d, root)
    def step(shard: String, expectBuild: Boolean)(change: => Unit): Unit = {
      change
      val (v0, b0) = (BandIndex.validations.get, BandIndex.builds.get)
      BandIndex.ensure(spark, d, root, shard)
      BandIndex.ensure(spark, d, root, shard)
      assert(BandIndex.validations.get == v0 + 1)
      assert(BandIndex.builds.get == b0 + (if (expectBuild) 1 else 0))
    }
    step("src0", expectBuild = true) {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"$root/buckets"), true))
    }
    step("src0", expectBuild = false) {
      assert(BandIndex.delete(spark, root, Seq(0L, 1L).toDF("doc_id")) == 2L)
    }
    step("src0", expectBuild = false) { BandIndex.vacuum(spark, root) }
    step("__future__", expectBuild = false) {
      BandIndex.append(spark, d, root, nextShardSource = "__future__")
    }
  }

  test("AnnIndex: delete revalidates once; the serve paths take the " +
      "validated meta and follow the files after append; queryTiers " +
      "refuses duplicate tiers") {
    val v = tmpDir("snap_ann_vecs")
    writeVecs(v)
    val root = tmpDir("snap_ann_root")
    AnnIndex.ensure(spark, v, root)
    val served = rows(AnnIndex.annSearch(spark, root))
    assert(AnnIndex.delete(spark, root, Seq(5L).toDF("vec_id")) == 1L)
    val v0 = AnnIndex.validations.get
    AnnIndex.ensure(spark, v, root)
    AnnIndex.ensure(spark, v, root)
    assert(AnnIndex.validations.get == v0 + 1)
    assert(!rows(AnnIndex.annSearch(spark, root)).exists(_.startsWith("5|")),
      "the delete must be visible through the served meta")
    assert(served.exists(_.startsWith("5|")))
    // append moves meta ahead of the corpus: the serve paths must read
    // the new row count, not the validated one
    val before = AnnIndex.readMeta(spark, root).get.nVectors
    AnnIndex.append(spark, v, root, Seq((1000L,
      (0 until 8).map(_ => 0.5f))).toDF("vec_id", "embedding"))
    assert(AnnIndex.readMeta(spark, root).get.nVectors == before + 1)
    assert(AnnIndex.annSearch(spark, root).count() > 0)
    intercept[IllegalArgumentException] {
      AnnIndex.queryTiers(spark, root, Seq((0L, (0 until 8).map(_ => 0.1f)))
        .toDF("query_id", "embedding"), tiers = Seq(1, 2, 2), k = 3)
    }
  }

  test("the cross_probe memo follows the BandIndex snapshot: after an " +
      "in-session delete, vacuum or append, q_cross_neardup and " +
      "q_contam_delta equal a fresh computation") {
    val d = tmpDir("snap_probe_docs")
    writeDocs(d)
    def fresh(q: => DataFrame): Set[String] = {
      MaterializeOnce.invalidate()
      rows(q)
    }
    def check(): Set[String] = {
      val near = rows(Dedup.qCrossNeardup(spark, d))
      val contam = rows(Dedup.qContamDelta(spark, d))
      assert(near == fresh(Dedup.qCrossNeardup(spark, d)))
      assert(contam == fresh(Dedup.qContamDelta(spark, d)))
      near
    }
    val before = check()
    val root = BandIndex.defaultRoot(d)
    // base docs 0..3 are the near-dup partners of shard docs 100..103
    assert(BandIndex.delete(spark, root, Seq(0L, 1L, 2L, 3L).toDF("doc_id")) == 4L)
    val afterDelete = check()
    assert(afterDelete != before && afterDelete.size < before.size,
      "the deleted partners must leave the served verdicts")
    assert(check() == afterDelete)
    BandIndex.vacuum(spark, root)
    assert(check() == afterDelete)
    BandIndex.append(spark, d, root, nextShardSource = "__future__")
    check()
  }
}
