package graft.index

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What an fp-index directory claims to be — the [[BandMeta]] device
  * for the EXACT tier. `contentFp` is an order-free fingerprint of the
  * persisted (fp, n_base) rows; `nFps` pins the persisted row count so
  * a torn append reads as stale (the BandIndex v3 nPostings device). */
case class FpMeta(formatVersion: Int, corpusDir: String,
    shardSource: String, nBaseDocs: Long, contentFp: Long, nFps: Long)

/** PERSISTED exact-dedup fingerprints — the BandIndex pattern applied
  * to the EXACT tier (r13, VERDICT_r12 item 8): the settled corpus's
  * DISTINCT normalized-content hashes land once as a parquet artifact,
  * and every shard ingest — batch or streaming — judges its docs with
  * one broadcast-or-shuffle hash join against it, instead of
  * re-aggregating the 100 TB base per ingest (what
  * [[Dedup.qCrossDedup]]'s in-session rule costs when run repeatedly;
  * fine for one batch job, wrong for a per-micro-batch stream).
  *
  * Artifacts under one root, plain parquet:
  *   - `fps/`  (fp, n_base) — distinct base fingerprints + their doc
  *     counts (8-byte keys; the corpus collapses ~|distinct contents|
  *     rows, never text)
  *   - `meta/` ([[FpMeta]]) — 1 row, the validity claim
  *
  * The fingerprint expression is [[Dedup.normFpCol]] — shared with the
  * in-session rule and the streaming decision path, so parity is by
  * construction. Lifecycle mirrors [[BandIndex]]: [[ensure]]
  * serve-valid/rebuild-stale/refuse-newer, [[append]] settles an
  * ingested shard algebraically (old n_base + shard counts — content-
  * pure, so append == rebuild EXACTLY, spec'd), and a crash between
  * the fps swap and the meta rewrite reads as stale via the `nFps`
  * pin. */
object FpIndex {

  val FormatVersion = 1

  private def p(root: String, part: String) = s"$root/$part"

  /** Test hook: actual builds in this JVM (the reuse proof). */
  private[graft] val builds = new AtomicInteger(0)

  /** Test hook: full [[ensure]] checks run in this JVM — one per
    * snapshot, never one per served call. */
  private[graft] val validations = new AtomicInteger(0)

  private val snapshots = new IndexSnapshots[FpMeta]("documents")

  def defaultRoot(corpusDir: String): String =
    sys.props("java.io.tmpdir").stripSuffix("/") + "/graft_fp_index/" +
      corpusDir.replaceAll("[^A-Za-z0-9._-]", "_")

  private def baseFps(spark: SparkSession, corpusDir: String,
      shardSource: String): DataFrame =
    Dedup.normFps(spark, corpusDir)
      .filter(col("source") =!= shardSource)
      .groupBy("fp").agg(count(lit(1)).as("n_base"))

  /** Order-free content fingerprint over the (fp, n_base) rows. */
  private def contentFingerprint(fps: DataFrame): Long =
    fps.select(coalesce(expr("bit_xor(xxhash64(fp, n_base))"), lit(0L)))
      .head().getLong(0)

  private def fpCount(spark: SparkSession, root: String): Long =
    spark.read.parquet(p(root, "fps")).count()

  /** Build the base fingerprint table, treating `shardSource` as the
    * not-yet-settled shard (excluded). Overwrites `root`. */
  def write(spark: SparkSession, corpusDir: String, root: String,
      shardSource: String = Dedup.newShardSource): Unit = {
    builds.incrementAndGet()
    // A rebuild starts from a CLEAN retraction state (the BandIndex
    // ADVICE_r13 rule): tombstones name doc_ids/fps of the PREVIOUS
    // index generation — a regenerated corpus reuses the 0..n id space
    // and must not inherit a stale mask.
    val fsW = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsW.delete(new org.apache.hadoop.fs.Path(p(root, "tombstones")), true)
    fsW.delete(new org.apache.hadoop.fs.Path(p(root, "vacuumed")), true)
    // ONE corpus scan (VERDICT_r13): cache the filtered normFps frame
    // so the fps aggregation, the nBase count and the content
    // fingerprint all read the cached rows instead of re-scanning the
    // corpus three times — the BandIndex.write baseSigs shape.
    val base = Dedup.normFps(spark, corpusDir)
      .filter(col("source") =!= shardSource).cache()
    try {
      val fps = base.groupBy("fp").agg(count(lit(1)).as("n_base"))
      fps.write.mode("overwrite").parquet(p(root, "fps"))
      val nBase = base.count()
      // contentFp is derived from the CORPUS (what ensure() revalidates
      // against), not from the just-written artifact — fingerprinting
      // the index against itself would be circular and a base
      // regenerated in place would serve stale verdicts forever
      val meta = FpMeta(FormatVersion, corpusDir, shardSource,
        nBase, contentFingerprint(fps), fpCount(spark, root))
      writeMeta(spark, root, meta)
      snapshots.record(spark, root, corpusDir, shardSource, meta)
    } finally base.unpersist()
  }

  private def writeMeta(spark: SparkSession, root: String,
      meta: FpMeta): Unit = {
    import spark.implicits._
    Seq(meta).toDS().toDF().coalesce(1)
      .write.mode("overwrite").parquet(p(root, "meta"))
  }

  private[graft] def readMeta(spark: SparkSession, root: String): Option[FpMeta] =
    try {
      import spark.implicits._
      val df = spark.read.parquet(p(root, "meta"))
      val ver = df.select("formatVersion").head().getInt(0)
      if (ver != FormatVersion) Some(FpMeta(ver, "", "", -1L, 0L, -1L))
      else Some(df.as[FpMeta].head())
    } catch { case _: Exception => None }

  private val ensuring = new ConcurrentHashMap[String, AnyRef]()

  /** The deployment contract ([[BandIndex.ensure]]'s): serve a valid
    * index untouched, rebuild missing/stale/corrupt, refuse to clobber
    * a newer format. The checks run once per snapshot of the corpus
    * and root files ([[IndexSnapshots]]); an unchanged snapshot
    * returns without a Spark job. */
  def ensure(spark: SparkSession, corpusDir: String,
      root0: String = null,
      shardSource: String = Dedup.newShardSource): String = {
    val root = Option(root0).getOrElse(defaultRoot(corpusDir))
    val lock = ensuring.computeIfAbsent(root, _ => new AnyRef)
    lock.synchronized {
      val tok = snapshots.token(spark, corpusDir, root)
      if (!snapshots.holds(root, corpusDir, shardSource, tok)) {
        validations.incrementAndGet()
        readMeta(spark, root) match {
          case Some(m) if m.formatVersion > FormatVersion =>
            throw new IllegalStateException(
              s"FpIndex: $root is format v${m.formatVersion} (newer than " +
                s"v$FormatVersion) — refusing to overwrite")
          case Some(m) if m.formatVersion == FormatVersion &&
              m.corpusDir == corpusDir && m.shardSource == shardSource && {
                // unreadable artifacts read as stale → rebuild
                // (the ADVICE_r12 BandIndex guard contract)
                try {
                  m.nBaseDocs == Dedup.normFps(spark, corpusDir)
                    .filter(col("source") =!= shardSource).count() &&
                    // the torn-append pin: persisted row count vs meta
                    m.nFps == fpCount(spark, root) &&
                    // regeneration check: the fingerprint re-derives
                    // from the CORPUS, never from the persisted artifact
                    // (which would compare the index against itself)
                    m.contentFp == contentFingerprint(
                      baseFps(spark, corpusDir, shardSource))
                } catch { case scala.util.control.NonFatal(_) => false }
              } => // valid — serve as-is
            snapshots.recordAt(root, tok, corpusDir, shardSource, m)
          case _ => write(spark, corpusDir, root, shardSource)
        }
      }
    }
    root
  }

  /** Judge an arbitrary shard fingerprint frame (doc_id, fp) against
    * the persisted base: (doc_id, n_base_matches, is_dup) — the exact
    * row shape of [[Dedup.qCrossDedup]], so the streaming decision
    * path and the served query share the in-session rule's contract.
    * Each doc's verdict depends only on its own fp and the static
    * index — any micro-batch split yields identical rows. */
  def probeFps(spark: SparkSession, root: String,
      shardFp: DataFrame): DataFrame =
    shardFp
      .join(liveFps(spark, root)
        .withColumnRenamed("fp", "base_fp"),
        col("fp") === col("base_fp"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_base"), lit(0L)).as("n_base_matches"),
        (col("n_base").isNotNull).cast("int").as("is_dup"))

  // ---- delete / vacuum (r14, VERDICT_r13 item 4) -------------------
  //
  // The exact tier's retraction story, mirroring BandIndex's but with
  // one structural difference: BandIndex's tombstone mask is DOC-KEYED
  // (anti-join — naturally idempotent), while the fp table holds only
  // COUNTS, and count subtraction applied twice is corruption. The
  // `vacuumed/` marker (an order-free fingerprint of the tombstone set
  // whose subtraction has been folded into fps/) is the commit record
  // that makes the vacuum re-entrant: a crash between the fps swap and
  // the tombstone drop re-enters on the "already applied" path and
  // just completes, and the probe's mask skips tombstones the marker
  // says are folded in.

  /** The tombstone set ((doc_id, fp) rows), or None when no retraction
    * is pending — absence is the fast path. */
  private def tombstones(spark: SparkSession,
      root: String): Option[DataFrame] =
    try {
      val t = spark.read.parquet(p(root, "tombstones"))
        .select(col("doc_id"), col("fp"))
      Some(t)
    } catch { case _: Exception => None }

  /** Order-free fingerprint of a tombstone set — the identity the
    * `vacuumed/` marker pins. */
  private def tombFingerprint(t: DataFrame): Long =
    t.select(coalesce(expr("bit_xor(xxhash64(doc_id, fp))"), lit(0L)))
      .head().getLong(0)

  /** The tombstone-set fingerprint whose subtraction has already been
    * folded into `fps/`, if a vacuum is mid-flight. */
  private def appliedMarker(spark: SparkSession,
      root: String): Option[Long] =
    try Some(spark.read.parquet(p(root, "vacuumed"))
      .select("tomb_fp").head().getLong(0))
    catch { case _: Exception => None }

  /** The LIVE fingerprint table: persisted counts minus any pending
    * tombstoned retractions. Fp counting is content-pure, so the
    * algebraic subtraction equals an index rebuilt without the dead
    * docs EXACTLY — the append argument run backwards (spec'd). A
    * tombstone set the `vacuumed/` marker records as folded-in is NOT
    * subtracted again (the crash-window guard). */
  private def liveFps(spark: SparkSession, root: String): DataFrame = {
    val raw = spark.read.parquet(p(root, "fps"))
    tombstones(spark, root) match {
      case Some(t) if !appliedMarker(spark, root)
          .contains(tombFingerprint(t)) =>
        val dead = t.groupBy("fp").agg(count(lit(1)).as("n_dead"))
        raw.join(broadcast(dead), Seq("fp"), "left")
          .select(col("fp"),
            (col("n_base") - coalesce(col("n_dead"), lit(0L)))
              .as("n_base"))
          .filter(col("n_base") > 0)
      case _ => raw
    }
  }

  /** Retract docs (takedown / bad-crawl) from the served base,
    * O(batch): the batch carries its own content — (doc_id, text) —
    * so the fps come from [[Dedup.normFpCol]] (shared expression,
    * parity by construction) and the corpus is never re-scanned. The
    * retractions land as tombstone rows; every probe until [[vacuum]]
    * subtracts their per-fp counts from the served table. Idempotent
    * by doc_id (re-delivered retractions are skipped, the returned
    * count is NEWLY deleted). Refuses a batch whose fps are not in the
    * live base or would over-subtract a count — a retraction that
    * silently no-ops (or drives a count negative) is how a takedown
    * pipeline loses track of what it actually removed. */
  def delete(spark: SparkSession, root: String, docs: DataFrame): Long = {
    val meta = readMeta(spark, root).getOrElse(throw new IllegalStateException(
      s"FpIndex: cannot delete from $root — no readable index meta"))
    require(meta.formatVersion == FormatVersion,
      s"FpIndex: $root is format v${meta.formatVersion}")
    // heal a mid-flight vacuum first: mixing folded-in and pending
    // tombstones under one marker would make the mask ambiguous
    if (appliedMarker(spark, root).isDefined) vacuum(spark, root)
    val batch = docs
      .select(col("doc_id").cast("long").as("doc_id"),
        Dedup.normFpCol.as("fp"))
      .dropDuplicates("doc_id").cache()
    try {
      val fresh = (tombstones(spark, root) match {
        case Some(t) =>
          batch.join(t.select("doc_id"), Seq("doc_id"), "left_anti")
        case None => batch
      }).cache()
      try {
        val freshN = fresh.count()
        if (freshN == 0L) return 0L
        val need = fresh.groupBy("fp").agg(count(lit(1)).as("n_retract"))
        val bad = need
          .join(liveFps(spark, root), Seq("fp"), "left")
          .filter(col("n_base").isNull ||
            col("n_base") < col("n_retract")).count()
        require(bad == 0L,
          s"FpIndex: $bad of the batch's fingerprints are unknown to " +
            "the live base or would over-subtract its counts — " +
            "refusing the retraction (the caller's bookkeeping would " +
            "drift)")
        snapshots.drop(root)
        fresh.write.mode("append").parquet(p(root, "tombstones"))
        freshN
      } finally fresh.unpersist()
    } finally batch.unpersist()
  }

  /** Test hook: when set, [[vacuum]] throws right after the fps swap +
    * marker write — the crash window whose re-entry the `vacuumed/`
    * marker guards (the spec proves no double subtraction). */
  private[graft] var failAfterSwap = false

  /** Fold the pending tombstones into `fps/` (counts decremented, rows
    * at zero dropped — bit-equal to a rebuild without the dead docs,
    * since fp counting is content-pure), re-pin `nFps` in meta, drop
    * the tombstone set. Rewrite goes through a sibling dir + rename
    * (the [[append]] swap device); the `vacuumed/` marker written
    * between the swap and the cleanup makes a crashed vacuum
    * RE-ENTRANT — the retry detects the already-folded tombstone set
    * by fingerprint and only completes the cleanup, never subtracting
    * twice. No-op when nothing is tombstoned. */
  def vacuum(spark: SparkSession, root: String): FpMeta = {
    val meta = readMeta(spark, root).getOrElse(throw new IllegalStateException(
      s"FpIndex: cannot vacuum $root — no readable index meta"))
    require(meta.formatVersion == FormatVersion,
      s"FpIndex: $root is format v${meta.formatVersion}")
    val tomb = tombstones(spark, root)
    if (tomb.isEmpty) return meta
    val t = tomb.get.cache()
    try {
      if (t.count() == 0L) return meta
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tfp = tombFingerprint(t)
      snapshots.drop(root)
      if (!appliedMarker(spark, root).contains(tfp)) {
        // liveFps sees (tombstones, no matching marker) → the masked
        // view; materialize it as the new fps/
        liveFps(spark, root).write.mode("overwrite")
          .parquet(p(root, "fps.compact"))
        fs.delete(new org.apache.hadoop.fs.Path(p(root, "fps")), true)
        require(fs.rename(
          new org.apache.hadoop.fs.Path(p(root, "fps.compact")),
          new org.apache.hadoop.fs.Path(p(root, "fps"))),
          s"FpIndex: vacuum rename failed at $root")
        import spark.implicits._
        Seq(tfp).toDF("tomb_fp").coalesce(1)
          .write.mode("overwrite").parquet(p(root, "vacuumed"))
      }
      if (failAfterSwap) throw new RuntimeException(
        "FpIndex: injected crash after vacuum swap (test hook)")
      val newMeta = meta.copy(nFps = fpCount(spark, root))
      writeMeta(spark, root, newMeta)
      fs.delete(new org.apache.hadoop.fs.Path(p(root, "tombstones")), true)
      fs.delete(new org.apache.hadoop.fs.Path(p(root, "vacuumed")), true)
      newMeta
    } finally t.unpersist()
  }

  /** Probe the named shard of `corpusDir` against the persisted base. */
  def probe(spark: SparkSession, corpusDir: String, root: String,
      shardSource: String = Dedup.newShardSource): DataFrame =
    probeFps(spark, root, Dedup.normFps(spark, corpusDir)
      .filter(col("source") === shardSource).select("doc_id", "fp"))

  /** SETTLE an ingested shard: merge its fingerprint counts into the
    * persisted table algebraically (old n_base + shard counts — one
    * groupBy over |distinct fps|, the base corpus never re-scanned),
    * move the meta to the NEXT shard source, re-pin `nFps`. Fp
    * counting is content-pure, so append == a full rebuild with the
    * shard included EXACTLY (spec'd). Refuses an already-landed next
    * shard (its docs sit inside this index's base — probing them would
    * self-match; the [[BandIndex.append]] hazard). */
  def append(spark: SparkSession, corpusDir: String, root: String,
      nextShardSource: String): Unit = {
    val meta = readMeta(spark, root).getOrElse(throw new IllegalStateException(
      s"FpIndex: no index at $root to append into"))
    require(meta.formatVersion == FormatVersion,
      s"FpIndex: cannot append into format v${meta.formatVersion}")
    require(meta.corpusDir == corpusDir, "FpIndex: corpus mismatch")
    require(nextShardSource != meta.shardSource,
      "FpIndex: next shard must differ from the appended one")
    val nNext = Dedup.normFps(spark, corpusDir)
      .filter(col("source") === nextShardSource).count()
    require(nNext == 0L,
      s"FpIndex: next shard '$nextShardSource' already has $nNext docs " +
        "in the corpus — they are inside this index's persisted base; " +
        "rebuild (ensure) with the new shard split instead of appending")
    val shardFps = Dedup.normFps(spark, corpusDir)
      .filter(col("source") === meta.shardSource)
      .groupBy("fp").agg(count(lit(1)).as("n_base"))
    val merged = spark.read.parquet(p(root, "fps"))
      .unionByName(shardFps)
      .groupBy("fp").agg(sum("n_base").as("n_base"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    snapshots.drop(root)
    merged.write.mode("overwrite").parquet(p(root, "fps.next"))
    fs.delete(new org.apache.hadoop.fs.Path(p(root, "fps")), true)
    require(fs.rename(new org.apache.hadoop.fs.Path(p(root, "fps.next")),
      new org.apache.hadoop.fs.Path(p(root, "fps"))),
      s"FpIndex: fps swap failed at $root")
    writeMeta(spark, root, meta.copy(shardSource = nextShardSource,
      nBaseDocs = Dedup.normFps(spark, corpusDir)
        .filter(col("source") =!= nextShardSource).count(),
      contentFp = contentFingerprint(spark.read.parquet(p(root, "fps"))),
      nFps = fpCount(spark, root)))
  }
}
