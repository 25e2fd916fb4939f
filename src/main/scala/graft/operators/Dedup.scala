package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for an LLM-training-data pipeline
  * (SURVEY.md §2.C) over the `documents` table.
  *
  * Scale design (§6): every near-dup operator generates candidate pairs
  * by EQUALITY JOIN on a derived key (shingle / LSH band / bucket) —
  * shuffle = hash-partition on that key — and scores pairs only within
  * candidate groups. There is no O(n²) all-pairs stage anywhere; at 100 TB
  * the only quadratic blowup risk is a hot key (a shingle shared by
  * millions of docs), which is handled by dropping top-frequency shingles
  * (stop-shingles) — same technique as stopword removal — plus AQE skew
  * splitting on the join.
  *
  * All hashes are [[graft.functions.Portable.hash60]] (md5-derived,
  * engine-portable) so every operator here is DuckDB-oracle-verifiable.
  */
object Dedup {

  /** Word 3-shingles per doc, distinct, with the per-doc distinct-shingle
    * count carried alongside: one row per (doc_id, n, sh) where `sh` is
    * the 60-bit shingle hash. The shared candidate-key base for
    * ngram/minhash. Design notes for the hot path:
    *  - ONE pass computes the shingle array; carrying `n` through the
    *    explode means no second aggregation pass over the corpus just to
    *    learn set sizes (the join below reads it off both sides).
    *  - joins/groupBys key on the 60-bit HASH, never the shingle string:
    *    fixed 8-byte shuffle keys instead of document-sized strings.
    *    (Jaccard over hashes = Jaccard over shingles modulo 60-bit
    *    collisions: ~n²/2^61, vanishing at any realistic corpus.)
    *  - the md5 runs AFTER the explode in a codegen'd projection — inside
    *    the lambda it would run interpreted, ~3× slower end-to-end.
    *
    * Implementation is posexplode → `lead` window → hash, NOT an
    * array-lambda (`transform`/`sequence`) pipeline: higher-order
    * functions evaluate interpreted (CodegenFallback) and cost 2-3× in
    * wall time with heavy JIT churn, while the window form is codegen'd
    * end-to-end. The window shuffle partitions by doc_id — the same key
    * the distinct-aggregation needs next, so it costs no extra exchange,
    * and it parallelizes single huge documents instead of pinning each
    * doc's shingling to one row's lambda evaluation.
    */
  private def shingled(spark: SparkSession, dir: String): DataFrame = {
    val wdoc = Window.partitionBy("doc_id").orderBy("pos")
    val words = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
    val tri = words
      .withColumn("w2", lead("word", 1).over(wdoc))
      .withColumn("w3", lead("word", 2).over(wdoc))
      .filter(col("w3").isNotNull)
      .select(col("doc_id"),
        hash60(concat_ws(" ", col("word"), col("w2"), col("w3"))).as("sh"))
    tri.groupBy("doc_id").agg(collect_set(col("sh")).as("shs"))
      .select(col("doc_id"), size(col("shs")).as("n"),
        explode(col("shs")).as("sh"))
  }

  /** Hot-key guard: drop STOP-SHINGLES — shingles whose document
    * frequency exceeds `maxDf`. A shingle shared by k docs contributes
    * k² join rows; one boilerplate phrase in millions of docs is the
    * single way these joins go quadratic at 100 TB. Dropping them is the
    * standard stop-word-style mitigation (they carry ~no similarity
    * signal) and is mirrored EXACTLY in the oracle SQL, so it is part of
    * the operator's semantics, not a silent approximation. At test SF
    * the max df is ~25, so the guard is a no-op there.
    */
  private val maxShingleDf = 1000
  private def dropStopShingles(sh: DataFrame): DataFrame =
    sh.withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
      .filter(col("df") <= maxShingleDf).drop("df")

  /** The distinct 3-gram shingle frame (doc_id, n, sh) with the
    * per-shingle document frequency `df` attached, materialized once
    * per (session, dir) — r14, guide §2.4 "remove shuffles outright".
    * Before this every consumer re-ran the fanOut → posexplode →
    * lead-window → collect_set build from the parquet scan: one
    * derivation each in q_pair_join_cost / q_ngram_freq /
    * q_ngram_novelty, THREE in q_lsh_verify (a/b/sizes branches),
    * three more in q_dedup_precision, plus the ngram_pairs /
    * minhash_sig / preflight frame builds — ≥7 full shingle passes per
    * bench sweep for one frame's content. Boundedness: one row per
    * (doc, distinct shingle) — corpus-token-scale, the docTokens /
    * winnowed precedent, linear in corpus size. `df` rides along so
    * the stop-shingle rule is a checkpoint-local filter instead of a
    * per-consumer corpus-wide window. */
  private def shingledM(spark: SparkSession, dir: String): DataFrame =
    materializeOnce(spark, dir, "shingles")(
      shingled(spark, dir).withColumn("df",
        count(lit(1)).over(Window.partitionBy("sh"))))

  /** Stop-shingle filter on [[shingledM]] (df precomputed at the
    * frame build — same rule as [[dropStopShingles]]). */
  private def dropStopM(shm: DataFrame): DataFrame =
    shm.filter(col("df") <= maxShingleDf).drop("df")
  private val dropStopShinglesSql: String =
    s"shf AS (SELECT doc_id, n, sh FROM sh " +
      s"QUALIFY COUNT(*) OVER (PARTITION BY sh) <= $maxShingleDf)"

  /** DuckDB twin of [[shingled]], as a WITH-clause body. */
  private val shingledSql: String =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |sh0 AS (SELECT doc_id, list_distinct(list_transform(
       |         generate_series(1, len(ws)-2),
       |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shs
       |       FROM w WHERE len(ws) >= 3),
       |sh1 AS (SELECT doc_id, len(shs) AS n, unnest(shs) AS shingle FROM sh0),
       |sh AS (SELECT doc_id, n, ${hash60Sql("shingle")} AS sh FROM sh1)""".stripMargin

  /** q_dedup_exact — exact dedup by content hash: one group per distinct
    * text, keep the smallest doc_id. Single shuffle on the 60-bit text
    * hash (never on the text itself — at 100 TB the shuffle key must be
    * fixed-width, not document-sized).
    */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(hash60(col("text")).as("text_hash"))
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_docs"))

  val dedupExactSql: String =
    s"""SELECT ${hash60Sql("text")} AS text_hash,
       |       min(doc_id) AS keep_doc_id, COUNT(*) AS n_docs
       |FROM documents GROUP BY 1""".stripMargin

  /** q_fingerprint — document fingerprint over NORMALIZED text (lowercase,
    * whitespace collapsed, trimmed): catches formatting-only duplicates
    * that exact hashing misses. dup_group_size via a window over the
    * fingerprint — fingerprints are near-unique so partitions stay tiny.
    */
  def qFingerprint(spark: SparkSession, dir: String): DataFrame = {
    // explicit whitespace class, not \s: Java's \s includes \x0B where
    // RE2's (DuckDB) does not — the explicit class is identical in both
    val norm = trim(regexp_replace(lower(col("text")), "[ \\t\\n\\r\\f]+", " "))
    Tables.documents(spark, dir)
      .select(col("doc_id"), hash60(norm).as("fingerprint"))
      .withColumn("dup_group_size",
        count(lit(1)).over(Window.partitionBy("fingerprint")))
  }

  val fingerprintSql: String =
    s"""SELECT doc_id,
       |  ${hash60Sql("trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f]+', ' ', 'g'))")} AS fingerprint,
       |  COUNT(*) OVER (PARTITION BY ${hash60Sql("trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f]+', ' ', 'g'))")}) AS dup_group_size
       |FROM documents""".stripMargin

  /** q_dedup_ngram — 3-shingle Jaccard near-dup pairs. Candidate pairs
    * come from the equality self-join on `shingle` (hash-partitioned, no
    * cartesian); |∩| is the per-pair join row count, |∪| = |A|+|B|−|∩|
    * from broadcast-joinable per-doc counts. Threshold 0.2.
    */
  def qDedupNgram(spark: SparkSession, dir: String): DataFrame =
    ngramPairs(spark, dir)

  /** The raw (un-materialized) near-dup pair plan — see [[ngramPairs]]
    * for the session-cached frame every consumer actually reads. */
  private[graft] def ngramPairsPlan(spark: SparkSession, dir: String): DataFrame = {
    val sh = dropStopM(shingledM(spark, dir))
    // the self-join's two exchanges are identical → Spark computes the
    // shingle base once (ReusedExchange); set sizes ride along as a/b.n
    sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter_count"),
        max(col("a.n")).as("na"), max(col("b.n")).as("nb"))
      .withColumn("union_count",
        (col("na") + col("nb")).cast("long") - col("inter_count"))
      .withColumn("jaccard",
        round(col("inter_count").cast("double") / col("union_count"), 4))
      .filter(col("jaccard") >= 0.2)
      .select("doc_a", "doc_b", "inter_count", "union_count", "jaccard")
  }

  /** MATERIALIZE-ONCE session cache (r5 verdict item 3): the near-dup
    * pair list and the CC cluster assignment are each computed and
    * checkpointed ONCE per (session, dir) and shared by every consumer —
    * the shape a 100 TB pipeline actually runs (the reference analogue:
    * the ledger is written once and read by all consumers; here the
    * "ledger" is the cluster frame). Before this, the four CC-family
    * diagnostics each re-ran the iterative fixpoint standalone (~18 s of
    * the r5 driver bench). `localCheckpoint` materializes the frame and
    * truncates its lineage, so consumers plan against an in-memory scan,
    * not a re-derivation; on a cluster deployment the same API swaps to
    * a reliable `checkpoint` or an explicit parquet materialization.
    */
  private def materializeOnce(spark: SparkSession, dir: String, tag: String)
      (build: => DataFrame): DataFrame =
    MaterializeOnce(spark, dir, "dedup:" + tag)(build)

  /** Test hook: drop all materialized frames (forces recomputation). */
  private[graft] def invalidateMaterialized(): Unit = MaterializeOnce.invalidate()

  /** The thresholded near-dup pair list, materialized once per session —
    * consumed by [[qDedupNgram]], [[clusters]] and [[qMinhashEstErr]]. */
  def ngramPairs(spark: SparkSession, dir: String): DataFrame =
    materializeOnce(spark, dir, "ngram_pairs")(ngramPairsPlan(spark, dir))

  /** The connected-components cluster assignment (doc_id, cluster_id,
    * cluster_size), materialized once per session — ONE fixpoint run
    * serves [[qDedupClusters]], [[qClusterCanonical]] and
    * [[qDupRateBySource]]. */
  def clusters(spark: SparkSession, dir: String): DataFrame =
    materializeOnce(spark, dir, "clusters") {
      connectedComponents(ngramPairs(spark, dir).select("doc_a", "doc_b"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy("label")))
        .select(col("node").as("doc_id"), col("label").as("cluster_id"),
          col("cluster_size"))
    }

  /** CTE list ending in the thresholded `pairs` relation — shared by the
    * ngram query and the clustering oracle. */
  private val ngramPairsCtes: String =
    s"""$shingledSql,
       |$dropStopShinglesSql,
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |            COUNT(*) AS inter_count, max(a.n) AS na, max(b.n) AS nb
       |          FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |pairs AS (SELECT doc_a, doc_b, inter_count,
       |       na + nb - inter_count AS union_count,
       |       round(CAST(inter_count AS DOUBLE) / (na + nb - inter_count), 4) AS jaccard
       |FROM inter
       |WHERE round(CAST(inter_count AS DOUBLE) / (na + nb - inter_count), 4) >= 0.2)""".stripMargin

  val dedupNgramSql: String =
    s"""WITH $ngramPairsCtes
       |SELECT doc_a, doc_b, inter_count, union_count, jaccard FROM pairs""".stripMargin

  /** q_pair_join_cost — the PRE-FLIGHT cost estimator for the exact
    * n-gram Jaccard join: from one shingle pass + a vocab-sized
    * aggregate, the EXACT row count the inverted-index self-join would
    * emit (`join_rows` = Σ_sh C(df,2) over the post-stop-cap shingles),
    * plus the saturation diagnostics that predict it. This is the
    * guard the r8 sf10 probe showed a pipeline must run BEFORE the
    * exact join: the probe fixture's 31-word vocabulary saturates the
    * 3-gram space (29,791 possible shingles), so at 500k docs / ~25M
    * shingle rows the mean document frequency is ~840 and the exact
    * join's input is Σ C(df,2) ≈ 10¹⁰ rows (~70 GB of shuffle — it
    * killed the disk before the Jaccard filter could discard the
    * garbage pairs). The estimator reports that number for the cost
    * of ONE corpus pass; `distinct_ppm` (distinct/total shingle ratio)
    * is the saturation signal — near 10⁶ means shingles are
    * near-unique (healthy: a real vocabulary's 3-gram space is ~10¹⁵),
    * small means the space has saturated and exact Jaccard carries no
    * signal — route to the MinHash/LSH family (measured 0.2 s at the
    * same sf10 where the exact join died). All exact integers; the
    * per-shingle C(df,2) term is capped by the same stop-shingle bound
    * as the join itself, so it cannot overflow (df ≤ maxShingleDf).
    */
  def qPairJoinCost(spark: SparkSession, dir: String): DataFrame =
    shingledM(spark, dir).drop("df")
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .agg(sum("df").as("n_shingle_rows"),
        count(lit(1)).as("n_distinct_shingles"),
        sum(when(col("df") > maxShingleDf, 1L).otherwise(0L))
          .as("n_stop_shingles"),
        sum(when(col("df") <= maxShingleDf,
          expr("df * (df - 1) div 2")).otherwise(0L)).as("join_rows"),
        sum(when(col("df") > maxShingleDf, col("df")).otherwise(0L))
          .as("dropped_rows"))
      .select(col("n_shingle_rows"), col("n_distinct_shingles"),
        col("n_stop_shingles"), col("join_rows"),
        // greatest(coalesce(.,0),1): on an empty/degenerate corpus
        // Spark's div yields NULL while DuckDB's // raises — the
        // q_dim_variance guard (ADVICE_r07) applied to this family too
        expr("n_distinct_shingles * 1000000 div greatest(coalesce(n_shingle_rows, 0), 1)")
          .as("distinct_ppm"),
        // r11 (the sf100 probe's finding): the share of shingle ROWS
        // sitting in stop-capped shingles — at TOTAL saturation this
        // hits ~10⁶ while join_rows COLLAPSES TO ZERO (every shingle
        // exceeds the cap), so the join-size clause alone reads a
        // blind exact path as "cheap"
        expr("dropped_rows * 1000000 div greatest(coalesce(n_shingle_rows, 0), 1)")
          .as("dropped_ppm"))

  /** The queries whose plans consume the exact inverted-index
    * self-join — directly (q_dedup_ngram, q_band_recall,
    * q_split_leakage, q_source_overlap, q_minhash_est_err), through
    * the shared `clusters` frame (q_dedup_clusters,
    * q_cluster_canonical, q_cluster_size_hist, q_dup_rate_by_source,
    * q_pipeline_funnel), or through their own positional variant of
    * the same join (q_dup_span). This is the set a pre-flight-aware
    * harness ROUTES to the LSH family when [[preflight]] says the
    * shingle space has saturated (VERDICT_r08 item 4: the sf10 probe's
    * Σ C(df,2) = 11.4B-row join input died on disk; these are exactly
    * the plans that would have paid it). */
  val ExactJoinFamily: Set[String] = Set(
    "q_dedup_ngram", "q_dedup_clusters", "q_cluster_canonical",
    "q_cluster_size_hist", "q_band_recall", "q_split_leakage",
    "q_source_overlap", "q_dup_rate_by_source", "q_dup_span",
    "q_minhash_est_err", "q_pipeline_funnel", "q_quality_calibration",
    // r10: the estimator-error twin ALSO anchors on the exact pair
    // frame — its omission sent the r10 sf10 probe's only error
    // (q_bbit_minhash re-ran the 11.4B-row join the pre-flight exists
    // to prevent, and died on disk where its ten routed siblings were
    // recorded as routed_to_lsh)
    "q_bbit_minhash")

  /** Default exact-join input budget for [[preflight]]: Σ C(df,2)
    * above this routes to LSH. 2×10⁸ candidate rows ≈ a few GB of
    * shuffle — generous headroom for a healthy corpus slice (sf0.1
    * measures ~10⁵), 50× below the 1.14×10¹⁰ the sf10 saturation
    * produced. */
  val PreflightMaxJoinRows: Long = 200000000L

  /** One pre-flight verdict: the exact numbers (from one shingle
    * pass) plus the routing rule applied to them. */
  case class PreflightDecision(joinRows: Long, distinctPpm: Long,
      droppedPpm: Long, maxJoinRows: Long,
      maxDroppedPpm: Long = PreflightMaxDroppedPpm) {
    /** True ⇒ run the LSH candidate-then-verify family instead of any
      * [[ExactJoinFamily]] plan. TWO clauses (r11 — the sf100 probe's
      * finding): the join-size clause catches the MID-saturation
      * regime (sf10: mean df ~875 under the stop cap ⇒ Σ C(df,2) =
      * 11.4B rows, disk death), and the dropped-signal clause catches
      * TOTAL saturation (sf100: mean df ~8,700 — EVERY shingle blows
      * the stop cap, join_rows collapses to ZERO, and the exact path
      * runs cheap but BLIND while the LSH signatures, computed over
      * the uncapped shingle stream, still pair). A router that only
      * prices the join reads a blind plan as a good one. */
    def routeToLsh: Boolean =
      joinRows > maxJoinRows || droppedPpm > maxDroppedPpm
  }

  /** Route to LSH when more than half the shingle ROWS sit in
    * stop-capped shingles — past that the exact path's pairing signal
    * is mostly gone regardless of how cheap its join is. */
  val PreflightMaxDroppedPpm = 500000L

  /** The PRE-FLIGHT a pipeline or harness runs BEFORE any exact-join
    * plan (VERDICT_r08 item 4): one [[qPairJoinCost]] evaluation
    * (a single shingle pass — 4.5 s at sf10, where the join it guards
    * took the disk down), folded into a [[PreflightDecision]].
    * [[graft.operators.DocPipeline.run]] and `graft.Bench` both
    * consult it; `maxJoinRows` is injectable so a spec can force the
    * route on a small fixture. The memo IS a MaterializeOnce'd 1-row
    * frame (ADVICE_r11: the former (session, dir)-keyed strong map
    * pinned the SparkSession for the JVM lifetime and survived
    * in-place fixture regeneration — this way the verdict's lifecycle
    * exactly tracks every other shared frame: `invalidate()`/
    * `release()` drop it, and a regenerated corpus re-derives). */
  def preflight(spark: SparkSession, dir: String,
      maxJoinRows: Long = PreflightMaxJoinRows): PreflightDecision = {
    val r = materializeOnce(spark, dir, "preflight")(qPairJoinCost(spark, dir))
      .select(col("join_rows"), col("distinct_ppm"), col("dropped_ppm"))
      .head()
    PreflightDecision(r.getLong(0), r.getLong(1), r.getLong(2), maxJoinRows)
  }

  val pairJoinCostSql: String =
    s"""WITH $shingledSql,
       |df AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY sh)
       |SELECT CAST(SUM(df) AS BIGINT) AS n_shingle_rows,
       |       CAST(COUNT(*) AS BIGINT) AS n_distinct_shingles,
       |       CAST(SUM(CASE WHEN df > $maxShingleDf THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_stop_shingles,
       |       CAST(SUM(CASE WHEN df <= $maxShingleDf
       |                     THEN df * (df - 1) // 2 ELSE 0 END) AS BIGINT)
       |         AS join_rows,
       |       CAST(COUNT(*) AS BIGINT) * 1000000
       |         // GREATEST(COALESCE(CAST(SUM(df) AS BIGINT), 0), 1)
       |         AS distinct_ppm,
       |       CAST(SUM(CASE WHEN df > $maxShingleDf THEN df ELSE 0 END)
       |         AS BIGINT) * 1000000
       |         // GREATEST(COALESCE(CAST(SUM(df) AS BIGINT), 0), 1)
       |         AS dropped_ppm
       |FROM df""".stripMargin

  /** q_verify_cost — the PRE-FLIGHT cost table for the LSH
    * candidate-then-verify family (r12, VERDICT_r11 item 2 — the
    * verify stage was 80% of the sf100 documents slice and the one
    * unbudgeted cost): from ONE aggregate over the banded signature
    * frame (vocab-sized band histogram — the frame every LSH consumer
    * already builds), the EXACT candidate-pair count Σ_{df≤c} C(df,2)
    * at every [[bandCapLadder]] rung, the count of hot buckets each
    * rung drops whole, whether the rung fits [[LshCandBudget]], and
    * WHICH rung [[bandCap]] selects — the recorded routing decision,
    * exactly what [[qPairJoinCost]] is for the exact-join path. Every
    * downstream verify cost (q_lsh_verify's shingle join,
    * q_edit_verify's DP, the LSH cluster fixpoint) is linear in the
    * selected rung's candidate count, so this table IS the 100 TB
    * admission ticket for the family. 8 rows out. */
  def qVerifyCost(spark: SparkSession, dir: String): DataFrame = {
    val hist = bandedSig(minhashSig(spark, dir))
      .groupBy("band_id", "band_hash").agg(count(lit(1)).as("df"))
    val ladder = spark.range(1)
      .select(explode(typedLit(bandCapLadder)).as("cap"))
    val agg = hist.crossJoin(broadcast(ladder))
      .groupBy("cap")
      .agg(sum(when(col("df") <= col("cap"),
          expr("df * (df - 1) div 2")).otherwise(0L)).as("cand_pairs"),
        sum(when(col("df") > col("cap"), 1L).otherwise(0L))
          .as("n_hot_buckets"))
    val all = Window.partitionBy(lit(1))
    agg
      .withColumn("fits",
        (col("cand_pairs") <= LshCandBudget).cast("int"))
      .withColumn("chosen",
        (col("cap") === coalesce(
          max(when(col("fits") === 1, col("cap"))).over(all),
          lit(bandCapLadder.last))).cast("int"))
      .select(col("cap"), col("cand_pairs"), col("n_hot_buckets"),
        col("fits"), col("chosen"))
  }

  lazy val verifyCostSql: String = {
    val sigExprs = (0 until 16).map(i =>
      s"min((h30 * ${mhA(i)} + ${mhB(i)}) % $P) AS s$i").mkString(",\n|        ")
    val bandSelects = (0 until 4).map { b =>
      val cat = (0 until 4).map(j => s"CAST(s${b * 4 + j} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, CAST($b AS BIGINT) AS band_id, ${hash60Sql(cat)} AS band_hash FROM sig"
    }.mkString("\n|       UNION ALL ")
    s"""WITH $shingledSql,
       |hsh AS (SELECT doc_id, sh % 1073741824 AS h30 FROM sh),
       |sig AS (SELECT doc_id,
       |        $sigExprs
       |       FROM hsh GROUP BY doc_id),
       |bands0 AS ($bandSelects),
       |bhist AS (SELECT band_id, band_hash, COUNT(*) AS df
       |          FROM bands0 GROUP BY 1, 2),
       |agg AS (SELECT l.cap,
       |          CAST(SUM(CASE WHEN h.df <= l.cap
       |                        THEN h.df * (h.df - 1) // 2 ELSE 0 END)
       |            AS BIGINT) AS cand_pairs,
       |          CAST(SUM(CASE WHEN h.df > l.cap THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_hot_buckets
       |        FROM bhist h CROSS JOIN
       |          (SELECT unnest([${bandCapLadder.mkString(", ")}]) AS cap) l
       |        GROUP BY l.cap)
       |SELECT CAST(cap AS BIGINT) AS cap, cand_pairs, n_hot_buckets,
       |       CAST(cand_pairs <= $LshCandBudget AS INT) AS fits,
       |       CAST(cap = COALESCE(MAX(CASE WHEN cand_pairs <= $LshCandBudget
       |                                    THEN cap END) OVER (),
       |                           ${bandCapLadder.last}) AS INT) AS chosen
       |FROM agg""".stripMargin
  }

  /** q_dedup_clusters — connected components over the near-dup pair
    * graph: each document gets the MINIMUM doc_id reachable through
    * near-dup edges as its cluster id, plus the cluster size — the
    * "keep one per duplicate cluster" decision a dedup pipeline
    * actually executes (pairs alone under-merge transitive dups).
    *
    * Iterative min-label propagation, Pregel-style: the driver loop
    * orchestrates ROUNDS (bounded by graph diameter, capped, with a
    * convergence check) while every round's work is a distributed
    * join+aggregate — the legitimate exception to the no-driver-loop
    * rule, same as GraphX. `localCheckpoint` truncates the growing
    * iterative lineage each round. The oracle computes the same
    * fixpoint via a recursive CTE (transitive closure + min) — two
    * entirely different algorithms, one answer.
    */
  def qDedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusters(spark, dir)

  /** Min-label propagation to fixpoint over an undirected pair list
    * (`doc_a`, `doc_b`) → (`node`, `label`) where label = minimum id
    * reachable through edges. Shared by the n-gram and embedding
    * cluster operators — the algorithm is identical, only the pair
    * source differs. Nodes with no edges are not emitted (singleton
    * docs are their own cluster trivially; callers that need them can
    * union the complement).
    */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    val edges = pairs.union(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .distinct().persist()
    var labels = edges.select(col("doc_a").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    // Near-dup clusters are clique-shaped (duplicates all pair with each
    // other), so 1-hop propagation converges in 2-3 rounds — measured at
    // sf0.1 — and the first rounds run propagation alone (an extra join
    // would be pure overhead on the common case). From round 5 on, a
    // POINTER-DOUBLING shortcut (label ← label(label)) joins in after
    // each propagation: labels only ever take values of reachable node
    // ids and only decrease (label(n) is reachable from n, and
    // label(label(n)) is reachable by path composition), so the shortcut
    // preserves the fixpoint while covering 2^k hops after k rounds —
    // a chain-shaped duplicate graph (serial crawl dumps) of diameter D
    // converges in ~4 + log₂D rounds instead of D. Cap 50 ⇒ diameters
    // beyond 2⁴⁰ — structurally unreachable — before the safety throw.
    var converged = false
    var iter = 0
    while (!converged && iter < 50) {
      val tRound = System.nanoTime()
      val prop = edges.join(labels, edges("doc_b") === labels("node"))
        .groupBy(edges("doc_a").as("pnode"))
        .agg(min("label").as("nlabel"))
      // carried prev label: the changed-label count reads the already-
      // materialized round instead of a separate anti-join probe
      val stepped = labels.join(prop, labels("node") === prop("pnode"), "left")
        .select(col("node"), col("label").as("prev"),
          least(col("label"), coalesce(col("nlabel"), col("label")))
            .as("label"))
      val next = (if (iter < 2) stepped else {
        // label(label) pointer doubling: the lookup side is unique on
        // n2, so the join is a plain hash join; hot converged labels
        // are AQE-skew-splittable. From round 2 (r13; was 5): a hot
        // bucket under the 10k cap can hold a chainy cos-threshold
        // graph of diameter in the THOUSANDS — the sf100 embed probe
        // measured 25 rounds with doubling deferred to round 5, and
        // the first doubling-free rounds are pure overhead there,
        // while clique-shaped fixtures converge in 2-3 rounds either
        // way (the fixpoint is unchanged — labels only ever decrease
        // to reachable ids).
        val lut = stepped.select(col("node").as("n2"), col("label").as("l2"))
        stepped.join(lut, stepped("label") === lut("n2"), "left")
          .select(col("node"), col("prev"),
            coalesce(col("l2"), col("label")).as("label"))
      })
      // CONSTRAINT-FREE truncation (r13 — the sf100 embed-probe tail
      // explosion, diagnosed by elimination: RDD lineage WAS truncated
      // (toDebugString 5 lines), partitions flat, no stage over 3 s —
      // yet tail rounds grew ×2.5 each (2.5 s → 380 s by round 24,
      // 670 s total at 2M vectors) with the JVM pinned at ONE core:
      // pure DRIVER planning time. `Dataset.localCheckpoint` builds
      // its LogicalRDD with the ORIGIN dataset's constraints/stats, so
      // each round's plan inherits and re-derives the previous round's
      // whole constraint set — the classic exponential constraint-
      // propagation pitfall, here compounding ACROSS checkpoints that
      // truncate only the RDD side. Routing the round through a plain
      // createDataFrame over the locally-checkpointed Row RDD carries
      // the schema and NOTHING else; measured: every round flat, the
      // 2M-vector clustering 670 → ~40 s end to end. The count below
      // both materializes the checkpoint blocks and reads the
      // convergence signal — still one job per round.
      val rowRdd = next.rdd
      rowRdd.localCheckpoint()
      val ckpt = next.sparkSession.createDataFrame(rowRdd, next.schema)
      val changed = ckpt.filter(col("label") =!= col("prev")).count()
      if (sys.env.contains("SPARK_GRAFT_CC_LOG"))
        System.err.println(s"[cc] round=$iter changed=$changed " +
          f"sec=${(System.nanoTime() - tRound) / 1e9}%.1f")
      converged = changed == 0L
      // superseded checkpoint blocks are released by the ContextCleaner
      // once this reference drops on reassignment
      labels = ckpt.select("node", "label")
      iter += 1
    }
    edges.unpersist()
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $iter rounds despite " +
        "pointer doubling — component diameter beyond 2^40 should be " +
        "impossible; inspect the pair graph for pathological structure")
    labels
  }

  val dedupClustersSql: String =
    s"""WITH RECURSIVE $ngramPairsCtes,
       |edges AS (SELECT doc_a, doc_b FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |walk AS (
       |  SELECT doc_a AS node, doc_b AS reach FROM edges
       |  UNION
       |  SELECT w.node, e.doc_b FROM walk w JOIN edges e ON w.reach = e.doc_a),
       |cl AS (SELECT node, least(node, MIN(reach)) AS cluster_id
       |       FROM walk GROUP BY node)
       |SELECT node AS doc_id, cluster_id,
       |       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM cl""".stripMargin

  /** q_ngram_freq — corpus trigram document frequencies, top-20 (df
    * desc, hash tiebreak): the statistic behind stop-shingle selection
    * (see [[dropStopShingles]]) and contamination-rate estimation. One
    * map-side-combinable groupBy on the 8-byte shingle hash, then
    * TakeOrdered (no global sort) for the top slice — the "what are the
    * boilerplate phrases in my 100 TB corpus" query.
    */
  def qNgramFreq(spark: SparkSession, dir: String): DataFrame =
    shingledM(spark, dir).drop("df")
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("sh"))
      .limit(20)

  val ngramFreqSql: String =
    s"""WITH $shingledSql
       |SELECT sh, COUNT(*) AS df
       |FROM sh GROUP BY sh
       |ORDER BY df DESC, sh LIMIT 20""".stripMargin

  /** q_ngram_novelty — per-source first-occurrence novelty profile:
    * for each source (the ingest-shard axis, ordered lexicographically
    * as its deterministic ingest order), the fraction of its distinct
    * trigram shingles seen in NO earlier source. The freshness signal a
    * data team reads before paying to ingest another crawl dump — a
    * source whose novelty collapses toward 0 is re-crawling what the
    * corpus already holds (and its complement is the cross-shard
    * contamination rate). All frames are 8-byte-hash keyed: distinct
    * (source, sh) pairs → min-source first-occurrence attribution →
    * colocated equi-join on sh (both sides partitioned by the same
    * key) → |sources|-bounded aggregate. No pair explosion anywhere —
    * unlike the near-dup joins this never self-joins, so it needs no
    * stop-shingle cap.
    */
  def qNgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val pairs = shingledM(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "source"),
        Seq("doc_id"))
      .select(col("source"), col("sh")).distinct()
    val firsts = pairs.groupBy("sh").agg(min("source").as("first_source"))
    pairs.join(firsts, Seq("sh"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_source") === col("source"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_x10000", expr("n_novel * 10000 div n_shingles"))
  }

  val ngramNoveltySql: String =
    s"""WITH $shingledSql,
       |ps AS (SELECT DISTINCT d.source, s.sh
       |       FROM sh s JOIN documents d USING (doc_id)),
       |fs AS (SELECT sh, MIN(source) AS first_source FROM ps GROUP BY sh)
       |SELECT source, COUNT(*) AS n_shingles,
       |       CAST(SUM(CASE WHEN first_source = source THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_novel,
       |       CAST(SUM(CASE WHEN first_source = source THEN 1 ELSE 0 END)
       |            AS BIGINT) * 10000 // COUNT(*) AS novelty_x10000
       |FROM ps JOIN fs USING (sh)
       |GROUP BY source""".stripMargin

  /** Size of the held-out benchmark set for decontamination: the first
    * K doc_ids stand in for an eval benchmark. A CONSTANT (not a corpus
    * fraction) so the broadcast side stays O(K) at any corpus size —
    * same rule as the q_embed_cosine_topk query set. */
  private val benchDocs = 25

  /** q_decontaminate — benchmark contamination detection, the
    * training-data hygiene stage every LLM pipeline runs before
    * training: find corpus documents sharing word 5-grams with a
    * held-out benchmark set (the standard n-gram-overlap
    * decontamination rule; production uses 8-13-grams over much longer
    * documents — same plan, one constant).
    *
    * Scale shape: the benchmark's distinct 5-gram hashes are a
    * CONSTANT-SIZE broadcast; the corpus side is one scan → shingle
    * projection → broadcast-hash semi-join (no shuffle of the corpus) →
    * one groupBy on 8-byte doc_id. Contaminated docs only in the
    * output, with the overlap fraction and the ≥10% flag.
    */
  /** Per-doc distinct 5-gram hashes (doc_id, n_grams, g) — the overlap
    * unit for [[qDecontaminate]] and [[qBenchLeakage]]; same
    * posexplode→lead→hash shape as [[shingled]]. */
  /** [[fiveGrams]] materialized once per (session, dir) — r14, guide
    * §2.4: four registered consumers (q_decontaminate,
    * q_bench_leakage, q_bloom_contam — which references it twice —
    * and q_dup_ngram_frac, also a double reference) each re-ran the
    * posexplode + 4-lead-window + collect_set build per execution.
    * Boundedness: one row per (doc, distinct 5-gram) — corpus-token
    * scale, linear (the shingles/docTokens precedent). */
  private def fiveGramsM(spark: SparkSession, dir: String): DataFrame =
    materializeOnce(spark, dir, "five_grams")(fiveGrams(spark, dir))

  private def fiveGrams(spark: SparkSession, dir: String): DataFrame = {
    val wdoc = Window.partitionBy("doc_id").orderBy("pos")
    Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .withColumn("w2", lead("word", 1).over(wdoc))
      .withColumn("w3", lead("word", 2).over(wdoc))
      .withColumn("w4", lead("word", 3).over(wdoc))
      .withColumn("w5", lead("word", 4).over(wdoc))
      .filter(col("w5").isNotNull)
      .select(col("doc_id"), hash60(concat_ws(" ",
        col("word"), col("w2"), col("w3"), col("w4"), col("w5"))).as("g"))
      .groupBy("doc_id").agg(collect_set(col("g")).as("gs"))
      .select(col("doc_id"), size(col("gs")).as("n_grams"),
        explode(col("gs")).as("g"))
  }

  /** DuckDB twin of [[fiveGrams]], CTE chain ending in `g`. NOTE: this
    * string is EMBEDDED in consumers' s"""...""".stripMargin blocks, so
    * no line may BEGIN with `||` — the outer stripMargin would eat the
    * first pipe and corrupt the concat operator (cost a round-6 debug). */
  private val fiveGramsSqlCtes: String =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g0 AS (SELECT doc_id, list_distinct(list_transform(
       |         generate_series(1, len(ws)-4),
       |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] ||
       |              ' ' || ws[i+3] || ' ' || ws[i+4])) AS gs
       |       FROM w WHERE len(ws) >= 5),
       |g1 AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS gram FROM g0),
       |g AS (SELECT doc_id, n_grams, ${hash60Sql("gram")} AS g FROM g1)""".stripMargin

  def qDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val grams = fiveGramsM(spark, dir)
    val bench = grams.filter(col("doc_id") < benchDocs)
      .select("g").distinct()
    grams.filter(col("doc_id") >= benchDocs)
      .join(broadcast(bench), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), max("n_grams").as("n_grams"))
      .withColumn("contamination",
        round(col("n_hits").cast("double") / col("n_grams"), 4))
      .withColumn("flagged", col("contamination") >= 0.1)
      .select("doc_id", "n_hits", "n_grams", "contamination", "flagged")
  }

  val decontaminateSql: String =
    s"""WITH $fiveGramsSqlCtes,
       |bench AS (SELECT DISTINCT g.g FROM g WHERE doc_id < $benchDocs),
       |hits AS (SELECT g.doc_id, COUNT(*) AS n_hits, max(g.n_grams) AS n_grams
       |         FROM g JOIN bench ON g.g = bench.g
       |         WHERE g.doc_id >= $benchDocs
       |         GROUP BY g.doc_id)
       |SELECT doc_id, n_hits, n_grams,
       |       round(CAST(n_hits AS DOUBLE) / n_grams, 4) AS contamination,
       |       round(CAST(n_hits AS DOUBLE) / n_grams, 4) >= 0.1 AS flagged
       |FROM hits""".stripMargin

  /** q_bench_leakage — the REVERSE contamination view: per held-out
    * benchmark item, how badly has it leaked into the training corpus
    * ([[qDecontaminate]] answers "which corpus docs to drop"; this
    * answers "which EVAL ITEMS are compromised" — the table an eval
    *-integrity report actually publishes). Corpus grams equi-join the
    * broadcast constant-size benchmark gram set, then aggregate per
    * benchmark item: distinct corpus docs hit, distinct grams leaked,
    * leak fraction. Everything after the broadcast join is
    * ≤|bench|-bounded; the corpus never self-joins or re-shuffles.
    */
  def qBenchLeakage(spark: SparkSession, dir: String): DataFrame = {
    val grams = fiveGramsM(spark, dir)
    val bench = grams.filter(col("doc_id") < benchDocs)
      .select(col("doc_id").as("bench_id"), col("n_grams"), col("g"))
    grams.filter(col("doc_id") >= benchDocs)
      .select(col("doc_id").as("corpus_id"), col("g"))
      .join(broadcast(bench), "g")
      .groupBy("bench_id")
      .agg(countDistinct("corpus_id").as("n_corpus_docs"),
        countDistinct("g").as("n_leaked_grams"),
        max("n_grams").as("n_grams"))
      .withColumn("leak_x10000",
        expr("n_leaked_grams * 10000 div n_grams"))
  }

  val benchLeakageSql: String =
    s"""WITH $fiveGramsSqlCtes,
       |bench AS (SELECT doc_id AS bench_id, n_grams, g.g
       |          FROM g WHERE doc_id < $benchDocs)
       |SELECT b.bench_id,
       |       CAST(COUNT(DISTINCT c.doc_id) AS BIGINT) AS n_corpus_docs,
       |       CAST(COUNT(DISTINCT b.g) AS BIGINT) AS n_leaked_grams,
       |       CAST(MAX(b.n_grams) AS BIGINT) AS n_grams,
       |       CAST(COUNT(DISTINCT b.g) AS BIGINT) * 10000
       |         // CAST(MAX(b.n_grams) AS BIGINT) AS leak_x10000
       |FROM g c JOIN bench b ON c.g = b.g AND c.doc_id >= $benchDocs
       |GROUP BY 1""".stripMargin

  /** q_cluster_size_hist — the near-dup cluster-size histogram (the
    * power-law sanity plot every dedup report includes: a heavy tail of
    * giant clusters means boilerplate is fusing unrelated docs and the
    * stop-shingle cap / threshold need revisiting). Consumes the
    * SHARED materialized [[clusters]] frame — no recomputation — and
    * collapses it to a ≤|distinct sizes|-row table.
    */
  def qClusterSizeHist(spark: SparkSession, dir: String): DataFrame =
    clusters(spark, dir)
      .groupBy("cluster_size")
      .agg(countDistinct("cluster_id").as("n_clusters"),
        count(lit(1)).as("n_docs"))

  val clusterSizeHistSql: String =
    s"""WITH RECURSIVE $ngramPairsCtes,
       |edges AS (SELECT doc_a, doc_b FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |walk AS (
       |  SELECT doc_a AS node, doc_b AS reach FROM edges
       |  UNION
       |  SELECT w.node, e.doc_b FROM walk w JOIN edges e ON w.reach = e.doc_a),
       |cl AS (SELECT node, least(node, MIN(reach)) AS cluster_id
       |       FROM walk GROUP BY node),
       |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size
       |       FROM cl GROUP BY 1)
       |SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |       CAST(SUM(cluster_size) AS BIGINT) AS n_docs
       |FROM sz GROUP BY 1""".stripMargin

  /** q_band_recall — the BAND-CONFIG acceptance summary: one row
    * grading the 4×4 MinHash banding against the exact shingle-Jaccard
    * pair set — recall (exact pairs the bands surfaced) and precision
    * (band candidates that are real). q_minhash_est_err grades the
    * per-pair estimator, q_jaccard_curve sweeps cutoffs; THIS is the
    * headline number an irreversible dedup run is signed off on. Both
    * inputs are shared materialized pair frames; two 8-byte-id joins,
    * 1-row output. Zero-denominator guards mirror in both engines
    * (DuckDB `// 0` errors where Spark yields NULL).
    */
  def qBandRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = ngramPairs(spark, dir).select("doc_a", "doc_b")
    val band = bandPairs(spark, dir).select("doc_a", "doc_b")
    val hits = exact.join(band, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("hits"))
    val ne = exact.agg(count(lit(1)).as("exact_pairs"))
    val nb = band.agg(count(lit(1)).as("band_pairs"))
    hits.crossJoin(broadcast(ne)).crossJoin(broadcast(nb))
      .select(col("exact_pairs"), col("band_pairs"), col("hits"),
        when(col("exact_pairs") === 0L, 0L)
          .otherwise(expr("hits * 1000000 div exact_pairs"))
          .as("recall_ppm"),
        when(col("band_pairs") === 0L, 0L)
          .otherwise(expr("hits * 1000000 div band_pairs"))
          .as("precision_ppm"))
  }

  lazy val bandRecallSql: String =
    s"""WITH ex AS (SELECT doc_a, doc_b FROM ($dedupNgramSql)),
       |bd AS (SELECT doc_a, doc_b FROM ($minhashLshSql)),
       |h AS (SELECT CAST(COUNT(*) AS BIGINT) AS hits
       |      FROM ex JOIN bd USING (doc_a, doc_b)),
       |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_pairs FROM ex),
       |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS band_pairs FROM bd)
       |SELECT ne.exact_pairs, nb.band_pairs, h.hits,
       |       CASE WHEN ne.exact_pairs = 0 THEN 0
       |            ELSE h.hits * 1000000 // ne.exact_pairs END AS recall_ppm,
       |       CASE WHEN nb.band_pairs = 0 THEN 0
       |            ELSE h.hits * 1000000 // nb.band_pairs END
       |         AS precision_ppm
       |FROM h CROSS JOIN ne CROSS JOIN nb""".stripMargin

  /** q_split_leakage — train/val/test SPLIT assignment + the near-dup
    * LEAKAGE audit: documents are deterministically hashed into
    * 80/10/10 splits (fate = f(content hash) — reproducible across
    * runs and engines, q_sample's rule), then every near-dup pair is
    * classified by the splits it touches. Cross-split rows are EVAL
    * LEAKAGE — a val/test doc whose near-duplicate trains is the
    * classic inflated-benchmark bug, and this table is the check a
    * pipeline publishes with every split (the fix — cluster-aware
    * splitting — re-runs this until cross rows are zero). Rides the
    * shared materialized pair frame; split assignment is a pure
    * projection; everything after the 8-byte-id joins is
    * |splits|²-bounded.
    */
  def qSplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val h = pmod(hash60(concat(lit("split:"), col("text"))), lit(100L))
    val split = Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(h < 80, "train").when(h < 90, "val").otherwise("test")
          .as("split"))
    val sizes = split.groupBy("split").agg(count(lit(1)).as("docs"))
    ngramPairs(spark, dir).select("doc_a", "doc_b")
      .join(split.select(col("doc_id").as("doc_a"), col("split").as("sa")),
        "doc_a")
      .join(split.select(col("doc_id").as("doc_b"), col("split").as("sb")),
        "doc_b")
      .select(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"))
      .groupBy("split_a", "split_b").agg(count(lit(1)).as("n_pairs"))
      .join(broadcast(sizes.select(col("split").as("split_a"),
        col("docs").as("docs_a"))), "split_a")
      .join(broadcast(sizes.select(col("split").as("split_b"),
        col("docs").as("docs_b"))), "split_b")
      .select(col("split_a"), col("split_b"), col("n_pairs"),
        col("docs_a"), col("docs_b"),
        (col("split_a") =!= col("split_b")).cast("long").as("leaked"))
  }

  val splitLeakageSql: String = {
    val h = hash60Sql("'split:' || text")
    s"""WITH sp AS (
       |  SELECT doc_id,
       |         CASE WHEN $h % 100 < 80 THEN 'train'
       |              WHEN $h % 100 < 90 THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM documents),
       |sz AS (SELECT split, COUNT(*) AS docs FROM sp GROUP BY split),
       |pr AS (SELECT doc_a, doc_b FROM ($dedupNgramSql)),
       |tg AS (SELECT least(a.split, b.split) AS split_a,
       |              greatest(a.split, b.split) AS split_b
       |       FROM pr
       |       JOIN sp a ON a.doc_id = pr.doc_a
       |       JOIN sp b ON b.doc_id = pr.doc_b),
       |np AS (SELECT split_a, split_b, COUNT(*) AS n_pairs
       |       FROM tg GROUP BY 1, 2)
       |SELECT np.split_a, np.split_b, np.n_pairs,
       |       za.docs AS docs_a, zb.docs AS docs_b,
       |       CAST(CASE WHEN np.split_a <> np.split_b THEN 1 ELSE 0 END
       |            AS BIGINT) AS leaked
       |FROM np JOIN sz za ON za.split = np.split_a
       |        JOIN sz zb ON zb.split = np.split_b""".stripMargin
  }

  /** q_source_overlap — the pairwise SOURCE near-dup overlap matrix
    * ("is src9 a mirror of src3?"): for every unordered source pair,
    * how many near-dup pairs cross them and how many distinct documents
    * are involved. The crawl-triage companion to [[qNgramNovelty]] —
    * novelty says whether a new dump adds anything; this says WHICH
    * existing dumps it duplicates, the read before deciding to drop a
    * whole feed. Rides the SHARED materialized pair frame; the
    * doc→source projection joins on 8-byte ids; output and both
    * aggregates are \|sources\|²-bounded at any corpus size.
    */
  def qSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
    val tagged = ngramPairs(spark, dir).select("doc_a", "doc_b")
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        "doc_b")
      .select(least(col("sa"), col("sb")).as("source_lo"),
        greatest(col("sa"), col("sb")).as("source_hi"),
        col("doc_a"), col("doc_b"))
    val nPairs = tagged.groupBy("source_lo", "source_hi")
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = tagged
      .select(col("source_lo"), col("source_hi"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
      .groupBy("source_lo", "source_hi")
      .agg(count(lit(1)).as("n_docs"))
    nPairs.join(nDocs, Seq("source_lo", "source_hi"))
  }

  val sourceOverlapSql: String =
    s"""WITH pr AS (SELECT doc_a, doc_b FROM ($dedupNgramSql)),
       |tg AS (SELECT least(sa.source, sb.source) AS source_lo,
       |              greatest(sa.source, sb.source) AS source_hi,
       |              pr.doc_a, pr.doc_b
       |       FROM pr
       |       JOIN documents sa ON sa.doc_id = pr.doc_a
       |       JOIN documents sb ON sb.doc_id = pr.doc_b),
       |np AS (SELECT source_lo, source_hi, COUNT(*) AS n_pairs
       |       FROM tg GROUP BY 1, 2),
       |nd AS (SELECT source_lo, source_hi, COUNT(*) AS n_docs FROM (
       |         SELECT DISTINCT source_lo, source_hi, doc_id
       |         FROM (SELECT source_lo, source_hi,
       |                      unnest([doc_a, doc_b]) AS doc_id
       |               FROM tg))
       |       GROUP BY 1, 2)
       |SELECT np.source_lo, np.source_hi, np.n_pairs, nd.n_docs
       |FROM np JOIN nd ON np.source_lo = nd.source_lo
       |  AND np.source_hi = nd.source_hi""".stripMargin

  /** MinHash universal-hash family: sig_i(x) = (a_i·h30(x) + b_i) mod P
    * over a 30-bit base hash — ONE md5 per shingle and 16 integer mixes,
    * instead of 16 md5s (the classic (a·x+b) mod p MinHash construction).
    * Coefficients are plan-time constants derived from hash60 so the
    * DuckDB oracle embeds the exact same numeric literals. Products stay
    * < 2^61: h30 < 2^30, a < P < 2^31 — no overflow in either engine.
    */
  private[graft] val P = 2147483647L // 2^31 − 1, prime
  private[graft] val mhA: IndexedSeq[Long] =
    (0 until 16).map(i => hash60Jvm(s"mh_a:$i") % (P - 1) + 1)
  private[graft] val mhB: IndexedSeq[Long] =
    (0 until 16).map(i => hash60Jvm(s"mh_b:$i") % P)

  /** q_minhash_lsh — MinHash signatures (k=16) banded 4×4; candidate
    * pairs = docs sharing a band-hash bucket. The band join is the scale
    * path: band_hash equality is the only pairing mechanism, so work is
    * proportional to real near-dups, not n². Signature aggregation is 16
    * `min` columns in ONE groupBy(doc_id) — a single map-side-combinable
    * shuffle, no row explosion. At sf0.01 this finds the planted
    * near-dup pairs and nothing else.
    */
  /** MinHash signature frame: doc_id → s0..s15, one map-side-combinable
    * shuffle. Materialized once per (session, dir) — one row per doc, 17
    * narrow columns, so the checkpoint is corpus-bounded, never
    * shingle-bounded — and SHARED by the LSH pairing and the
    * estimator-error diagnostic (each previously re-shingled the corpus
    * standalone). */
  private def minhashSig(spark: SparkSession, dir: String): DataFrame =
    materializeOnce(spark, dir, "minhash_sig")(minhashSigPlan(spark, dir))

  private[graft] def minhashSigPlan(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingledM(spark, dir)
      .withColumn("h30", col("sh") % 1073741824L)
    val sigCols = (0 until 16).map(i =>
      min((col("h30") * mhA(i) + mhB(i)) % P).as(s"s$i"))
    sh.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
  }

  def qMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    bandPairs(spark, dir)

  /** The banded candidate-pair frame, materialized once per
    * (session, dir) — SHARED by [[qMinhashLsh]] and [[qJaccardCurve]]
    * (un-materialized, the curve would re-run the band self-join).
    * Pair-count-bounded, far below one row per corpus doc. */
  private def bandPairs(spark: SparkSession, dir: String): DataFrame =
    materializeOnce(spark, dir, "minhash_band_pairs")(bandPairsPlan(spark, dir))

  /** The 4×4 banding of a signature frame: (doc_id, band_id,
    * band_hash), one row per (doc, band). Shared by the in-session
    * pairing ([[bandPairsPlan]]) and the PERSISTED shard-vs-corpus
    * probe ([[graft.index.BandIndex]]) so both sides band identically
    * by construction. */
  private[graft] def bandedSig(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until 4).map { b =>
      struct(
        lit(b.toLong).as("band_id"),
        hash60(concat_ws(",",
          (0 until 4).map(j => col(s"s${b * 4 + j}").cast("string")): _*))
          .as("band_hash"))
    }
    sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band_id").as("band_id"),
        col("bb.band_hash").as("band_hash"))
  }

  /** The hot-band membership cap HEAD (the persisted [[graft.index.BandIndex]]
    * probe cap, and the largest rung of the in-session adaptive
    * ladder — selected at every fixture SF, so the r12 adaptivity
    * changed no fixture answer). */
  private[graft] val BandBucketCap = 10000L

  /** CANDIDATE budget for the MinHash-LSH family (VERDICT_r11 item 2 —
    * the verify stage was the one unbudgeted cost: 80% of the sf100
    * documents slice, linear in candidates with no ceiling). The band
    * self-join emits Σ_{df≤cap} C(df,2) candidate pairs; every
    * downstream stage — q_lsh_verify's exact shingle verify
    * (~|candidates| × 2·48 shingle rows ≈ [[PreflightMaxJoinRows]] at
    * this budget), q_edit_verify's per-pair DP, the cluster fixpoint —
    * is linear in that count, so budgeting the CANDIDATE volume bounds
    * the whole candidate-then-verify pipeline at plan time. */
  private[graft] val LshCandBudget = 4000000L

  /** Descending cap ladder for the band space — the simhashCap device;
    * head == [[BandBucketCap]] (every fixture SF selects it). */
  private[graft] val bandCapLadder: Seq[Long] =
    Seq(BandBucketCap, 3000L, 1000L, 300L, 100L, 30L, 10L, 3L)

  /** Keyed WEAKLY by the materialized signature-frame instance — the
    * [[simhashCapCache]] lifecycle argument (ADVICE_r10): the ladder
    * sums are facts of that materialization, `invalidate()`/`release()`
    * make the entry collectable, nothing retains the SparkSession. */
  private val bandCapCache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, Seq[Long]]())

  /** Test hook — proves the memo re-derives after frame invalidation. */
  private[graft] val bandCapDerivations =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Plan-time adaptive hot-band cap for the MinHash band self-join
    * (r12): ONE aggregate over the banded signature frame computes the
    * exact candidate count Σ_{df≤c} C(df,2) at every ladder rung; the
    * largest rung fitting `budget` wins (the smallest if none fits —
    * over-cap buckets DROP whole, the saturation law: a band value
    * shared past the cap carries no pairing signal). The oracle
    * recomputes the identical selection in-query (`bcapsel` in
    * [[minhashLshSql]]); [[qVerifyCost]] is the recorded decision. */
  private[graft] def bandCap(spark: SparkSession, dir: String,
      budget: Long = LshCandBudget): Long = {
    val sig = minhashSig(spark, dir)
    val cached = bandCapCache.get(sig)
    val sums = if (cached != null) cached else {
      bandCapDerivations.incrementAndGet()
      val hist = bandedSig(sig)
        .groupBy("band_id", "band_hash").agg(count(lit(1)).as("df"))
      val aggs = bandCapLadder.map(c =>
        sum(expr(s"CASE WHEN df <= $c THEN df * (df - 1) div 2 ELSE 0 END"))
          .as(s"kept_$c"))
      val r = hist.agg(aggs.head, aggs.tail: _*).head()
      val s = bandCapLadder.indices
        .map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
      bandCapCache.put(sig, s)
      s
    }
    bandCapLadder.zip(sums)
      .collectFirst { case (c, s) if s <= budget => c }
      .getOrElse(bandCapLadder.last)
  }

  /** The MinHash signature frame with the doc's source attached —
    * the [[graft.index.BandIndex]] build/probe input (the shard split
    * is by source). One narrow row per doc. */
  private[graft] def minhashSigWithSource(spark: SparkSession,
      dir: String): DataFrame =
    minhashSig(spark, dir).join(
      Tables.documents(spark, dir).select("doc_id", "source"), Seq("doc_id"))

  private[graft] def bandPairsPlan(spark: SparkSession, dir: String): DataFrame =
    bandPairsPlanCapped(spark, dir, LshCandBudget)

  private[graft] def bandPairsPlanCapped(spark: SparkSession, dir: String,
      budget: Long): DataFrame = {
    val sig = minhashSig(spark, dir)
    // hot-bucket guard, same rationale as stop-shingles: a degenerate
    // band bucket (near-empty docs all hashing alike, or the sf100
    // saturation regime where band values collide corpus-wide) is the
    // only quadratic path; cap membership before pairing with the
    // ADAPTIVE ladder cap (r12 — a FIXED cap never bounds Σ C(df,2)
    // when value-space × cap² is large, the r11 law), mirrored in the
    // oracle. Ladder head at every test SF.
    val cap = bandCap(spark, dir, budget)
    val bands = bandedSig(sig)
      .withColumn("bsz", count(lit(1)).over(
        Window.partitionBy("band_id", "band_hash")))
      .filter(col("bsz") <= cap).drop("bsz")
    bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  val minhashLshSql: String = {
    val sigExprs = (0 until 16).map(i =>
      s"min((h30 * ${mhA(i)} + ${mhB(i)}) % $P) AS s$i").mkString(",\n|        ")
    val bandSelects = (0 until 4).map { b =>
      val cat = (0 until 4).map(j => s"CAST(s${b * 4 + j} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, CAST($b AS BIGINT) AS band_id, ${hash60Sql(cat)} AS band_hash FROM sig"
    }.mkString("\n|       UNION ALL ")
    s"""WITH $shingledSql,
       |hsh AS (SELECT doc_id, sh % 1073741824 AS h30 FROM sh),
       |sig AS (SELECT doc_id,
       |        $sigExprs
       |       FROM hsh GROUP BY doc_id),
       |bands0 AS ($bandSelects),
       |bhist AS (SELECT band_id, band_hash, COUNT(*) AS df
       |          FROM bands0 GROUP BY 1, 2),
       |blad AS (SELECT c,
       |           SUM(CASE WHEN df <= c THEN df * (df - 1) // 2 ELSE 0 END)
       |             AS kept
       |         FROM bhist,
       |           (SELECT unnest([${bandCapLadder.mkString(", ")}]) AS c) l
       |         GROUP BY c),
       |bcapsel AS (SELECT COALESCE(MAX(CASE WHEN kept <= $LshCandBudget
       |                                     THEN c END),
       |                            ${bandCapLadder.last}) AS cap
       |            FROM blad),
       |bands AS (SELECT b.* FROM bands0 b, bcapsel
       |          QUALIFY COUNT(*) OVER (PARTITION BY band_id, band_hash)
       |            <= bcapsel.cap)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
       |FROM bands a JOIN bands b
       |  ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       | AND a.doc_id < b.doc_id
       |GROUP BY 1, 2""".stripMargin
  }

  /** q_dedup_clusters_lsh — the SCALE-PATH clusters twin (r8, born
    * from the sf10 probe): connected components over the MINHASH-LSH
    * candidate pairs instead of the exact-Jaccard pair list. The exact
    * path's join input is Σ C(df,2) — 11.4B rows at the sf10 probe's
    * saturated shingle space (it died on disk); the banded path's input
    * is bounded by band-bucket membership (hot-bucket capped) and
    * served in 0.2 s at the same scale. Recall is the banding curve's
    * (q_band_recall measures it); at fixture SFs the planted near-dups
    * collide in ≥1 band so the cluster sets match the exact path's.
    * Same fixpoint, same output shape as q_dedup_clusters — only the
    * pair source differs, which is the point: a pipeline swaps the
    * edge feed, not the clustering.
    */
  def qDedupClustersLsh(spark: SparkSession, dir: String): DataFrame =
    materializeOnce(spark, dir, "lsh_clusters") {
      connectedComponents(bandPairs(spark, dir).select("doc_a", "doc_b"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy("label")))
        .select(col("node").as("doc_id"), col("label").as("cluster_id"),
          col("cluster_size"))
    }

  lazy val dedupClustersLshSql: String =
    s"""WITH RECURSIVE lp AS (SELECT doc_a, doc_b FROM ($minhashLshSql)),
       |edges AS (SELECT doc_a, doc_b FROM lp
       |          UNION SELECT doc_b, doc_a FROM lp),
       |walk AS (
       |  SELECT doc_a AS node, doc_b AS reach FROM edges
       |  UNION
       |  SELECT w.node, e.doc_b FROM walk w JOIN edges e ON w.reach = e.doc_a),
       |cl AS (SELECT node, least(node, MIN(reach)) AS cluster_id
       |       FROM walk GROUP BY node)
       |SELECT node AS doc_id, cluster_id,
       |       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM cl""".stripMargin

  /** q_lsh_verify — the CANDIDATE-THEN-VERIFY pipeline (the production
    * exact-dedup shape the sf10 saturation finding mandates): LSH band
    * candidates first, then EXACT shingle intersection / Jaccard /
    * both-direction containment computed ONLY for candidates. The
    * verify join's input is |candidates|·shingles-per-doc — bounded by
    * the banding, never by Σ C(df,2) — so the exact numbers survive
    * the corpus scale that kills the all-pairs inverted-index join.
    * Containment (|∩|/|A|, |∩|/|B|) is the asymmetric signal Jaccard
    * misses (a short doc quoted inside a long one); `is_dup` applies
    * the same J≥0.2 rule as the exact path, so on under-saturation
    * corpora the verified-dup pair set ⊆ q_dedup_ngram's, with
    * equality whenever banding recall is 1 (the planted fixture).
    */
  def qLshVerify(spark: SparkSession, dir: String): DataFrame = {
    val sh = dropStopM(shingledM(spark, dir))
    val a = sh.select(col("doc_id").as("doc_a"), col("n").as("na"), col("sh"))
    val b = sh.select(col("doc_id").as("doc_bb"), col("sh").as("shb"))
    val sizes = sh.select(col("doc_id").as("doc_b"), col("n").as("nb"))
      .distinct()
    bandPairs(spark, dir).select("doc_a", "doc_b")
      .join(a, "doc_a")
      .join(b, col("doc_b") === col("doc_bb") && col("sh") === col("shb"),
        "left_outer")
      .groupBy("doc_a", "doc_b")
      .agg(count(col("shb")).as("inter_count"), max(col("na")).as("na0"))
      .join(sizes, "doc_b")
      .withColumn("na", col("na0").cast("long"))
      .withColumn("nb", col("nb").cast("long"))
      .withColumn("union_count", col("na") + col("nb") - col("inter_count"))
      .withColumn("jaccard",
        round(col("inter_count").cast("double") / col("union_count"), 4))
      .select(col("doc_a"), col("doc_b"), col("inter_count"), col("na"),
        col("nb"), col("union_count"), col("jaccard"),
        expr("inter_count * 1000000 div na").as("cont_a_ppm"),
        expr("inter_count * 1000000 div nb").as("cont_b_ppm"),
        (col("jaccard") >= 0.2).cast("long").as("is_dup"))
  }

  lazy val lshVerifySql: String =
    s"""WITH $shingledSql,
       |$dropStopShinglesSql,
       |cand AS (SELECT doc_a, doc_b FROM ($minhashLshSql)),
       |ja AS (SELECT c.doc_a, c.doc_b, f.n AS na, f.sh
       |       FROM cand c JOIN shf f ON f.doc_id = c.doc_a),
       |j2 AS (SELECT ja.doc_a, ja.doc_b, ja.na, fb.sh AS shb
       |       FROM ja LEFT JOIN shf fb
       |         ON fb.doc_id = ja.doc_b AND fb.sh = ja.sh),
       |per AS (SELECT doc_a, doc_b,
       |          CAST(COUNT(shb) AS BIGINT) AS inter_count,
       |          CAST(MAX(na) AS BIGINT) AS na
       |        FROM j2 GROUP BY doc_a, doc_b),
       |sz AS (SELECT DISTINCT doc_id AS doc_b, CAST(n AS BIGINT) AS nb
       |       FROM shf)
       |SELECT p.doc_a, p.doc_b, p.inter_count, p.na, s.nb,
       |       p.na + s.nb - p.inter_count AS union_count,
       |       round(CAST(p.inter_count AS DOUBLE)
       |             / (p.na + s.nb - p.inter_count), 4) AS jaccard,
       |       p.inter_count * 1000000 // p.na AS cont_a_ppm,
       |       p.inter_count * 1000000 // s.nb AS cont_b_ppm,
       |       CAST(CASE WHEN round(CAST(p.inter_count AS DOUBLE)
       |             / (p.na + s.nb - p.inter_count), 4) >= 0.2
       |            THEN 1 ELSE 0 END AS BIGINT) AS is_dup
       |FROM per p JOIN sz s ON s.doc_b = p.doc_b""".stripMargin

  /** Audit sample size for [[qDedupPrecision]] — a CONSTANT (the
    * bounded-set rule): a precision estimate's error is sample-driven
    * (~1/√K), not corpus-driven, so the audit cost stays O(K docs'
    * shingles) at any corpus size. */
  private[graft] val PrecisionSampleK = 200

  /** q_dedup_precision — the dedup PRECISION audit (r14, VERDICT_r13
    * item 6): the recall story exists (q_band_recall — which true
    * pairs the banding surfaces), but nothing asserted how often a
    * candidate the pipeline treats as a dup is REAL. This takes a
    * deterministic hash-ordered sample of [[PrecisionSampleK]] LSH
    * candidate pairs, computes the EXACT Jaccard for the sample only
    * (shingles broadcast-semi-joined to the ≤2K sampled doc ids — the
    * corpus pair join is never re-paid), and tables precision against
    * the signature ESTIMATE (component agreement m/16, the banding's
    * own evidence): per m, how many sampled pairs, how many exactly
    * verify at the q_lsh_verify J ≥ 0.2 bar, precision in ppm, and the
    * summed exact J — the m-threshold calibration curve a deployment
    * reads before trusting verdicts without the exact-verify stage. */
  def qDedupPrecision(spark: SparkSession, dir: String): DataFrame = {
    val samp = bandPairs(spark, dir).select("doc_a", "doc_b")
      .orderBy(
        graft.functions.Portable.hash60(
          concat_ws("_", col("doc_a"), col("doc_b"))),
        col("doc_a"), col("doc_b"))
      .limit(PrecisionSampleK)
    val sh = dropStopM(shingledM(spark, dir))
    val aIds = samp.select(col("doc_a").as("doc_id")).distinct()
    val bIds = samp.select(col("doc_b").as("doc_id")).distinct()
    val a = sh.join(broadcast(aIds), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("doc_a"), col("n").as("na"), col("sh"))
    val b = sh.join(broadcast(bIds), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("doc_bb"), col("sh").as("shb"))
    val sizes = sh.join(broadcast(bIds), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("doc_b"), col("n").as("nb")).distinct()
    val exact = samp
      .join(a, "doc_a")
      .join(b, col("doc_b") === col("doc_bb") && col("sh") === col("shb"),
        "left_outer")
      .groupBy("doc_a", "doc_b")
      .agg(count(col("shb")).as("inter"), max(col("na")).as("na0"))
      .join(sizes, "doc_b")
      .withColumn("union_count",
        col("na0").cast("long") + col("nb").cast("long") - col("inter"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / col("union_count"), 4))
    val sig = minhashSig(spark, dir)
    val sigA = sig.toDF(sig.columns.map(c => s"a_$c"): _*)
    val sigB = sig.toDF(sig.columns.map(c => s"b_$c"): _*)
    val m = (0 until 16).map(i =>
      when(col(s"a_s$i") === col(s"b_s$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    exact
      .join(sigA, col("doc_a") === col("a_doc_id"))
      .join(sigB, col("doc_b") === col("b_doc_id"))
      .withColumn("m", m)
      .groupBy("m")
      .agg(count(lit(1)).as("n_pairs"),
        sum((col("jaccard") >= 0.2).cast("long")).as("n_true"),
        sum(round(col("jaccard") * 10000).cast("long"))
          .as("sum_exact_x10k"))
      .withColumn("est_x10k", col("m") * 625L)
      .withColumn("precision_ppm", expr("n_true * 1000000 div n_pairs"))
      .select("m", "est_x10k", "n_pairs", "n_true", "precision_ppm",
        "sum_exact_x10k")
  }

  lazy val dedupPrecisionSql: String = {
    val sigExprs = (0 until 16).map(i =>
      s"min((h30 * ${mhA(i)} + ${mhB(i)}) % $P) AS s$i")
      .mkString(",\n|        ")
    val matchSum = (0 until 16)
      .map(i => s"CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    val pairKey = graft.functions.Portable.hash60Sql(
      "CAST(doc_a AS VARCHAR) || '_' || CAST(doc_b AS VARCHAR)")
    s"""WITH $shingledSql,
       |$dropStopShinglesSql,
       |cand AS (SELECT doc_a, doc_b FROM ($minhashLshSql)),
       |samp AS (SELECT doc_a, doc_b FROM cand
       |         ORDER BY $pairKey, doc_a, doc_b
       |         LIMIT $PrecisionSampleK),
       |ja AS (SELECT s.doc_a, s.doc_b, f.n AS na, f.sh
       |       FROM samp s JOIN shf f ON f.doc_id = s.doc_a),
       |j2 AS (SELECT ja.doc_a, ja.doc_b, ja.na, fb.sh AS shb
       |       FROM ja LEFT JOIN shf fb
       |         ON fb.doc_id = ja.doc_b AND fb.sh = ja.sh),
       |per AS (SELECT doc_a, doc_b,
       |          CAST(COUNT(shb) AS BIGINT) AS inter,
       |          CAST(MAX(na) AS BIGINT) AS na
       |        FROM j2 GROUP BY doc_a, doc_b),
       |sz AS (SELECT DISTINCT doc_id AS doc_b, CAST(n AS BIGINT) AS nb
       |       FROM shf),
       |ex AS (SELECT p.doc_a, p.doc_b,
       |        round(CAST(p.inter AS DOUBLE)
       |              / (p.na + s.nb - p.inter), 4) AS jaccard
       |       FROM per p JOIN sz s ON s.doc_b = p.doc_b),
       |hsh AS (SELECT doc_id, sh % 1073741824 AS h30 FROM sh),
       |sig AS (SELECT doc_id,
       |        $sigExprs
       |       FROM hsh GROUP BY doc_id),
       |mm AS (SELECT e.jaccard, CAST(($matchSum) AS BIGINT) AS m
       |       FROM ex e
       |       JOIN sig sa ON e.doc_a = sa.doc_id
       |       JOIN sig sb ON e.doc_b = sb.doc_id)
       |SELECT m, m * 625 AS est_x10k,
       |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |       CAST(SUM(CASE WHEN jaccard >= 0.2 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_true,
       |       CAST(SUM(CASE WHEN jaccard >= 0.2 THEN 1 ELSE 0 END)
       |         * 1000000 // COUNT(*) AS BIGINT) AS precision_ppm,
       |       CAST(SUM(CAST(round(jaccard * 10000) AS BIGINT))
       |         AS BIGINT) AS sum_exact_x10k
       |FROM mm GROUP BY m""".stripMargin
  }

  /** q_edit_verify — EDIT-DISTANCE verification of the LSH candidate
    * pairs (r9): exact Levenshtein distance, length-normalized ratio
    * (ppm of the longer side) and an ≤ 20% dup verdict, computed ONLY
    * for banded candidates — the character-level complement of
    * [[qLshVerify]]'s shingle-set numbers (edit distance sees
    * REORDERED or locally-edited text where set intersection goes
    * blind, and vice versa; production near-dup review wants both).
    * Scale shape: |candidates| · O(len_a·len_b) — candidates are
    * band-bucket-bounded and the fixture docs are ≤ 600 chars, so per
    * pair the DP is bounded; the quadratic-in-corpus all-pairs shape
    * never appears (the pre-flight law). Both engines run the classic
    * Wagner–Fischer `levenshtein`, an exact integer. */
  def qEditVerify(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ta = docs.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
    val tb = docs.select(col("doc_id").as("doc_b"), col("text").as("text_b"))
    bandPairs(spark, dir).select("doc_a", "doc_b")
      .join(ta, "doc_a").join(tb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("text_a"), col("text_b")).cast("long").as("edit_dist"),
        length(col("text_a")).cast("long").as("len_a"),
        length(col("text_b")).cast("long").as("len_b"))
      .withColumn("edit_ppm", expr(
        "edit_dist * 1000000 div greatest(greatest(len_a, len_b), 1)"))
      .withColumn("is_dup_edit", (col("edit_ppm") <= 200000L).cast("long"))
  }

  lazy val editVerifySql: String =
    s"""WITH cand AS (SELECT doc_a, doc_b FROM ($minhashLshSql)),
       |j AS (SELECT c.doc_a, c.doc_b,
       |        CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
       |        CAST(length(da.text) AS BIGINT) AS len_a,
       |        CAST(length(db.text) AS BIGINT) AS len_b
       |      FROM cand c
       |      JOIN documents da ON da.doc_id = c.doc_a
       |      JOIN documents db ON db.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, edit_dist, len_a, len_b,
       |       edit_dist * 1000000 // GREATEST(GREATEST(len_a, len_b), 1)
       |         AS edit_ppm,
       |       CAST(CASE WHEN edit_dist * 1000000
       |              // GREATEST(GREATEST(len_a, len_b), 1) <= 200000
       |            THEN 1 ELSE 0 END AS BIGINT) AS is_dup_edit
       |FROM j""".stripMargin

  private val curveThresholds = Seq(8, 12, 16)

  /** q_jaccard_curve — the band-threshold TUNING TABLE: how many
    * candidate pairs survive each estimated-Jaccard cutoff. This is the
    * one-row report a pipeline owner reads before committing a dedup
    * threshold at 100 TB — "drop everything ≥0.75" is cheap to decide
    * here and irreversible after the delete. Estimate = matching MinHash
    * components (integer, engine-exact, same k=16 signatures as
    * q_minhash_est_err). Shape: the materialized candidate-pair frame
    * (shared with q_minhash_lsh) joins the signature frame twice on
    * 8-byte ids; signatures stay 16 COLUMNS (never explode to rows);
    * output is ONE row regardless of corpus size, and the conditional
    * sums all ride one aggregation pass.
    */
  def qJaccardCurve(spark: SparkSession, dir: String): DataFrame = {
    val sig = minhashSig(spark, dir)
    val sigA = sig.toDF(sig.columns.map(c => s"a_$c"): _*)
    val sigB = sig.toDF(sig.columns.map(c => s"b_$c"): _*)
    val matches = (0 until 16).map(i =>
      when(col(s"a_s$i") === col(s"b_s$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val m = bandPairs(spark, dir).select("doc_a", "doc_b")
      .join(sigA, col("doc_a") === col("a_doc_id"))
      .join(sigB, col("doc_b") === col("b_doc_id"))
      .select(matches.as("matches"))
    val curveCols = curveThresholds.map(t =>
      sum(when(col("matches") >= t, 1L).otherwise(0L)).as(s"n_ge_${t}_of_16"))
    m.agg(count(lit(1)).as("n_cand_pairs"), curveCols: _*)
  }

  val jaccardCurveSql: String = {
    val sigExprs = (0 until 16).map(i =>
      s"min((h30 * ${mhA(i)} + ${mhB(i)}) % $P) AS s$i").mkString(",\n|        ")
    val bandSelects = (0 until 4).map { b =>
      val cat = (0 until 4).map(j => s"CAST(s${b * 4 + j} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, CAST($b AS BIGINT) AS band_id, ${hash60Sql(cat)} AS band_hash FROM sig"
    }.mkString("\n|       UNION ALL ")
    val matchSum = (0 until 16)
      .map(i => s"CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    val curveSelects = curveThresholds.map(t =>
      s"CAST(SUM(CASE WHEN matches >= $t THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_${t}_of_16")
      .mkString(",\n|       ")
    s"""WITH $shingledSql,
       |hsh AS (SELECT doc_id, sh % 1073741824 AS h30 FROM sh),
       |sig AS (SELECT doc_id,
       |        $sigExprs
       |       FROM hsh GROUP BY doc_id),
       |bands0 AS ($bandSelects),
       |bands AS (SELECT * FROM bands0
       |          QUALIFY COUNT(*) OVER (PARTITION BY band_id, band_hash) <= 10000),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       |          AND a.doc_id < b.doc_id),
       |m AS (SELECT CAST($matchSum AS BIGINT) AS matches
       |      FROM cand c
       |      JOIN sig sa ON c.doc_a = sa.doc_id
       |      JOIN sig sb ON c.doc_b = sb.doc_id)
       |SELECT COUNT(*) AS n_cand_pairs,
       |       $curveSelects
       |FROM m""".stripMargin
  }

  /** q_simhash — 60-bit SimHash per doc from token hashes weighted by term
    * frequency, plus 4×15-bit band keys (near-dup candidates = band
    * equality, same join mechanism as MinHash). The per-(doc,bit) shuffle
    * is map-side combinable; 60× row expansion happens AFTER the
    * token-count aggregation so it scales with vocabulary, not corpus.
    */
  def qSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashFrame(spark, dir)

  /** The per-doc simhash+bands frame, materialized once per (session,
    * dir) — shared by [[qSimhash]] and [[qSimhashPairs]] (the pairs
    * query would otherwise recompute the 60×-vocabulary bit shuffle
    * on both sides of its band join). One row per doc. */
  private def simhashFrame(spark: SparkSession, dir: String): DataFrame =
    // r11: built by the JVM kernel (zero shuffle, no 60× bit-vote row
    // amplification — the relational build spilled past disk at sf100);
    // the relational simhashPlan stays as the spec'd row-exact twin and
    // the oracle's SQL form
    materializeOnce(spark, dir, "simhash")(simhashKernelPlan(spark, dir))

  /** Per-doc SimHash in ONE JVM pass — the kernel behind the
    * registered query (r11). The relational [[simhashPlan]] explodes
    * (doc, token) rows × 60 bit votes before its per-doc fold: with a
    * small vocabulary every doc carries nearly every token, so that
    * intermediate is ~|corpus tokens| × 60 — 9.3B rows at the sf100
    * probe, which spilled past the disk BUILDING the signature frame
    * (the pair join it feeds was already budget-bounded). The in-row
    * Catalyst HOF alternative evaluates interpreted (the 68-docs/s
    * streaming measurement). This is the [[graft.streaming.DedupStream]]
    * device: a typed map on the spec-proven `hash60Jvm == hash60`
    * twin — O(tokens) per doc, ZERO shuffle, no row amplification;
    * `Round11OperatorSpec` pins kernel == relational frame row-exact
    * and the oracle recomputes the relational form in SQL. (This is
    * the repo's 4th and newest documented JVM-kernel site, next to the
    * TSV parser, the binary decode stage, and the custom physical
    * operator — each exists because the relational form either
    * amplifies data or drops out of codegen.) */
  private[graft] def simhashJvm(text: String): (Long, Long, Long, Long, Long) = {
    val counts = new java.util.HashMap[String, Long]()
    text.split(" ", -1).foreach(t =>
      counts.merge(t, 1L, (a, b) => a + b))
    val sums = new Array[Long](60)
    counts.forEach { (tok, cnt) =>
      val h = hash60Jvm(tok)
      var b = 0
      while (b < 60) {
        if (((h >> b) & 1L) == 1L) sums(b) += cnt else sums(b) -= cnt
        b += 1
      }
    }
    var sim = 0L
    var b = 0
    while (b < 60) { if (sums(b) > 0) sim |= (1L << b); b += 1 }
    (sim, sim & 32767L, (sim >> 15) & 32767L,
      (sim >> 30) & 32767L, (sim >> 45) & 32767L)
  }

  private[graft] def simhashKernelPlan(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) =>
        val r = simhashJvm(t); (id, r._1, r._2, r._3, r._4, r._5) }
      .toDF("doc_id", "simhash", "band0", "band1", "band2", "band3")
  }

  private[graft] def simhashPlan(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
      .withColumn("h", hash60(col("token")))
    val bits = tok
      .withColumn("bit", explode(sequence(lit(0), lit(59))))
      .withColumn("contrib",
        expr("CASE WHEN (shiftright(h, bit) & 1) = 1 THEN cnt ELSE -cnt END"))
      .groupBy("doc_id", "bit").agg(sum("contrib").as("s"))
    val sim = bits
      .groupBy("doc_id")
      .agg(sum(expr("CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), bit) ELSE CAST(0 AS BIGINT) END"))
        .as("simhash"))
    def band(i: Int): Column =
      shiftright(col("simhash"), 15 * i).bitwiseAND(lit(32767L))
    sim.select(col("doc_id"), col("simhash"),
      band(0).as("band0"), band(1).as("band1"),
      band(2).as("band2"), band(3).as("band3"))
  }

  val simhashSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |tok AS (SELECT doc_id, unnest(ws) AS token FROM w),
       |tc AS (SELECT doc_id, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
       |th AS (SELECT doc_id, cnt, ${hash60Sql("token")} AS h FROM tc),
       |bits AS (SELECT doc_id, bit,
       |         SUM(CASE WHEN (h >> bit) & 1 = 1 THEN cnt ELSE -cnt END) AS s
       |         FROM th, (SELECT unnest(generate_series(0, 59)) AS bit) b
       |         GROUP BY 1, 2),
       |sim AS (SELECT doc_id,
       |        CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS BIGINT) AS simhash
       |        FROM bits GROUP BY doc_id)
       |SELECT doc_id, simhash,
       |       (simhash >> 0) & 32767 AS band0,
       |       (simhash >> 15) & 32767 AS band1,
       |       (simhash >> 30) & 32767 AS band2,
       |       (simhash >> 45) & 32767 AS band3
       |FROM sim""".stripMargin

  /** q_simhash_pairs — SimHash near-dup detection END TO END (Manku,
    * Jain & Sarma's web-dedup design): candidate pairs share at least
    * one of the 4 15-bit bands (by the pigeonhole rule any pair within
    * Hamming distance 3 of 60 bits shares a band — banding is
    * RECALL-LOSSLESS at that radius, unlike MinHash banding), then each
    * candidate is verified with the exact Hamming distance
    * `bit_count(xor)` and flagged `is_dup` at radius ≤ 7. Completes the
    * SimHash family the way q_lsh_verify completes MinHash: signature →
    * bucket → candidates → exact verify, never all-pairs.
    *
    * Shape: the materialized [[simhashFrame]] explodes to 4 (band_id,
    * band_val) rows per doc, hot buckets capped at [[simhashCap]]
    * members (the only quadratic path), one equality self-join, then
    * the verify is a per-row xor on signatures carried THROUGH the
    * join (min() re-reads them past the pair groupBy — no re-join
    * against the signature frame). Output ∝ candidates.
    *
    * THE CAP IS ADAPTIVE (r10 — the sf10 probe measured 453×: a
    * 31-word vocab drives the simhash bits far from uniform, so one
    * 15-bit band value held 18% of a 500k-doc corpus and the fixed
    * 10k cap passed 1.1B join rows — the r8 saturation law landing on
    * the BAND space, where per-bucket caps don't fire because dfs sit
    * under them). [[simhashCap]] picks the largest ladder cap whose
    * exact kept-pair count Σ_{df≤cap} C(df,2) fits the join budget
    * (over-cap bands are DROPPED whole, never truncated to cap
    * members — the join filter is `bsz <= cap`) —
    * the ivfK device: a plan-time scalar the oracle recomputes
    * in-query, equal to the old constant at every fixture SF (zero
    * oracle churn), 300 at sf10 (35M join rows, measured). A
    * saturated band value carries no information for its members —
    * dropping it loses only pairs the pigeonhole argument could
    * never certify efficiently anyway.
    */
  def qSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    simhashPairsCapped(spark, dir, SimhashPairBudget)

  /** The kept-pair join budget: caps the band self-join's input rows.
    * ~50M rows is one mid-size query's work at 32 cores and a few
    * tasks' work per executor at 1000. */
  private[graft] val SimhashPairBudget = 50000000L

  /** Descending cap ladder — head is the legacy constant (every
    * fixture SF selects it; the probe SF steps down as saturation
    * grows). */
  private[graft] val simhashCapLadder =
    Seq(10000L, 3000L, 1000L, 300L, 100L, 30L, 10L, 3L)

  /** Keyed by the MATERIALIZED signature-frame INSTANCE, weakly
    * (ADVICE_r10): the ladder sums are facts OF that frame, so the memo
    * lives exactly as long as `MaterializeOnce` holds the frame —
    * `invalidate()`/`release()` drop the strong reference, the weak
    * entry becomes collectable, and a rebuilt frame (same session+dir
    * over regenerated fixtures) is a NEW instance that re-derives the
    * cap. No SparkSession or dir string is retained here, so the map
    * cannot grow without bound or pin a dead session. */
  private val simhashCapCache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, Seq[Long]]())

  /** Test hook: how many times the ladder aggregate actually ran in
    * this JVM — lets a spec prove the memo re-derives after frame
    * invalidation without trying to observe GC. */
  private[graft] val simhashCapDerivations =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Plan-time adaptive hot-band cap: ONE aggregate over the (already
    * materialized) signature frame computes the exact kept-pair count
    * at every ladder cap; the largest cap fitting `budget` wins (the
    * smallest if none fits). Memoized against the frame instance — the
    * ladder sums are facts of that materialization; the budget applies
    * at selection time so specs can force the route on a small
    * fixture. (A lost race recomputes the same sums — benign; the
    * aggregate must not run under the map lock.) */
  private[graft] def simhashCap(spark: SparkSession, dir: String,
      budget: Long = SimhashPairBudget): Long = {
    val sim = simhashFrame(spark, dir)
    val cached = simhashCapCache.get(sim)
    val sums = if (cached != null) cached else {
      simhashCapDerivations.incrementAndGet()
      val hist = sim
        .select(posexplode(array(col("band0"), col("band1"),
          col("band2"), col("band3"))).as(Seq("band_id", "band_val")))
        .groupBy("band_id", "band_val").agg(count(lit(1)).as("df"))
      val aggs = simhashCapLadder.map(c =>
        sum(expr(s"CASE WHEN df <= $c THEN df * (df - 1) div 2 ELSE 0 END"))
          .as(s"kept_$c"))
      val r = hist.agg(aggs.head, aggs.tail: _*).head()
      val s = simhashCapLadder.indices
        .map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
      simhashCapCache.put(sim, s)
      s
    }
    simhashCapLadder.zip(sums)
      .collectFirst { case (c, s) if s <= budget => c }
      .getOrElse(simhashCapLadder.last)
  }

  private[graft] def simhashPairsCapped(spark: SparkSession, dir: String,
      budget: Long): DataFrame = {
    val cap = simhashCap(spark, dir, budget)
    val sim = simhashFrame(spark, dir)
    val bands = sim
      .select(col("doc_id"), col("simhash"),
        posexplode(array(col("band0"), col("band1"), col("band2"),
          col("band3"))).as(Seq("band_id", "band_val")))
      .withColumn("bsz", count(lit(1)).over(
        Window.partitionBy("band_id", "band_val")))
      .filter(col("bsz") <= cap).drop("bsz")
    bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"),
        min(col("a.simhash")).as("sim_a"),
        min(col("b.simhash")).as("sim_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared_bands"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long")
          .as("hamming"))
      .withColumn("is_dup", (col("hamming") <= 7).cast("int"))
  }

  val simhashPairsSql: String =
    s"""WITH simq AS ($simhashSql),
       |bands0 AS (
       |  SELECT doc_id, simhash, band_id, band_val FROM (
       |    SELECT doc_id, simhash,
       |           unnest([0, 1, 2, 3]) AS band_id,
       |           unnest([band0, band1, band2, band3]) AS band_val
       |    FROM simq)),
       |hist AS (SELECT band_id, band_val, COUNT(*) AS df
       |         FROM bands0 GROUP BY 1, 2),
       |lad AS (SELECT c,
       |          SUM(CASE WHEN df <= c THEN df * (df - 1) // 2 ELSE 0 END)
       |            AS kept
       |        FROM hist,
       |          (SELECT unnest([10000, 3000, 1000, 300, 100, 30, 10, 3]) AS c) l
       |        GROUP BY c),
       |capsel AS (SELECT COALESCE(MAX(CASE WHEN kept <= $SimhashPairBudget
       |                                    THEN c END), 3) AS cap
       |           FROM lad),
       |bands AS (SELECT b.* FROM bands0 b, capsel
       |          QUALIFY COUNT(*) OVER (PARTITION BY band_id, band_val)
       |            <= capsel.cap),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         COUNT(*) AS n_shared_bands,
       |         min(a.simhash) AS sim_a, min(b.simhash) AS sim_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_val = b.band_val
       |   AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_shared_bands,
       |       CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming,
       |       CAST(bit_count(xor(sim_a, sim_b)) <= 7 AS INT) AS is_dup
       |FROM cand""".stripMargin

  /** Winnowing window size: each sliding window of [[winnowW]] consecutive
    * 4-gram hashes contributes its MINIMUM as a fingerprint. Guarantees
    * any match of ≥ w+3 tokens shares at least one fingerprint (the
    * winnowing coverage theorem) while keeping ~1/w of the grams —
    * density 2/(w+1) expected. */
  private val winnowW = 4

  /** Winnowed fingerprint base: one row per (doc_id, n, fp) where fp is
    * a selected 4-gram hash and n the doc's distinct-fingerprint count.
    * The selection is per-window MINIMUM (Schleimer/Wilkerson/Aiken,
    * MOSS): the fingerprint SET = distinct minima over all windows — no
    * tie-position bookkeeping needed because only the hash identity
    * enters the set. Same hot-path shape as [[shingled]]: posexplode +
    * `lead` (codegen'd, window shuffle lands on doc_id — the key the
    * fingerprint aggregation needs anyway), hashes AFTER the explode in
    * a codegen'd projection, and all downstream joins key on the 8-byte
    * hash. Work per doc is O(tokens); selected set is ~tokens/w.
    */
  /** The fingerprint frame materialized once per (session, dir) — the
    * cap ladder and the pair join both ride it (and the self-join's
    * two sides share the checkpointed scan). Token-scale rows, the
    * docTokens precedent. */
  private def winnowedM(spark: SparkSession, dir: String): DataFrame =
    materializeOnce(spark, dir, "winnowed")(winnowed(spark, dir))

  private def winnowed(spark: SparkSession, dir: String): DataFrame = {
    val wdoc = Window.partitionBy("doc_id").orderBy("pos")
    val words = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
    val grams = words
      .withColumn("w2", lead("word", 1).over(wdoc))
      .withColumn("w3", lead("word", 2).over(wdoc))
      .withColumn("w4", lead("word", 3).over(wdoc))
      .filter(col("w4").isNotNull)
      .select(col("doc_id"), col("pos"),
        hash60(concat_ws(" ", col("word"), col("w2"), col("w3"), col("w4")))
          .as("h"))
    val sel = grams
      .withColumn("wmin", min("h").over(wdoc.rowsBetween(0, winnowW - 1)))
      // valid window starts only: the last w-1 positions have ragged
      // (shorter) windows, which the algorithm does not emit
      .withColumn("hend", lead("h", winnowW - 1).over(wdoc))
      .filter(col("hend").isNotNull)
      .select(col("doc_id"), col("wmin").as("fp"))
    sel.groupBy("doc_id").agg(collect_set(col("fp")).as("fps"))
      .select(col("doc_id"), size(col("fps")).as("n"),
        explode(col("fps")).as("fp"))
  }

  /** DuckDB twin of [[winnowed]] as WITH-clause body (ending in `fpn`). */
  private val winnowedSql: String =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g0 AS (SELECT doc_id, list_transform(generate_series(1, len(ws)-3),
       |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]) AS gs
       |       FROM w WHERE len(ws) >= 4),
       |g1 AS (SELECT doc_id, len(gs) AS ng, i, gs[CAST(i AS INT)] AS gram
       |       FROM g0, UNNEST(generate_series(1, len(gs))) AS t(i)),
       |g2 AS (SELECT doc_id, ng, i, ${hash60Sql("gram")} AS h FROM g1),
       |selw AS (SELECT doc_id,
       |          min(h) OVER (PARTITION BY doc_id ORDER BY i
       |            ROWS BETWEEN CURRENT ROW AND ${winnowW - 1} FOLLOWING) AS fp
       |        FROM g2 QUALIFY i <= ng - ${winnowW - 1}),
       |fp0 AS (SELECT DISTINCT doc_id, fp FROM selw),
       |fpsz AS (SELECT doc_id, COUNT(*) AS n FROM fp0 GROUP BY 1),
       |fpn AS (SELECT fp0.doc_id, fpsz.n, fp0.fp
       |        FROM fp0 JOIN fpsz ON fp0.doc_id = fpsz.doc_id)""".stripMargin

  /** Hot-fingerprint guard head — the LADDER's largest cap, selected
    * at every fixture SF (zero oracle churn there); the sf100 probe
    * found the FIXED cap spilling past disk at total saturation
    * (winnow minima live in the same saturated gram space — Σ C(df,2)
    * under a fixed cap is unbounded when the value space × cap² is
    * large), so the cap is ADAPTIVE now, the simhashCap device. */
  private[graft] val fpCapLadder = Seq(1000L, 300L, 100L, 30L, 10L, 3L)

  /** Kept-pair budget for the winnow fingerprint self-join. */
  private[graft] val WinnowPairBudget = 50000000L

  /** Keyed weakly by the materialized fingerprint-frame instance —
    * same lifecycle argument as [[simhashCapCache]] (ADVICE_r10). */
  private val winnowCapCache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, Seq[Long]]())

  private[graft] def winnowCap(spark: SparkSession, dir: String,
      budget: Long = WinnowPairBudget): Long = {
    val fpn = winnowedM(spark, dir)
    val cached = winnowCapCache.get(fpn)
    val sums = if (cached != null) cached else {
      val hist = fpn.groupBy("fp").agg(count(lit(1)).as("df"))
      val aggs = fpCapLadder.map(c =>
        sum(expr(s"CASE WHEN df <= $c THEN df * (df - 1) div 2 ELSE 0 END"))
          .as(s"kept_$c"))
      val r = hist.agg(aggs.head, aggs.tail: _*).head()
      val out = fpCapLadder.indices
        .map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
      winnowCapCache.put(fpn, out)
      out
    }
    fpCapLadder.zip(sums)
      .collectFirst { case (c, k) if k <= budget => c }
      .getOrElse(fpCapLadder.last)
  }

  /** q_winnow — document fingerprinting by WINNOWING (the MOSS
    * algorithm): per-window minima of 4-gram hashes form each doc's
    * fingerprint set (~1/w of the grams, with the guarantee that any
    * shared run of ≥ w+3 tokens shares a fingerprint), then near-dup
    * candidate pairs come from the fingerprint-equality self-join —
    * sub-linear candidate generation vs full shingle joins, the same
    * coverage contract MOSS ships. Stop-fingerprint guard bounds the
    * one quadratic risk (a boilerplate fingerprint shared corpus-wide),
    * mirrored in the oracle.
    */
  def qWinnow(spark: SparkSession, dir: String): DataFrame =
    winnowCapped(spark, dir, WinnowPairBudget)

  private[graft] def winnowCapped(spark: SparkSession, dir: String,
      budget: Long): DataFrame = {
    val cap = winnowCap(spark, dir, budget)
    val fp = winnowedM(spark, dir)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("fp")))
      .filter(col("df") <= cap).drop("df")
    fp.as("a").join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"),
        max(col("a.n")).as("na"), max(col("b.n")).as("nb"))
      .filter(col("n_common") >= 2)
      .withColumn("jaccard", round(col("n_common").cast("double") /
        (col("na") + col("nb") - col("n_common")).cast("double"), 4))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        col("na"), col("nb"), col("jaccard"))
  }

  val winnowSql: String =
    s"""WITH $winnowedSql,
       |fdf AS (SELECT fp, COUNT(*) AS df FROM fpn GROUP BY fp),
       |lad AS (SELECT c,
       |          SUM(CASE WHEN df <= c THEN df * (df - 1) // 2 ELSE 0 END)
       |            AS kept
       |        FROM fdf,
       |          (SELECT unnest([1000, 300, 100, 30, 10, 3]) AS c) l
       |        GROUP BY c),
       |capsel AS (SELECT COALESCE(MAX(CASE WHEN kept <= $WinnowPairBudget
       |                                    THEN c END), 3) AS cap
       |           FROM lad),
       |fpf AS (SELECT fpn.doc_id, fpn.n, fpn.fp FROM fpn, capsel
       |        QUALIFY COUNT(*) OVER (PARTITION BY fp) <= capsel.cap)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       COUNT(*) AS n_common, max(a.n) AS na, max(b.n) AS nb,
       |       round(CAST(COUNT(*) AS DOUBLE) /
       |         CAST(max(a.n) + max(b.n) - COUNT(*) AS DOUBLE), 4) AS jaccard
       |FROM fpf a JOIN fpf b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2
       |HAVING COUNT(*) >= 2""".stripMargin

  /** q_dup_rate_by_source — duplication diagnostics per source (the
    * curation dashboard that catches a crawler dumping the same site
    * twice): per source, docs in any near-dup cluster, docs that LOSE
    * dedup (non-canonical members), and the loss rate in ppm. Reuses
    * the full [[qDedupClusters]] fixpoint; singleton docs arrive via
    * the left join's null side. Output bounded by |sources|.
    */
  def qDupRateBySource(spark: SparkSession, dir: String): DataFrame = {
    val cl = clusters(spark, dir)
      .select(col("doc_id"), lit(1L).as("clustered"),
        when(col("doc_id") =!= col("cluster_id"), 1L).otherwise(0L)
          .as("loser"))
    Tables.documents(spark, dir).select("doc_id", "source")
      .join(cl, Seq("doc_id"), "left_outer")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("clustered"), lit(0L))).as("n_clustered"),
        sum(coalesce(col("loser"), lit(0L))).as("n_losers"))
      .withColumn("loss_ppm", expr("n_losers * 1000000 div n_docs"))
  }

  val dupRateBySourceSql: String =
    s"""SELECT d.source, COUNT(*) AS n_docs,
       |       CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_clustered,
       |       CAST(SUM(CASE WHEN c.doc_id IS NOT NULL AND c.doc_id <> c.cluster_id
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_losers,
       |       CAST(SUM(CASE WHEN c.doc_id IS NOT NULL AND c.doc_id <> c.cluster_id
       |                     THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // COUNT(*)
       |         AS loss_ppm
       |FROM documents d LEFT JOIN ($dedupClustersSql) c
       |  ON d.doc_id = c.doc_id
       |GROUP BY d.source""".stripMargin

  /** POSITIONED word 3-shingles — (doc_id, pos, sh), one row per
    * occurrence (NOT distinct, unlike [[shingled]]): the base for
    * span-level alignment, where position is the payload. Same codegen'd
    * window form, same doc_id-keyed shuffle. */
  private def shingledPos(spark: SparkSession, dir: String): DataFrame = {
    val wdoc = Window.partitionBy("doc_id").orderBy("pos")
    Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .withColumn("w2", lead("word", 1).over(wdoc))
      .withColumn("w3", lead("word", 2).over(wdoc))
      .filter(col("w3").isNotNull)
      .select(col("doc_id"), col("pos"),
        hash60(concat_ws(" ", col("word"), col("w2"), col("w3"))).as("sh"))
  }

  /** r15 MEASURED AND REVERTED (§2.4 tried, §1 decided): materializing
    * the stop-capped positioned-shingle frame for [[qDupSpan]]'s
    * self-join was the VERDICT_r14 item-5 suggestion, but the bench
    * showed it INCREASES total work at sf0.1 — frame build 3.67 s +
    * join 1.73 s per demand vs 2.13 s for the double derivation,
    * because (a) the two branch pipelines execute in parallel on idle
    * cores, so wall ≈ one derivation already, and (b) the per-token
    * frame (24 B/token of doc_id+pos+hash) is LARGER than the text it
    * derives from, so the block-store round-trip moves more bytes than
    * the second scan. Keeping the in-query double derivation is the
    * lower-total-work plan; the steady-state-vs-frames attribution
    * would have hidden the regression (the VERDICT_r14 item-4
    * cost-shifting class). */

  /** Minimum aligned 3-shingle run for a reported span: 5 shingles ≡ a
    * duplicated substring of ≥ 7 words (Lee et al.'s 50-token threshold
    * scaled to the test corpus — policy, not mechanism). */
  private val minRun = 5

  /** q_dup_span — EXACT duplicated-substring detection (the suffix-array
    * dedup of Lee et al. 2022, re-expressed relationally): for each
    * near-dup candidate pair, the LONGEST exactly-shared word span.
    * Mechanism: positioned-shingle equality self-join → each shared
    * occurrence lands on a DIAGONAL (pos_a − pos_b); an exactly shared
    * k-word span is k−2 CONSECUTIVE positions on one diagonal, found
    * with the rank-trick (pos_a − row_number is constant within a
    * consecutive island — two windows, both on the (a,b,diag) key the
    * join shuffle already produced). Work ∝ shared-shingle occurrences
    * (never |a|·|b|); the stop-shingle guard caps hot keys exactly as in
    * [[qDedupNgram]]. Suffix arrays do this in O(corpus) on one machine;
    * this shape is the distributed equivalent with the same output
    * contract: (pair, longest shared span).
    */
  def qDupSpan(spark: SparkSession, dir: String): DataFrame = {
    val sp = shingledPos(spark, dir)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
      .filter(col("df") <= maxShingleDf).drop("df")
    val pairs = sp.as("a").join(sp.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (col("a.pos") - col("b.pos")).as("diag"), col("a.pos").as("pos_a"))
    val wDiag = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    pairs
      .withColumn("island", col("pos_a") - row_number().over(wDiag))
      .groupBy("doc_a", "doc_b", "diag", "island")
      .agg(count(lit(1)).as("run_len"))
      .groupBy("doc_a", "doc_b")
      .agg(max("run_len").as("max_run"), sum("run_len").as("n_shared"))
      .filter(col("max_run") >= minRun)
      .select(col("doc_a"), col("doc_b"), col("max_run"),
        (col("max_run") + 2).as("span_words"), col("n_shared"))
  }

  val dupSpanSql: String = {
    val sh = hash60Sql("ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |sp0 AS (SELECT doc_id, unnest(generate_series(1, len(ws)-2)) AS i, ws
       |        FROM w WHERE len(ws) >= 3),
       |sp1 AS (SELECT doc_id, i - 1 AS pos, $sh AS sh FROM sp0),
       |sp AS (SELECT doc_id, pos, sh FROM sp1
       |       QUALIFY COUNT(*) OVER (PARTITION BY sh) <= $maxShingleDf),
       |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |              a.pos - b.pos AS diag, a.pos AS pos_a
       |       FROM sp a JOIN sp b
       |         ON a.sh = b.sh AND a.doc_id < b.doc_id),
       |isl AS (SELECT doc_a, doc_b, diag,
       |               pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag
       |                                          ORDER BY pos_a) AS island
       |        FROM pr),
       |runs AS (SELECT doc_a, doc_b, diag, island, COUNT(*) AS run_len
       |         FROM isl GROUP BY 1, 2, 3, 4)
       |SELECT doc_a, doc_b,
       |       CAST(max(run_len) AS BIGINT) AS max_run,
       |       CAST(max(run_len) + 2 AS BIGINT) AS span_words,
       |       CAST(SUM(run_len) AS BIGINT) AS n_shared
       |FROM runs GROUP BY 1, 2
       |HAVING max(run_len) >= $minRun""".stripMargin
  }

  /** q_minhash_est_err — MinHash ESTIMATOR-ERROR diagnostics: for every
    * exact near-dup pair, the k=16 signature's Jaccard estimate
    * (matching components / 16) against the exact shingle Jaccard —
    * the validation run every LSH deployment does before trusting a
    * band configuration (expected |err| ≈ √(J(1−J)/k); gross outliers
    * mean broken hashing). All-integer ×10⁴ scaling: the estimate is
    * matches·625, the exact side reuses qDedupNgram's 4-decimal
    * Jaccard ×10⁴. Shape: the thresholded pair list (tiny) joins the
    * signature frame twice on doc_id — the 16-column signatures never
    * explode to rows, and at 100 TB both joins key on the 8-byte id
    * with the pair side far smaller than the corpus.
    */
  def qMinhashEstErr(spark: SparkSession, dir: String): DataFrame = {
    val pairs = ngramPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"),
        // round() before the cast: Spark's double→long cast TRUNCATES
        // while DuckDB's rounds — 0.2·10⁴ computed as 1999.999… would
        // diverge; jaccard is already 4-decimal so the round is exact
        round(col("jaccard") * 10000).cast("long").as("exact_x10k"))
    val sig = minhashSig(spark, dir)
    val sigA = sig.toDF(sig.columns.map(c => s"a_$c"): _*)
    val sigB = sig.toDF(sig.columns.map(c => s"b_$c"): _*)
    val matches = (0 until 16).map(i =>
      when(col(s"a_s$i") === col(s"b_s$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    pairs
      .join(sigA, col("doc_a") === col("a_doc_id"))
      .join(sigB, col("doc_b") === col("b_doc_id"))
      .select(col("doc_a"), col("doc_b"), col("exact_x10k"),
        (matches * 625L).as("est_x10k"))
      .withColumn("abs_err_x10k",
        abs(col("est_x10k") - col("exact_x10k")))
  }

  val minhashEstErrSql: String = {
    val sigExprs = (0 until 16).map(i =>
      s"min((h30 * ${mhA(i)} + ${mhB(i)}) % $P) AS s$i")
      .mkString(",\n|        ")
    val matchSum = (0 until 16)
      .map(i => s"CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $ngramPairsCtes,
       |hsh AS (SELECT doc_id, sh % 1073741824 AS h30 FROM sh),
       |sig AS (SELECT doc_id,
       |        $sigExprs
       |       FROM hsh GROUP BY doc_id),
       |est AS (
       |  SELECT p.doc_a, p.doc_b,
       |         CAST(round(p.jaccard * 10000) AS BIGINT) AS exact_x10k,
       |         CAST(($matchSum) * 625 AS BIGINT) AS est_x10k
       |  FROM pairs p
       |  JOIN sig sa ON p.doc_a = sa.doc_id
       |  JOIN sig sb ON p.doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, exact_x10k, est_x10k,
       |       abs(est_x10k - exact_x10k) AS abs_err_x10k
       |FROM est""".stripMargin
  }

  /** q_bbit_minhash — b-bit MinHash compression error (b=1): keep only
    * the LOWEST BIT of each of the 16 signature components (16 bits per
    * doc instead of 16×31-bit values — a ~31× signature-store shrink)
    * and compare the debiased 1-bit estimate against both the full-
    * signature estimate and the exact shingle Jaccard, per near-dup
    * pair. For b=1 two independent minhashes agree on their low bit
    * with probability J + (1−J)/2, so the unbiased estimate is
    * 2·(agree/k) − 1, clipped at 0 (Li & König's b-bit minwise
    * hashing); the diagnostic answers whether 1-bit signatures are
    * accurate enough at the deployment's J threshold BEFORE shrinking
    * the store. All-integer ×10⁴ scaling; clip via greatest(0, ·) so
    * no negative ever meets a truncating division.
    *
    * Shape: identical to [[qMinhashEstErr]] — the thresholded pair
    * list joins the materialized signature frame twice on the 8-byte
    * id; the bit extraction is a per-row `% 2` on already-joined
    * columns, nothing new shuffles.
    */
  def qBbitMinhash(spark: SparkSession, dir: String): DataFrame = {
    val pairs = ngramPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard") * 10000).cast("long").as("exact_x10k"))
    val sig = minhashSig(spark, dir)
    val sigA = sig.toDF(sig.columns.map(c => s"a_$c"): _*)
    val sigB = sig.toDF(sig.columns.map(c => s"b_$c"): _*)
    val fullM = (0 until 16).map(i =>
      when(col(s"a_s$i") === col(s"b_s$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val bitM = (0 until 16).map(i =>
      when(col(s"a_s$i") % 2 === col(s"b_s$i") % 2, 1L).otherwise(0L))
      .reduce(_ + _)
    pairs
      .join(sigA, col("doc_a") === col("a_doc_id"))
      .join(sigB, col("doc_b") === col("b_doc_id"))
      .select(col("doc_a"), col("doc_b"), col("exact_x10k"),
        (fullM * 625L).as("est_full_x10k"),
        bitM.as("bit_agree"),
        greatest(lit(0L), (bitM * 2L - 16L) * 625L).as("est_bbit_x10k"))
      .withColumn("err_full_x10k",
        abs(col("est_full_x10k") - col("exact_x10k")))
      .withColumn("err_bbit_x10k",
        abs(col("est_bbit_x10k") - col("exact_x10k")))
  }

  val bbitMinhashSql: String = {
    val sigExprs = (0 until 16).map(i =>
      s"min((h30 * ${mhA(i)} + ${mhB(i)}) % $P) AS s$i")
      .mkString(",\n|        ")
    val fullSum = (0 until 16)
      .map(i => s"CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    val bitSum = (0 until 16)
      .map(i => s"CASE WHEN sa.s$i % 2 = sb.s$i % 2 THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $ngramPairsCtes,
       |hsh AS (SELECT doc_id, sh % 1073741824 AS h30 FROM sh),
       |sig AS (SELECT doc_id,
       |        $sigExprs
       |       FROM hsh GROUP BY doc_id),
       |est AS (
       |  SELECT p.doc_a, p.doc_b,
       |         CAST(round(p.jaccard * 10000) AS BIGINT) AS exact_x10k,
       |         CAST(($fullSum) * 625 AS BIGINT) AS est_full_x10k,
       |         CAST($bitSum AS BIGINT) AS bit_agree
       |  FROM pairs p
       |  JOIN sig sa ON p.doc_a = sa.doc_id
       |  JOIN sig sb ON p.doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, exact_x10k, est_full_x10k, bit_agree,
       |       greatest(0, (bit_agree * 2 - 16) * 625) AS est_bbit_x10k,
       |       abs(est_full_x10k - exact_x10k) AS err_full_x10k,
       |       abs(greatest(0, (bit_agree * 2 - 16) * 625) - exact_x10k)
       |         AS err_bbit_x10k
       |FROM est""".stripMargin
  }

  /** q_cluster_canonical — the KEEP decision done right: per near-dup
    * cluster, the canonical document is the HIGHEST-QUALITY member
    * (longest text, doc_id tiebreak — the "keep the most complete
    * copy" policy of CCNet/RefinedWeb), not the arbitrary minimum id
    * the cluster label happens to use. One rank window over the
    * cluster key (partitions = cluster sizes, bounded by the dedup
    * semantics themselves), emitting per cluster: canonical doc, its
    * length, member count, and the chars dropped by deduplication.
    */
  def qClusterCanonical(spark: SparkSession, dir: String): DataFrame = {
    val members = clusters(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "n_chars"),
        Seq("doc_id"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    members
      .withColumn("rk", row_number().over(w))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rk") === 1, col("doc_id"))).as("canonical_doc"),
        max(when(col("rk") === 1, col("n_chars"))).as("canonical_chars"),
        (sum("n_chars") -
          max(when(col("rk") === 1, col("n_chars")))).as("dropped_chars"))
  }

  val clusterCanonicalSql: String =
    s"""WITH cl AS ($dedupClustersSql),
       |m AS (SELECT cl.cluster_id, cl.doc_id, d.n_chars,
       |             row_number() OVER (PARTITION BY cl.cluster_id
       |               ORDER BY d.n_chars DESC, cl.doc_id ASC) AS rk
       |      FROM cl JOIN documents d ON cl.doc_id = d.doc_id)
       |SELECT cluster_id, COUNT(*) AS n_members,
       |       max(CASE WHEN rk = 1 THEN doc_id END) AS canonical_doc,
       |       max(CASE WHEN rk = 1 THEN n_chars END) AS canonical_chars,
       |       CAST(SUM(n_chars) - max(CASE WHEN rk = 1 THEN n_chars END)
       |         AS BIGINT) AS dropped_chars
       |FROM m GROUP BY cluster_id""".stripMargin

  /** The "new shard" for incremental dedup: one source's documents. */
  private[graft] val newShardSource = "src0"

  /** q_cross_dedup — INCREMENTAL cross-corpus dedup, the shape that
    * actually runs at 100 TB: a freshly crawled shard (here `src0`)
    * dedups against the EXISTING corpus — new↔base candidates only,
    * never base↔base again (that work was paid when base was
    * ingested). Fingerprint-level: the base side collapses to DISTINCT
    * normalized-text hashes (one map-side-combinable aggregation of
    * the big side, 8-byte keys), the new shard LEFT-joins it — work
    * ∝ |base| + |new|, and only hashes shuffle. Per new doc: exact-dup
    * flag and the kept/dropped decision a shard-append job executes.
    */
  def qCrossDedup(spark: SparkSession, dir: String): DataFrame =
    crossDedupFor(spark, dir, newShardSource)

  /** The exact path parameterized by WHICH source is the new shard
    * (ADVICE_r11: `DocPipeline.ingestShard` plumbs its `shardSource`
    * here — previously the exact rule silently judged `src0` while the
    * near-dup probe judged the caller's shard). */
  /** The exact-dedup NORMALIZED-content fingerprint, as a column over
    * `text` — THE one expression every exact tier shares (crossDedup,
    * the persisted [[graft.index.FpIndex]], the streaming decision
    * path), so stream/batch/index parity is by construction. */
  private[graft] def normFpCol: org.apache.spark.sql.Column =
    hash60(trim(regexp_replace(lower(col("text")),
      "[ \\t\\n\\r\\f]+", " ")))

  /** (doc_id, source, fp) over the corpus — the exact tier's input. */
  private[graft] def normFps(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), normFpCol.as("fp"))

  private[graft] def crossDedupFor(spark: SparkSession, dir: String,
      shardSource: String): DataFrame = {
    val fp = normFps(spark, dir)
    val base = fp.filter(col("source") =!= shardSource)
      .groupBy("fp").agg(count(lit(1)).as("n_base"))
    fp.filter(col("source") === shardSource)
      .join(base.withColumnRenamed("fp", "base_fp"),
        col("fp") === col("base_fp"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_base"), lit(0L)).as("n_base_matches"),
        (col("n_base").isNotNull).cast("int").as("is_dup"))
  }

  val crossDedupSql: String = {
    val fpExpr = hash60Sql(
      "trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f]+', ' ', 'g'))")
    s"""WITH fp AS (SELECT doc_id, source, $fpExpr AS fp FROM documents),
       |base AS (SELECT fp, COUNT(*) AS n_base
       |         FROM fp WHERE source <> '$newShardSource' GROUP BY fp),
       |nw AS (SELECT doc_id, fp.fp FROM fp
       |       WHERE source = '$newShardSource')
       |SELECT nw.doc_id,
       |       coalesce(base.n_base, 0) AS n_base_matches,
       |       CAST(base.fp IS NOT NULL AS INT) AS is_dup
       |FROM nw LEFT JOIN base ON nw.fp = base.fp""".stripMargin
  }

  /** q_cross_neardup — INCREMENTAL near-dup, the batch shard-vs-corpus
    * shape (VERDICT_r10 item 2) next to [[qCrossDedup]]'s exact
    * fingerprints: the new shard (`src0`) probes the SETTLED corpus's
    * PERSISTED MinHash band buckets ([[graft.index.BandIndex]] — the
    * AnnIndex ensure() pattern applied to the dedup band frame).
    * Candidates are shard↔base band collisions ONLY; base↔base is
    * never re-paired (that work was paid when each base shard landed —
    * at 100 TB re-pairing the base per ingest is what makes naive LSH
    * ingest quadratic in corpus lifetime). The verify is the MinHash
    * component-match estimate (0..16, integer) computed from the
    * persisted base SIGNATURES — base text is never touched. Output:
    * one row per candidate pair with the est-J ≥ 1/2 near-dup verdict.
    * The oracle recomputes the identical split/cap/banding in-query;
    * `BandIndexSpec` proves consecutive shard ingests reuse the base
    * buckets (work ∝ shard).
    */
  def qCrossNeardup(spark: SparkSession, dir: String): DataFrame =
    crossProbeM(spark, dir)

  /** The shard-probe verdict frame materialized once per (session,
    * dir, index snapshot) — r15, guide §2.4: [[qContamDelta]] rides
    * [[qCrossNeardup]]'s output, so the whole probe (shard signature
    * build + posting join + estimate) ran TWICE per sweep. The tag
    * carries the BandIndex snapshot id, so an in-session append,
    * delete or vacuum (or a rebuild by ensure) re-probes instead of
    * serving the old verdicts; a superseded frame is left for
    * `MaterializeOnce.releaseSession`, since a consumer may still hold
    * it. Boundedness: one row per candidate pair, and candidates are
    * hot-bucket-capped at probe time (the BandIndex v2 contract) —
    * shard-linear, never corpus-quadratic. */
  private def crossProbeM(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.index.BandIndex.ensure(spark, dir)
    val snap = graft.index.BandIndex.snapshotId(spark, dir, root)
    materializeOnce(spark, dir, s"cross_probe@$snap")(
      graft.index.BandIndex.probe(spark, dir, root))
  }

  /** q_cross_dedup_served — the exact-dedup verdict SERVED from the
    * PERSISTED fingerprint table ([[graft.index.FpIndex]], r13 — the
    * BandIndex build/serve split applied to the exact tier,
    * VERDICT_r12 item 8): `ensure` collapses the settled base to its
    * distinct normalized-content hashes once per corpus snapshot, then
    * every shard ingest — and every micro-batch of the STREAMING
    * decision path ([[graft.streaming.ShardIngestStream
    * .decisionsBatch]]) — judges docs with one hash join against the
    * artifact, never re-aggregating the 100 TB base. Value-identical
    * to [[qCrossDedup]] (same oracle); `FpIndexSpec` proves reuse,
    * append == rebuild, and staleness. */
  def qCrossDedupServed(spark: SparkSession, dir: String): DataFrame =
    graft.index.FpIndex.probe(spark, dir,
      graft.index.FpIndex.ensure(spark, dir))

  val crossNeardupSql: String = {
    val sigExprs = (0 until 16).map(i =>
      s"min((h30 * ${mhA(i)} + ${mhB(i)}) % $P) AS s$i")
      .mkString(",\n|        ")
    val bandSelects = (0 until 4).map { b =>
      val cat = (0 until 4).map(j => s"CAST(s${b * 4 + j} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, CAST($b AS BIGINT) AS band_id, " +
        s"${hash60Sql(cat)} AS band_hash FROM sig"
    }.mkString("\n|       UNION ALL ")
    val matchSum = (0 until 16)
      .map(i => s"CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $shingledSql,
       |hsh AS (SELECT doc_id, sh % 1073741824 AS h30 FROM sh),
       |sig AS (SELECT doc_id,
       |        $sigExprs
       |       FROM hsh GROUP BY doc_id),
       |bands0 AS ($bandSelects),
       |bb AS (SELECT b0.doc_id, b0.band_id, b0.band_hash, d.source
       |       FROM bands0 b0 JOIN documents d ON b0.doc_id = d.doc_id),
       |base AS (SELECT doc_id, band_id, band_hash FROM bb
       |         WHERE source <> '$newShardSource'
       |         QUALIFY COUNT(*) OVER (PARTITION BY band_id, band_hash)
       |           <= $BandBucketCap),
       |shard AS (SELECT doc_id, band_id, band_hash FROM bb
       |          WHERE source = '$newShardSource'),
       |cand AS (SELECT s.doc_id AS doc_id, t.doc_id AS base_doc,
       |                COUNT(*) AS n_shared_bands
       |         FROM shard s JOIN base t ON s.band_id = t.band_id
       |           AND s.band_hash = t.band_hash
       |         GROUP BY 1, 2)
       |SELECT c.doc_id, c.base_doc, c.n_shared_bands,
       |       CAST($matchSum AS BIGINT) AS sig_matches,
       |       CAST(($matchSum) >= 8 AS INT) AS is_neardup
       |FROM cand c JOIN sig a ON a.doc_id = c.doc_id
       |JOIN sig b ON b.doc_id = c.base_doc""".stripMargin
  }

  /** q_contam_delta — what did THIS shard newly contaminate? (r12,
    * VERDICT_r11 item 6 — the ingest-time triage next to
    * [[qCrossNeardup]]'s pair list): per BASE source, how many settled
    * docs the incoming shard near-dup-hit, how many shard docs did the
    * hitting, and the pair count — the delta a shard-append job alerts
    * on (a crawl that suddenly re-mints one source's content is
    * upstream drift, not new data). RIDES the persisted-index probe
    * output — one base-source join of a candidate-bounded frame, no
    * new corpus scan; base text is never touched. Output ≤ |sources|
    * rows. */
  def qContamDelta(spark: SparkSession, dir: String): DataFrame =
    qCrossNeardup(spark, dir)
      .filter(col("is_neardup") === 1)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id").as("base_doc"), col("source").as("base_source")),
        Seq("base_doc"))
      .groupBy("base_source")
      .agg(countDistinct("base_doc").as("n_base_contaminated"),
        countDistinct("doc_id").as("n_shard_docs"),
        count(lit(1)).as("n_pairs"))

  lazy val contamDeltaSql: String =
    s"""WITH cn AS (SELECT * FROM ($crossNeardupSql))
       |SELECT d.source AS base_source,
       |       CAST(COUNT(DISTINCT cn.base_doc) AS BIGINT) AS n_base_contaminated,
       |       CAST(COUNT(DISTINCT cn.doc_id) AS BIGINT) AS n_shard_docs,
       |       CAST(COUNT(*) AS BIGINT) AS n_pairs
       |FROM cn JOIN documents d ON cn.base_doc = d.doc_id
       |WHERE cn.is_neardup = 1
       |GROUP BY d.source""".stripMargin

  /** The corpus share past which a host is governance-flagged (10%):
    * domain-mixing caps exist because one over-represented host skews
    * a training mix even when its docs are individually fine. */
  private[graft] val HostSharePpmCap = 100000L

  /** q_host_dedup — URL/HOST-level dedup grouping (r12, VERDICT_r11
    * item 6 — the standard domain-mixing governance lens): per host,
    * the doc count, DISTINCT-content count under the exact normalized
    * fingerprint (what per-host URL dedup would keep), the intra-host
    * dup rate, the host's corpus share, and the over-cap governance
    * flag at [[HostSharePpmCap]]. The fixture corpus carries no URL
    * column, so a deterministic synthetic URL is minted per doc
    * (first token + source as the host — the documented fixture shim);
    * the host EXTRACTION is the real regexp parse a pipeline runs on
    * crawl URLs, and everything downstream of it is the real
    * governance aggregation. Scale shape: one corpus scan →
    * map-side-combinable groupBy(host, fp) → host-sized rollup; only
    * 8-byte hashes and host strings shuffle, and the corpus-total
    * share enters as a broadcast 1-row count (the [[MetricsEtl
    * .qStaleness]] device — never a window-over-everything: host
    * cardinality is DATA-dependent, 10⁷–10⁸ hosts on a real crawl,
    * and `Window.partitionBy(lit(1))` would move all of them to one
    * task; fixed r13, VERDICT_r12 "what's wrong" item 1). Every doc
    * lands in exactly one host group, so Σ_host n_docs == count(*),
    * a zero-column scan — same values, zero oracle churn. */
  def qHostDedup(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")),
      "[ \\t\\n\\r\\f]+", " "))
    val url = concat(lit("https://"),
      element_at(split(col("text"), " "), 1), lit("."),
      col("source"), lit(".example/"), col("doc_id"))
    val withHost = Tables.documents(spark, dir)
      .select(col("doc_id"), hash60(norm).as("fp"), url.as("url"))
      .select(col("doc_id"), col("fp"),
        regexp_extract(col("url"), "^https://([^/]+)/", 1).as("host"))
    val total = Tables.documents(spark, dir)
      .agg(count(lit(1)).as("total_docs"))
    withHost
      .groupBy("host", "fp").agg(count(lit(1)).as("m"))
      .groupBy("host")
      .agg(sum("m").as("n_docs"),
        count(lit(1)).as("n_distinct_content"))
      .withColumn("n_dup_docs", col("n_docs") - col("n_distinct_content"))
      .withColumn("dup_ppm",
        expr("n_dup_docs * 1000000 div n_docs"))
      .crossJoin(broadcast(total))
      .withColumn("share_ppm", expr("n_docs * 1000000 div total_docs"))
      .withColumn("over_cap",
        (col("share_ppm") > HostSharePpmCap).cast("int"))
      .drop("total_docs")
  }

  val hostDedupSql: String = {
    val fpExpr = hash60Sql(
      "trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f]+', ' ', 'g'))")
    s"""WITH wh AS (SELECT doc_id, $fpExpr AS fp,
       |         regexp_extract('https://' || string_split(text, ' ')[1]
       |             || '.' || source || '.example/' || doc_id,
       |           '^https://([^/]+)/', 1) AS host
       |       FROM documents),
       |hf AS (SELECT host, fp, CAST(COUNT(*) AS BIGINT) AS m
       |       FROM wh GROUP BY 1, 2),
       |h AS (SELECT host, CAST(SUM(m) AS BIGINT) AS n_docs,
       |        CAST(COUNT(*) AS BIGINT) AS n_distinct_content
       |      FROM hf GROUP BY host)
       |SELECT host, n_docs, n_distinct_content,
       |       n_docs - n_distinct_content AS n_dup_docs,
       |       (n_docs - n_distinct_content) * 1000000 // n_docs AS dup_ppm,
       |       n_docs * 1000000
       |         // CAST(SUM(n_docs) OVER () AS BIGINT) AS share_ppm,
       |       CAST(n_docs * 1000000
       |         // CAST(SUM(n_docs) OVER () AS BIGINT) > $HostSharePpmCap
       |         AS INT) AS over_cap
       |FROM h""".stripMargin
  }

  /** q_quality_calibration — does the quality score PREDICT
    * duplication? (r11, the curation sanity check run before trusting
    * either signal): per quality-score DECILE, how many docs sit in a
    * near-dup cluster and how many LOSE dedup. A well-behaved corpus
    * shows duplication concentrated in particular deciles (template
    * spam is both low-quality and duplicated); a flat profile means
    * the two filters are independent and both are needed. Deciles are
    * ntile(10) over the (×10⁶-integer score, doc_id) TOTAL order — the
    * qQualityByLang integer-scaling device, so no float ever ranks
    * (the global ntile sorts a 16-byte (score, id) PROJECTION — the
    * exact-decile caveat every exact-percentile diagnostic here
    * carries; at 100 TB the production substitute is
    * q_percentiles_approx's sketch boundaries); the cluster feed is
    * the exact n-gram one (this query is
    * ExactJoinFamily — at saturation the harness routes it with its
    * siblings). One corpus-projection join against the
    * cluster-members frame, 10 rows out.
    */
  def qQualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.qQuality(spark, dir)
      .select(col("doc_id"),
        round(col("quality_score") * 1000000d).cast("long").as("s"))
      .withColumn("decile", ntile(10).over(
        Window.orderBy(col("s"), col("doc_id"))))
    val cl = clusters(spark, dir)
      .select(col("doc_id").as("cl_doc"), col("cluster_id"))
    q.join(cl, col("doc_id") === col("cl_doc"), "left_outer")
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cl_doc").isNotNull, 1L).otherwise(0L))
          .as("n_clustered"),
        sum(when(col("cl_doc").isNotNull &&
          col("cl_doc") =!= col("cluster_id"), 1L).otherwise(0L))
          .as("n_losers"),
        min("s").as("min_score_x1m"), max("s").as("max_score_x1m"))
      .withColumn("dup_ppm", expr("n_losers * 1000000 div n_docs"))
      .select(col("decile").cast("int").as("decile"), col("n_docs"),
        col("n_clustered"), col("n_losers"), col("dup_ppm"),
        col("min_score_x1m"), col("max_score_x1m"))
  }

  lazy val qualityCalibrationSql: String =
    s"""WITH qd AS (SELECT doc_id,
       |        CAST(round(quality_score * 1000000) AS BIGINT) AS s
       |      FROM (${TextAnalysis.qualitySql})),
       |dd AS (SELECT doc_id, s,
       |        ntile(10) OVER (ORDER BY s, doc_id) AS decile FROM qd),
       |cl AS (SELECT doc_id AS cl_doc, cluster_id
       |       FROM ($dedupClustersSql))
       |SELECT CAST(decile AS INT) AS decile, COUNT(*) AS n_docs,
       |       CAST(SUM(CASE WHEN cl_doc IS NOT NULL THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_clustered,
       |       CAST(SUM(CASE WHEN cl_doc IS NOT NULL AND cl_doc <> cluster_id
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_losers,
       |       CAST(SUM(CASE WHEN cl_doc IS NOT NULL AND cl_doc <> cluster_id
       |                     THEN 1 ELSE 0 END) AS BIGINT) * 1000000
       |         // COUNT(*) AS dup_ppm,
       |       MIN(s) AS min_score_x1m, MAX(s) AS max_score_x1m
       |FROM dd LEFT JOIN cl ON dd.doc_id = cl.cl_doc
       |GROUP BY decile""".stripMargin

  /** q_contam_by_source — contamination TRIAGE by source (the question
    * after q_decontaminate fires is always "WHICH crawl leaked the
    * benchmark"): per source, docs, flagged docs, flagged ppm, and the
    * source's share of all flagged docs. One left join of the
    * |hits|-bounded contamination frame onto the doc→source projection,
    * then a |sources|-bounded aggregate; the corpus-wide flagged total
    * rides a 1-row window over the aggregated frame, not a second
    * corpus pass. Benchmark docs themselves (doc_id < benchDocs) are
    * excluded — they are the held-out set, not a source under
    * suspicion.
    */
  def qContamBySource(spark: SparkSession, dir: String): DataFrame = {
    val contam = qDecontaminate(spark, dir)
      .select(col("doc_id").as("ct_doc"), col("flagged"))
    Tables.documents(spark, dir)
      .filter(col("doc_id") >= benchDocs)
      .select(col("doc_id"), col("source"))
      .join(contam, col("doc_id") === col("ct_doc"), "left_outer")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("flagged"), lit(false)).cast("long"))
          .as("n_flagged"))
      .withColumn("flagged_ppm", expr("n_flagged * 1000000 div n_docs"))
      .withColumn("share_ppm", expr(
        "n_flagged * 1000000 div greatest(sum(n_flagged) over (), 1)"))
  }

  val contamBySourceSql: String =
    s"""WITH ct AS (SELECT doc_id, flagged FROM ($decontaminateSql)),
       |s AS (SELECT d.source,
       |        COUNT(*) AS n_docs,
       |        CAST(SUM(CASE WHEN coalesce(ct.flagged, FALSE)
       |          THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
       |      FROM documents d LEFT JOIN ct ON d.doc_id = ct.doc_id
       |      WHERE d.doc_id >= $benchDocs
       |      GROUP BY d.source)
       |SELECT source, n_docs, n_flagged,
       |       n_flagged * 1000000 // n_docs AS flagged_ppm,
       |       n_flagged * 1000000
       |         // greatest(CAST(SUM(n_flagged) OVER () AS BIGINT), 1)
       |         AS share_ppm
       |FROM s""".stripMargin

  /** q_pipeline_funnel — the END-TO-END LOSS-ACCOUNTING table: one row
    * counting documents surviving each cumulative pipeline stage
    * (raw → quality filter → exact dedup → near-dup dedup →
    * decontamination) plus the token yield of the final survivor set.
    * This is the report every training-data pipeline publishes with a
    * snapshot — "we crawled N, we train on M tokens, here is where the
    * rest went" — and the first thing an operator reads when yield
    * drops. Stage conventions (documented, mirrored in the oracle):
    * exact-dedup canonicals are corpus-wide (content decides, not
    * quality order); near-dup keeps each cluster's longest member
    * (q_cluster_canonical's rule); decontamination drops both flagged
    * docs AND the held-out set itself (doc_id < benchDocs — the
    * benchmark never trains). Shape: every input is either a
    * materialized shared frame (near-dup clusters) or a single-pass
    * flag projection, all joins key on the 8-byte doc_id, and the
    * whole funnel collapses to ONE row in one aggregation pass — the
    * marginal cost over the stages themselves is corpus-linear flag
    * plumbing.
    */
  def qPipelineFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("toks"))
    val flags = TextAnalysis.qFilter(spark, dir)
      .select(col("doc_id").as("f_doc"),
        (col("lang_ok") && col("len_ok") && col("quality_ok")).as("q_ok"),
        col("canonical").as("exact_keep"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("n_chars").desc, col("doc_id"))
    val ndKeep = clusters(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "n_chars"),
        Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .select(col("doc_id").as("nd_doc"), (col("rk") === 1).as("nd_keep"))
    val contam = qDecontaminate(spark, dir)
      .select(col("doc_id").as("ct_doc"), col("flagged"))
    docs
      .join(flags, col("doc_id") === col("f_doc"))
      .join(ndKeep, col("doc_id") === col("nd_doc"), "left_outer")
      .join(contam, col("doc_id") === col("ct_doc"), "left_outer")
      .withColumn("s3", col("q_ok") && col("exact_keep"))
      .withColumn("s4", col("s3") && coalesce(col("nd_keep"), lit(true)))
      .withColumn("s5", col("s4") && col("doc_id") >= benchDocs &&
        !coalesce(col("flagged"), lit(false)))
      .agg(
        count(lit(1)).as("n_total"),
        sum(col("q_ok").cast("long")).as("n_quality"),
        sum(col("s3").cast("long")).as("n_exact"),
        sum(col("s4").cast("long")).as("n_neardup"),
        sum(col("s5").cast("long")).as("n_clean"),
        sum(when(col("s5"), col("toks")).otherwise(0L)).as("tokens_out"))
  }

  val pipelineFunnelSql: String =
    s"""WITH fl AS (SELECT doc_id,
       |             lang_ok AND len_ok AND quality_ok AS q_ok,
       |             canonical AS exact_keep
       |            FROM (${TextAnalysis.filterSql})),
       |cls AS (SELECT doc_id, cluster_id FROM ($dedupClustersSql)),
       |nd AS (SELECT cls.doc_id,
       |         row_number() OVER (PARTITION BY cls.cluster_id
       |           ORDER BY d.n_chars DESC, cls.doc_id) = 1 AS nd_keep
       |       FROM cls JOIN documents d ON cls.doc_id = d.doc_id),
       |ct AS (SELECT doc_id, flagged FROM ($decontaminateSql)),
       |st AS (SELECT d.doc_id,
       |         len(string_split(d.text, ' ')) AS toks,
       |         fl.q_ok,
       |         fl.q_ok AND fl.exact_keep AS s3,
       |         fl.q_ok AND fl.exact_keep
       |           AND coalesce(nd.nd_keep, TRUE) AS s4,
       |         fl.q_ok AND fl.exact_keep
       |           AND coalesce(nd.nd_keep, TRUE)
       |           AND d.doc_id >= $benchDocs
       |           AND NOT coalesce(ct.flagged, FALSE) AS s5
       |       FROM documents d
       |       JOIN fl ON d.doc_id = fl.doc_id
       |       LEFT JOIN nd ON d.doc_id = nd.doc_id
       |       LEFT JOIN ct ON d.doc_id = ct.doc_id)
       |SELECT COUNT(*) AS n_total,
       |       CAST(SUM(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_quality,
       |       CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       |       CAST(SUM(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_neardup,
       |       CAST(SUM(CASE WHEN s5 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
       |       CAST(SUM(CASE WHEN s5 THEN toks ELSE 0 END) AS BIGINT)
       |         AS tokens_out
       |FROM st""".stripMargin

  /** q_bloom_contam — Bloom-filter decontamination pre-filter with its
    * false-positive rate MEASURED against the exact gram join. At
    * fixture scale [[qDecontaminate]]'s broadcast of the benchmark's
    * distinct gram hashes is free; at 100 TB with a real eval registry
    * (HELM + every vendor's held-out suites: billions of grams) the
    * broadcast side itself becomes the bottleneck — the production
    * shape is a CONSTANT-SIZE bit set (m bits regardless of gram
    * count), probed per corpus gram, with the exact join run only for
    * the bloom-candidate survivors (the q_lsh_verify candidate-then-
    * verify economics applied to decontamination).
    *
    * k = 3 positions per gram over m = 2^18 bits, derived by
    * re-hashing the ALREADY-portable 60-bit gram hash with three salt
    * prefixes (`bf0:`..`bf2:`), so both engines compute bit-identical
    * positions from md5 alone. A gram is a bloom HIT iff all 3 of its
    * positions are set — expressed as explode(3 positions) →
    * broadcast-join the bit set → count == 3 (no bitmap type needed in
    * either engine; the bit set is a ≤m-row long column). Output: one
    * row per bloom-candidate doc with its bloom-hit and exact gram
    * counts — n_exact == 0 rows are the false-positive docs the
    * m/k sizing trades for constant memory. No false negatives by
    * construction (exact ⊆ bloom), so the pre-filter is sound.
    */
  def qBloomContam(spark: SparkSession, dir: String): DataFrame = {
    val m = 262144L
    def pos(k: Int): Column = pmod(
      graft.functions.Portable.hash60(
        concat(lit(s"bf$k:"), col("g").cast("string"))), lit(m))
    val grams = fiveGramsM(spark, dir)
    val bench = grams.filter(col("doc_id") < benchDocs)
      .select("g").distinct()
    val bits = bench
      .select(explode(array(pos(0), pos(1), pos(2))).as("p")).distinct()
    val corpus = grams.filter(col("doc_id") >= benchDocs)
      .select("doc_id", "g")
    val hits = corpus
      .select(col("doc_id"), col("g"),
        explode(array(pos(0), pos(1), pos(2))).as("p"))
      .join(broadcast(bits), "p")
      .groupBy("doc_id", "g")
      .agg(count(lit(1)).as("nbits"))
      .filter(col("nbits") === 3)
    hits
      .join(broadcast(bench.withColumn("ex", lit(1L))), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bloom_grams"),
        sum(coalesce(col("ex"), lit(0L))).as("n_exact_grams"))
      .withColumn("is_fp_doc", col("n_exact_grams") === 0)
  }

  val bloomContamSql: String = {
    import graft.functions.Portable.hash60Sql
    def pos(k: Int): String =
      s"${hash60Sql(s"'bf$k:' || CAST(g AS VARCHAR)")} % 262144"
    s"""WITH $fiveGramsSqlCtes,
       |bench AS (SELECT DISTINCT g.g FROM g WHERE doc_id < $benchDocs),
       |bits AS (SELECT DISTINCT p FROM (
       |  SELECT ${pos(0)} AS p FROM bench
       |  UNION ALL SELECT ${pos(1)} AS p FROM bench
       |  UNION ALL SELECT ${pos(2)} AS p FROM bench)),
       |corpus AS (SELECT doc_id, g.g FROM g WHERE doc_id >= $benchDocs),
       |probe AS (SELECT doc_id, g,
       |            unnest([${pos(0)}, ${pos(1)}, ${pos(2)}]) AS p
       |          FROM corpus),
       |hits AS (SELECT doc_id, g FROM probe JOIN bits USING (p)
       |         GROUP BY doc_id, g HAVING COUNT(*) = 3)
       |SELECT h.doc_id, COUNT(*) AS n_bloom_grams,
       |       CAST(SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_exact_grams,
       |       CAST(SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END)
       |         AS BIGINT) = 0 AS is_fp_doc
       |FROM hits h LEFT JOIN bench b ON h.g = b.g
       |GROUP BY 1""".stripMargin
  }

  /** Constant KMV watch-list + pair set for [[qKmvUnion]]: a CONSTANT
    * source set (the §6 bounded-set rule — never a corpus fraction), so
    * the pair frame is 10 literal rows regardless of corpus size. */
  private val kmvSources = Seq("src0", "src1", "src2", "src3", "src4")

  /** RAW (source, 5-gram-hash) stream for the KMV sketches — shared
    * formula between the batch path ([[kmvDistinct]] adds the
    * `distinct`) and the STREAMING sketch
    * ([[graft.streaming.SketchStream.kmvSketch]], which feeds the raw
    * stream straight into the distinct-by-construction
    * [[graft.functions.KmvLows]] aggregate — no pre-distinct state). */
  private[graft] def kmvHashes(docs: DataFrame): DataFrame =
    docs
      .filter(col("source").isin(kmvSources: _*))
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 5)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(w)-4), i -> concat_ws(' '," +
          " element_at(w, i), element_at(w, i+1), element_at(w, i+2)," +
          " element_at(w, i+3), element_at(w, i+4)))")).as("gram"))
      .select(col("source"), hash60(col("gram")).as("h"))

  /** The watched source list, for the streaming twin's spec. */
  private[graft] def kmvWatchedSources: Seq[String] = kmvSources

  /** Distinct (source, 5-gram-hash) frame for the KMV sketches — the
    * one corpus-sized stage; exposed for the plan audit (the registered
    * query's sketch is a MaterializeOnce RDD scan). */
  private[graft] def kmvDistinct(spark: SparkSession, dir: String): DataFrame =
    kmvHashes(Tables.fanOut(Tables.documents(spark, dir)))
      .distinct()

  /** Un-materialized sketch build (corpus distinct → bottom-64 heap)
    * for plan audits and PLANS.md. */
  private[graft] def kmvSketchPlan(spark: SparkSession, dir: String): DataFrame =
    graft.plans.TopKPerKey.topK(
      kmvDistinct(spark, dir), Seq("source"), Seq(("h", true)), 64)
  private val kmvPairs: Seq[(String, String)] =
    for { a <- kmvSources; b <- kmvSources if a < b } yield (a, b)

  /** q_kmv_union — MERGEABLE set-cardinality sketches between sources:
    * the K-Minimum-Values estimator (Bar-Yossef et al. 2002; the
    * distinct-count sketch whose UNION is just "merge the two bottom-k
    * sets and re-take bottom-k", which MinHash signatures cannot do
    * without assuming equal set sizes). Per watched source the k=64
    * smallest distinct 5-gram shingle hashes give
    * est = (k−1)·2⁴⁰ / (h₍ₖ₎ >> 20) (the hash is 60-bit; both sides
    * rescale to 2⁴⁰ so (k−1)·SPACE fits int64 exactly — 63·2⁶⁰
    * overflows). Per source pair the union estimate re-runs the same
    * formula on the merged distinct set, and the intersection is
    * inclusion–exclusion clamped at 0. This is the pre-join "how much
    * would cross-dedup between these crawls even find" triage at the
    * price of ONE bottom-64 per source instead of any pairwise scan.
    *
    * Scale shape: one corpus pass → distinct (source, hash) (hash-keyed
    * shuffle) → ONE bottom-64 per source on the native bounded-heap
    * [[graft.plans.TopKPerKey]] operator (map-side partial pruning —
    * each task keeps 64 candidates per key, NO per-source sort of the
    * full shingle set). Everything after that runs on the materialized
    * |watch|·64-row SKETCH frame: the union bottom-64 merges the two
    * 64-row sketches (exactly equal to the full-set bottom-64 — the
    * mergeable-sketch property), so pair count affects only
    * constant-sized work and the corpus is never replicated.
    */
  def qKmvUnion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def kmvEst: Column =
      expr("63L * 1099511627776L div greatest(h div 1048576, 1L)")
    // THE sketch property: bottom-64(A ∪ B) ⊆ bottom-64(A) ∪ bottom-64(B)
    // (any of the union's 64 smallest is among its own set's 64
    // smallest), so the pair stage runs on the 64-row-per-source SKETCH
    // frame — the corpus is touched exactly once, and the union
    // estimate is EXACTLY the full-set bottom-64's (not an
    // approximation of an approximation). Materialized: |watch|·64 rows
    // feed both the per-source and the per-pair consumers.
    val sketch = MaterializeOnce(spark, dir, "dedup:kmv_sketch")(
      kmvSketchPlan(spark, dir))
    val perSrc = sketch.filter(col("rk") === 64)
      .select(col("source"), kmvEst.as("est"))
    val pairs = broadcast(kmvPairs.toDF("pa", "pb"))
    val merged = sketch.join(pairs,
        col("source") === col("pa") || col("source") === col("pb"))
      .select(col("pa"), col("pb"), col("h")).distinct()
    val perPair = graft.plans.TopKPerKey.topK(
        merged, Seq("pa", "pb"), Seq(("h", true)), 64)
      .filter(col("rk") === 64)
      .select(col("pa"), col("pb"), kmvEst.as("est_union"))
    perPair
      .join(perSrc.select(col("source").as("sa"), col("est").as("est_a")),
        col("pa") === col("sa"))
      .join(perSrc.select(col("source").as("sb"), col("est").as("est_b")),
        col("pb") === col("sb"))
      .select(col("pa"), col("pb"), col("est_a"), col("est_b"),
        col("est_union"),
        expr("greatest(est_a + est_b - est_union, 0L)").as("est_inter"))
  }

  val kmvUnionSql: String = {
    val h = graft.functions.Portable.hash60Sql("gram")
    val srcList = kmvSources.map(s => s"'$s'").mkString(", ")
    val pairVals = kmvPairs.map { case (a, b) => s"('$a', '$b')" }.mkString(", ")
    s"""WITH d AS (
       |  SELECT source, string_split(text, ' ') AS w FROM documents
       |  WHERE source IN ($srcList) AND len(string_split(text, ' ')) >= 5),
       |g AS (
       |  SELECT DISTINCT source, $h AS h FROM (
       |    SELECT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
       |           w[i+3] || ' ' || w[i+4] AS gram
       |    FROM (SELECT source, w, unnest(range(1, len(w) - 3)) AS i
       |          FROM d))),
       |rs AS (SELECT source, h, row_number() OVER (
       |         PARTITION BY source ORDER BY h) AS rk FROM g),
       |es AS (SELECT source,
       |         CAST(63 AS BIGINT) * 1099511627776
       |           // greatest(h // 1048576, 1) AS est
       |       FROM rs WHERE rk = 64),
       |p AS (SELECT * FROM (VALUES $pairVals) AS t(pa, pb)),
       |m AS (SELECT DISTINCT p.pa, p.pb, g.h
       |      FROM p JOIN g ON g.source = p.pa OR g.source = p.pb),
       |ru AS (SELECT pa, pb, h, row_number() OVER (
       |         PARTITION BY pa, pb ORDER BY h) AS rk FROM m),
       |eu AS (SELECT pa, pb,
       |         CAST(63 AS BIGINT) * 1099511627776
       |           // greatest(h // 1048576, 1) AS est_union
       |       FROM ru WHERE rk = 64)
       |SELECT eu.pa, eu.pb, ea.est AS est_a, eb.est AS est_b, eu.est_union,
       |       greatest(ea.est + eb.est - eu.est_union, 0) AS est_inter
       |FROM eu JOIN es ea ON ea.source = eu.pa
       |        JOIN es eb ON eb.source = eu.pb""".stripMargin
  }

  /** q_dup_ngram_frac — the per-document DUPLICATION SCORE (the
    * C4/RefinedWeb gate that drops documents MOSTLY made of text seen
    * elsewhere, where whole-doc dedup keeps them): the fraction of a
    * document's distinct 5-grams that occur in ≥ 1 OTHER document,
    * as an exact ppm integer. Per-gram document frequency is ONE
    * linear groupBy on the gram hash (never a pair join — the r8
    * saturation law does not apply: df counting is O(corpus grams)
    * regardless of how saturated the gram space gets), joined back to
    * the per-doc gram list and folded per document. Only 8-byte gram
    * hashes ever shuffle.
    */
  def qDupNgramFrac(spark: SparkSession, dir: String): DataFrame = {
    val grams = fiveGramsM(spark, dir)
    val df = grams.groupBy("g").agg(count(lit(1)).as("df"))
    grams.join(df, "g")
      .groupBy("doc_id")
      .agg(max("n_grams").as("n_grams"),
        sum((col("df") > 1).cast("long")).as("n_shared"))
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        expr("n_shared * 1000000 div n_grams").as("shared_ppm"))
  }

  val dupNgramFracSql: String =
    s"""WITH $fiveGramsSqlCtes,
       |df AS (SELECT g.g AS key, COUNT(*) AS df FROM g GROUP BY 1),
       |j AS (SELECT g.doc_id, g.n_grams, df.df
       |      FROM g JOIN df ON g.g = df.key)
       |SELECT doc_id, MAX(n_grams) AS n_grams,
       |       CAST(SUM(CAST(df > 1 AS BIGINT)) AS BIGINT) AS n_shared,
       |       CAST(SUM(CAST(df > 1 AS BIGINT)) AS BIGINT) * 1000000
       |         // MAX(n_grams) AS shared_ppm
       |FROM j GROUP BY 1""".stripMargin

  /** q_affix_dup — boundary-affix duplicate groups: documents sharing
    * an identical first-8-token PREFIX or last-8-token SUFFIX (the
    * crawler/chunker artifact detector — re-crawled pages and split
    * shards keep their boundary text verbatim even when the middle
    * was edited, so affix groups surface duplication that whole-doc
    * hashing misses and near-dup banding only finds probabilistically).
    * Two bounded projections of one scan, a UNION, and ONE groupBy on
    * the affix string — group cardinality is corpus-bounded and the
    * ≥ 2 filter keeps output to the actual duplicate groups. The
    * member list emits as a numerically-ordered joined string (the
    * array-columns-crash-the-driver rule).
    */
  def qAffixDup(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 8)
    def side(kind: String, key: Column) =
      t.select(lit(kind).as("kind"), key.as("affix"), col("doc_id"))
    side("prefix", concat_ws(" ", slice(col("ws"), 1, 8)))
      .unionByName(side("suffix", concat_ws(" ", slice(col("ws"), -8, 8))))
      .groupBy("kind", "affix")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc_id"),
        expr("array_join(transform(array_sort(collect_list(doc_id))," +
          " x -> cast(x as string)), ',')").as("ids"))
      .filter(col("n_docs") >= 2)
      .select("kind", "min_doc_id", "n_docs", "ids")
  }

  val affixDupSql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |a AS (
      |  SELECT 'prefix' AS kind, array_to_string(ws[1:8], ' ') AS affix,
      |         doc_id
      |  FROM w WHERE len(ws) >= 8
      |  UNION ALL
      |  SELECT 'suffix' AS kind,
      |         array_to_string(ws[len(ws)-7:len(ws)], ' ') AS affix,
      |         doc_id
      |  FROM w WHERE len(ws) >= 8)
      |SELECT kind, MIN(doc_id) AS min_doc_id, COUNT(*) AS n_docs,
      |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
      |         AS ids
      |FROM a GROUP BY kind, affix HAVING COUNT(*) >= 2""".stripMargin
}
