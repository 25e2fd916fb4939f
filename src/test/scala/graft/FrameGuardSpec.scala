package graft

import org.scalatest.funsuite.AnyFunSuite

/** CONSUMER-COMPLETENESS for every shared frame that carries a cap,
  * budget, or pre-flight (VERDICT_r10 item 4 — generalizing the r10
  * ngramPairs grep-spec): the q_bbit_minhash sf10 death was a
  * hand-maintained membership list missing ONE consumer of a guarded
  * frame, and that omission class applies to EVERY guarded frame, not
  * just the exact-join one. This suite greps the source for each
  * frame's consumers and asserts each either shows in-block guard
  * EVIDENCE (the cap identifier), is routed (ExactJoinFamily), or
  * sits in a documented bounded-by-construction set. Adding a new
  * consumer without a scale guard FAILS here until it is guarded or
  * justified — which is the point.
  */
class FrameGuardSpec extends AnyFunSuite {

  private def read(path: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")

  /** Split a source file into `def <name>` blocks (each block runs to
    * the next def), keyed by the registered-query name for q-defs
    * (qFooBar → q_foo_bar) and the raw def name otherwise. */
  private def defBlocks(src: String): Seq[(String, String)] = {
    val defs = "def ([a-zA-Z][A-Za-z0-9]*)".r
    val starts = defs.findAllMatchIn(src).map(m => (m.group(1), m.start)).toSeq
    starts.zipAll(starts.drop(1).map(_._2), ("", 0), src.length).collect {
      case ((name, s), e) if name.nonEmpty =>
        val key =
          if (name.matches("q[A-Z].*"))
            "q" + name.drop(1).replaceAll("([A-Z])", "_$1").toLowerCase
          else name
        (key, src.substring(s, e))
    }
  }

  /** One guarded frame: where it lives, how consumption looks in
    * source, what counts as a guard, and which consumers are bounded
    * by construction (each with its reason, which IS the review). */
  private case class Frame(
      name: String,
      files: Seq[String],
      anchor: String,
      guardEvidence: String => Boolean,
      guardDesc: String,
      boundedOk: Map[String, String] = Map.empty,
      routedOk: String => Boolean = _ => false,
      // the frame's own def (and direct producers) self-match the
      // anchor in their signature/body — not consumers
      selfNames: Set[String] = Set.empty,
      // check every def (plan builders too), or only registered
      // queries (the r10 scope)
      allDefs: Boolean = false)

  private val dedupSrc = "src/main/scala/graft/operators/Dedup.scala"
  private val simSrc = "src/main/scala/graft/operators/Similarity.scala"
  private val bandIdxSrc = "src/main/scala/graft/index/BandIndex.scala"

  /** The cross_probe bound: the frame holds one row per candidate pair,
    * capped upstream by the BandIndex probe-time hot-bucket cap. A
    * consumer keeps that bound when it reads the frame once, never
    * cross-joins, and joins only on a unique doc key (doc_id /
    * base_doc — each frame row meets at most one row), so its output
    * is at most the frame's size before any aggregation. */
  private def docKeyedOnly(anchor: String)(block: String): Boolean = {
    val joins = "\\.join\\(".r.findAllMatchIn(block).size
    val docKeyed =
      "Seq\\(\"(doc_id|base_doc)\"\\)\\)".r.findAllMatchIn(block).size
    java.util.regex.Pattern.quote(anchor).r.findAllMatchIn(block).size == 1 &&
      !block.contains("crossJoin") && joins == docKeyed
  }

  private val crossProbeGuard = "one read of the frame, no cross join, " +
    "and every join on a unique doc key (Seq(\"doc_id\") or " +
    "Seq(\"base_doc\")) — the frame is candidate-capped upstream by " +
    "the BandIndex probe-time hot-bucket cap"

  private val frames = Seq(
    Frame("exact-Jaccard ngramPairs (Σ C(df,2) join — the sf10 killer)",
      Seq(dedupSrc), "ngramPairs(spark",
      guardEvidence = _ => false, // only the routing counts
      guardDesc = "membership in Dedup.ExactJoinFamily (the pre-flight " +
        "routes to LSH past the join budget)",
      routedOk = graft.operators.Dedup.ExactJoinFamily),
    Frame("exact n-gram clusters (transitive ngramPairs consumers — " +
      "the r10 grep only saw DIRECT pair-frame calls, the same " +
      "omission class)",
      Seq(dedupSrc), "clusters(spark",
      guardEvidence = _ => false, // routing is the only guard
      guardDesc = "membership in Dedup.ExactJoinFamily (the cluster " +
        "fixpoint is built ON the exact pair join)",
      routedOk = graft.operators.Dedup.ExactJoinFamily,
      // the producing fixpoint + the LSH twin that shares the name
      selfNames = Set("clusters", "qDedupClustersLsh")),
    Frame("simhashFrame (band self-join saturates on the band SPACE)",
      Seq(dedupSrc), "simhashFrame(spark",
      guardEvidence = b => b.contains("simhashPairsCapped(") ||
        b.contains("simhashCap("),
      guardDesc = "the adaptive hot-band cap (simhashCap / " +
        "simhashPairsCapped)",
      boundedOk = Map(
        "q_simhash" -> ("per-doc signature projection — no pairing " +
          "join, output = one row per doc"))),
    Frame("IVF assignment (in-cell self-joins go quadratic per hot cell)",
      Seq(simSrc), "ivfAssigned(spark",
      // ivfSearch IS the capped kernel (csz <= maxBucket inside it,
      // Similarity.scala ivfSearch) — calling it counts as guarded
      guardEvidence = b => b.contains("maxBucket") ||
        b.contains("ivfSearch("),
      guardDesc = "the hot-cell cap (csz <= maxBucket before any " +
        "in-cell pairing, directly or via the ivfSearch kernel)",
      boundedOk = Map(
        "q_ivf_cells" -> ("aggregation-only: one groupBy(cell), output " +
          "= K rows, no pairing — and the balance diagnostic must see " +
          "the uncapped population it reports on"),
        "q_ivf_imbalance" -> ("aggregation-only over the same cell " +
          "histogram — 1 output row, no pairing"),
        "q_cell_purity" -> "groupBy(cell, label) counts — no pairing",
        "q_kmeans_step" -> ("vec_sum refine aggregate — K·d buffers " +
          "cross the exchange, no pairing"))),
    Frame("winnow fingerprints (minima of the SATURATED gram space — " +
      "a fixed df cap spilled past disk at sf100)",
      Seq(dedupSrc), "winnowedM(spark",
      guardEvidence = b => b.contains("winnowCap(") ||
        b.contains("winnowCapped("),
      guardDesc = "the adaptive kept-pair cap ladder (winnowCap / " +
        "winnowCapped)",
      selfNames = Set("winnowedM"),
      allDefs = true),
    Frame("raw bandedSig (uncapped band postings — pairing input)",
      Seq(dedupSrc, bandIdxSrc), "bandedSig(",
      guardEvidence = b => b.contains("BandBucketCap") ||
        b.contains("bandCap("),
      guardDesc = "the band-bucket membership cap (the ADAPTIVE " +
        "bandCap ladder in-session — r12, VERDICT_r11 item 2 — or the " +
        "fixed BandBucketCap at the persisted probe)",
      boundedOk = Map(
        "q_verify_cost" -> ("aggregation-only: the vocab-sized band " +
          "histogram folded per ladder rung — 8 rows out, no pairing; " +
          "this IS the family's pre-flight"),
        "bandCap" -> ("the ladder aggregate itself: one vocab-sized " +
          "groupBy + an 8-sum fold, no pairing"),
        "write" -> ("persists UNCAPPED postings BY DESIGN (v2): no " +
          "pairing happens here — the cap moved to probe time via the " +
          "sizes sidecar so append == rebuild stays exact"),
        "append" -> ("shard-proportional posting/sidecar append, no " +
          "pairing — the probe-time sidecar filter is the guard"),
        "probe" -> ("the ONLY pairing site: joins postings " +
          "left-semi'd to sidecar buckets with df ≤ BandBucketCap — " +
          "pairing ≤ |shard bands| × cap")),
      selfNames = Set("bandedSig"),
      allDefs = true),
    // r15 (ADVICE_r14): the r14 shared frames inherit the guard
    // discipline — a NEW consumer that pairs on the raw hot keys
    // without the stop cap / constant bench side fails here.
    Frame("shared shingle frame dedup:shingles (df attached — pairing " +
      "on sh without the stop cap goes quadratic per hot shingle)",
      Seq(dedupSrc), "shingledM(spark",
      guardEvidence = b => b.contains("dropStopM("),
      guardDesc = "the stop-shingle cap (dropStopM — df ≤ maxShingleDf " +
        "before any sh-keyed pairing)",
      boundedOk = Map(
        "q_pair_join_cost" -> ("aggregation-only pre-flight: the df " +
          "histogram fold that SIZES the exact join — no pairing"),
        "q_ngram_freq" -> "per-shingle df aggregation — no pairing",
        "q_ngram_novelty" -> ("distinct (source, sh) equi-join with " +
          "the one-row-per-sh firsts frame — ≤ one row per (source, " +
          "shingle), never a self-join"),
        "minhashSigPlan" -> ("groupBy(doc_id) signature fold — one row " +
          "per doc, no pairing")),
      selfNames = Set("shingledM"),
      allDefs = true),
    Frame("shared five-gram frame dedup:five_grams (pairing on g " +
      "without a constant-bounded side replays the exact-join killer)",
      Seq(dedupSrc), "fiveGramsM(spark",
      guardEvidence = b => b.contains("benchDocs"),
      guardDesc = "a benchDocs-bounded (constant, broadcast) join side",
      boundedOk = Map(
        "q_dup_ngram_frac" -> ("per-gram df attach — one row per gram " +
          "occurrence, linear, no pair explosion")),
      selfNames = Set("fiveGramsM"),
      allDefs = true),
    Frame("raw positioned shingles (the q_dup_span diagonal join " +
      "input — pairing without the stop cap re-opens the quadratic " +
      "hot-shingle path)",
      Seq(dedupSrc), "shingledPos(spark",
      guardEvidence = b => b.contains("maxShingleDf"),
      guardDesc = "the stop-shingle cap (df ≤ maxShingleDf before the " +
        "sh-keyed self-join)",
      selfNames = Set("shingledPos"),
      allDefs = true),
    Frame("cross-probe verdict frame dedup:cross_probe (shard-linear " +
      "by the BandIndex probe-time hot-bucket cap)",
      Seq(dedupSrc), "crossProbeM(spark",
      guardEvidence = docKeyedOnly("crossProbeM(spark"),
      guardDesc = crossProbeGuard,
      selfNames = Set("crossProbeM"),
      allDefs = true),
    // q_cross_neardup IS the frame, so its consumers are the frame's
    // too — the transitive-consumer omission class of `clusters`
    Frame("cross-probe verdict frame via q_cross_neardup",
      Seq(dedupSrc), "qCrossNeardup(spark",
      guardEvidence = docKeyedOnly("qCrossNeardup(spark"),
      guardDesc = crossProbeGuard,
      selfNames = Set("q_cross_neardup"),
      allDefs = true))

  test("the cross_probe guard is structural: it rejects a cross join, " +
      "a self-join and a join on a non-doc key") {
    val ok = docKeyedOnly("crossProbeM(spark") _
    assert(ok("def qX(spark) = crossProbeM(spark, dir).join(docs, " +
      "Seq(\"base_doc\")).groupBy(\"base_source\")"))
    assert(!ok("def qX(spark) = crossProbeM(spark, dir).crossJoin(docs)"))
    assert(!ok("def qX(spark) = crossProbeM(spark, dir).join(" +
      "crossProbeM(spark, dir), Seq(\"doc_id\"))"))
    assert(!ok("def qX(spark) = crossProbeM(spark, dir).join(docs, " +
      "col(\"n_shared_bands\") === col(\"n\"))"))
  }

  private val registered = SparkEntry.queries.keySet

  for (f <- frames) {
    test(s"every consumer of ${f.name} is guarded or bounded") {
      val blocks = f.files.flatMap(p => defBlocks(read(p)))
      val consumers = blocks.filter { case (name, block) =>
        block.contains(f.anchor) && !f.selfNames.contains(name) &&
          (f.allDefs || registered.contains(name))
      }
      assert(consumers.nonEmpty,
        s"the grep must find the known consumers of ${f.anchor}")
      val offenders = consumers.collect {
        case (name, block) if !f.guardEvidence(block) &&
          !f.boundedOk.contains(name) && !f.routedOk(name) => name
      }
      assert(offenders.isEmpty,
        s"consumers of ${f.name} without a scale guard: $offenders — " +
          s"guard with ${f.guardDesc}, or add to boundedOk WITH the " +
          "boundedness argument")
    }
  }
}
