package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scaling-exponent probe for the algorithmically-superlinear family —
  * the measurement BENCH_NOTES.md's "sf1 scaling probe" records: each
  * heavy OPERATOR runs on the same input shape at sf0.1 and at the
  * 10x probe tables (`tools/gen_scale_probe.py`), and this main prints
  * one JSON line per (probe, dir) with wall seconds AND total shuffle
  * records — so the observed exponent separates "CPU got 10x work"
  * (fine) from "the shuffle grew superlinearly" (a plan problem).
  *
  * Probes deliberately run the operators UNBOUNDED (or on a constant
  * FRACTION of the corpus) where the registry entries pin a constant
  * absolute slice: the registry bound is the audit-valve posture, the
  * probe measures how cost grows when the INPUT grows.
  *
  * Usage: runMain graft.ScaleProbe <dir1> <dir2> ...
  */
object ScaleProbe {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Media-chain plant over the whole corpus: 1000 content keys, half
    * the corpus at scale 2 (pixel-doubled / 2x-upsampled renditions).
    */
  private def mediaPlant(d: DataFrame): DataFrame =
    d.select(col("doc_id").cast("long").as("id"),
      (col("doc_id") % 1000).as("key"),
      (col("doc_id") % 2 + 1).cast("int").as("scale"))

  def probes: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // d26 shape: stride-1 window fingerprints over the FULL corpus
    "d26_dup_spans" -> ((s, dir) =>
      graft.llm.Dedup.dupSpans(docs(s, dir), "text", "doc_id", 8, 1)),
    // d31 shape: full ExactSubstr rewrite over the FULL corpus
    "d31_exact_substr" -> ((s, dir) =>
      graft.llm.Dedup.exactSubstrDedup(docs(s, dir), "text", "doc_id", 8)),
    // g03 shape: degree-oriented wedge join over the FULL event stream
    "g03_triangles" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))
      val edges = Registry.events(s, dir)
        .select(col("user_id").as("src"),
          lead(col("user_id"), 1).over(w).as("dst"))
        .filter(col("dst").isNotNull)
      graft.graph.Triangles.count(edges)
    }),
    // d08/d14 shape: gram-index near-dup pairs + connected components on
    // a constant 10% FRACTION (the registry pins 10% of sf0.1 = 500)
    "d08_cc_neardup" -> ((s, dir) => {
      val d = docs(s, dir)
      val maxId = d.count() / 10L
      val slice = d.filter(col("doc_id") < maxId)
      graft.llm.Dedup.connectedComponents(
        slice.select(col("doc_id").as("id")),
        graft.llm.Dedup.exactNgramNearDups(slice, "text", "doc_id", 3, 0.5))
    }),
    // d20 shape: portable MinHash signatures -> banded bucket join on a
    // constant 40% fraction (d20's own fraction at sf0.1)
    "d20_lsh_candidates" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.llm.Dedup.trigramLshCandidates(graft.llm.Dedup.docTrigrams(
        d.filter(col("doc_id") < 2L * d.count() / 5L)))
    }),
    // d06/d08 df-cap VALVE measurement (round-12 probe finding: under
    // the fixed synthetic vocabulary, candidates-per-gram grow linearly
    // with corpus size, so the pair join goes quadratic at the next 10x
    // unless the cap bites). Same 10% slice as d08_cc_neardup, pairs
    // frame only (CC excluded so shuffle records isolate the valve):
    // uncapped vs maxGramDf=8 — the cap is chosen to be a NO-OP at
    // sf0.1 (max gram df there is 7) and to engage exactly where the
    // growth would go quadratic: rows = true pairs found (the
    // conservative-miss accounting), shuffle = the valve's effect.
    "d06_pairs_uncapped" -> ((s, dir) => {
      val d = docs(s, dir)
      val maxId = d.count() / 10L
      graft.llm.Dedup.exactNgramNearDups(
        d.filter(col("doc_id") < maxId), "text", "doc_id", 3, 0.5)
    }),
    "d06_pairs_capped" -> ((s, dir) => {
      val d = docs(s, dir)
      val maxId = d.count() / 10L
      graft.llm.Dedup.exactNgramNearDups(
        d.filter(col("doc_id") < maxId), "text", "doc_id", 3, 0.5,
        maxGramDf = 8)
    }),
    // t30 shape: KN trigram stats fitted AND scored over the FULL
    // corpus — measures the trigram-TYPE table's growth (the design
    // claim: stats tables are type-bounded, so they saturate under a
    // bounded vocabulary while the scored stream grows linearly)
    "t30_kn_trigram" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.llm.TextAnalysis.knTrigramScores(d, d, "doc_id", "text")
    }),
    // d33 shape: digest-index BUILD on 90% (persisted through the real
    // bloom-filtered parquet layout — the write is part of the measured
    // cost) + one batch (10%) rewritten against the PERSISTED index via
    // readDigestIndex, exactly the registry entry's plan (an in-plan
    // digest frame would measure the d32 shape instead and skip the
    // index write + parquet probe that dominate real maintenance)
    "d33_index_rewrite" -> ((s, dir) => {
      val d = docs(s, dir)
      val cut = 9L * d.count() / 10L
      val idx = graft.Registry.scratchDir("probe_d33_idx") + "/digests"
      graft.llm.Dedup.buildDigestIndex(d.filter(col("doc_id") < cut),
        "text", "doc_id", 8, idx, expectedNdv = 10000000L)
      graft.llm.Dedup.exactSubstrWithIndex(
        d.filter(col("doc_id") >= cut),
        graft.llm.Dedup.readDigestIndex(s, idx),
        "text", "doc_id", 8)
    }),
    // t32 shape (round-14): the steady-state LM maintenance step —
    // 90% of the corpus collapses to a persisted KN stats artifact
    // (the one-time build, inside the measurement like d33's index
    // build), a 10% batch's stats fold in by grouped addition, and the
    // batch scores from the folded stats. The claim measured: the fold
    // and scoring shuffle tracks the BATCH and the type-bounded stats
    // tables, never the scored history.
    "t32_kn_fold" -> ((s, dir) => {
      val d = docs(s, dir)
      val cut = 9L * d.count() / 10L
      val ta = graft.llm.TextAnalysis
      val statsDir = graft.Registry.scratchDir("probe_kn_stats") + "/s"
      ta.saveKnStats(
        ta.knStats(d.filter(col("doc_id") < cut), "doc_id", "text"),
        statsDir)
      val folded = ta.mergeKnStats(ta.loadKnStats(s, statsDir),
        ta.knStats(d.filter(col("doc_id") >= cut), "doc_id", "text"))
      ta.knScoreFromStats(d.filter(col("doc_id") >= cut), folded,
        "doc_id", "text")
    }),
    // l07 shape (round-14): the per-source token-budget prefix sum as
    // the GROUPED runningTotal (range partition + per-key broadcast
    // offsets) vs the one-task-per-source window form it replaced —
    // same result set, the window form sorts each source's WHOLE slice
    // in a single task (wall should grow ~linearly with the dominant
    // source; the grouped form's tasks stay bounded by data/parts)
    "l07_budget_grouped" -> ((s, dir) =>
      graft.llm.CorpusPipeline.sampleToTokenBudget(docs(s, dir),
        budget = 100000L)),
    "l07_budget_window" -> ((s, dir) => {
      val d = docs(s, dir)
      val w = Window.partitionBy(col("source"))
        .orderBy(pmod(pmod(col("doc_id"), lit(100000L)) *
          lit(2654435761L), lit(100000L)), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.withColumn("__nt",
          graft.llm.TextAnalysis.tokenCount(col("text")))
        .withColumn("cum_tokens", sum(col("__nt")).over(w))
        .filter(col("cum_tokens") <= 100000L)
        .drop("__nt")
    }),
    // t29 shape: unigram-LM fit (bounded driver EM over the word-freq
    // table) + full-corpus Viterbi encode — the encode pass should be
    // linear and the fit constant (the frequent-word table saturates)
    "t29_unigram_encode" -> ((s, dir) => {
      val d = docs(s, dir)
      val vocab = graft.llm.UnigramLm.fit(d, "text",
        graft.llm.UnigramLm.Params())
      graft.llm.UnigramLm.encode(d, "doc_id", "text", vocab,
        graft.llm.UnigramLm.Params())
    }),
    // The COMPOSED chains, unbounded: each runs the registry entry's
    // own chain body (l22 / m18 / m19) on the whole corpus, so the
    // composed exponent is measured on the code the registry ships —
    // one probe row per chain (wall + shuffle). The claim for the
    // media chains: payloads never shuffle (hashes, widths, envelopes
    // and token counts travel), so shuffle tracks members, not bytes,
    // and CC rounds stay bounded under 10x more clusters.
    "l22_chain" -> ((s, dir) =>
      graft.llm.CorpusPipeline.commonCrawlChain(
        docs(s, dir).withColumn("text", coalesce(col("text"), lit(""))),
        Registry.scratchDir("probe_l22_warc"))),
    "m18_chain" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.llm.Multimodal.multimodalChain(d, mediaPlant(d),
        d.select(col("doc_id").cast("long").as("id"),
          concat(lit("gps-"), col("doc_id")).as("gps_v")),
        Registry.scratchDir("probe_m18_tar"))
    }),
    "m19_chain" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.llm.Multimodal.avChain(d, mediaPlant(d),
        Registry.scratchDir("probe_m19_tar"))
    }),
    // t34/l26 shape: the trained-filter fit+score at scale — 10
    // integer-GD iterations over the cached presence-feature table.
    // Claim measured: iteration cost is linear in the count table
    // (built once, cached), the per-round driver round-trip stays
    // <=257 rows, and scoring is one broadcast join — so wall and
    // shuffle grow ~linearly at a FIXED iteration count.
    "t34_logreg_fit" -> ((s, dir) => {
      val lr = graft.llm.LogReg
      val split = lr.labeledSplit(docs(s, dir), "t34:")
      lr.margins(split.heldout, lr.fit(split.train, iters = 10, lrDen = 4L))
    }),
    // m13-shape media pair VALVE posture (round-16): the real audio
    // decode → envelope digest → pair join, planted with 1000 bounded
    // content classes (~0.09% of the corpus each) plus ONE degenerate
    // key holding 10% of the corpus (the solid-color-thumbnail story).
    // Uncapped, the hot key alone emits C(n/10, 2) pairs — quadratic in
    // corpus size; capped at the production posture (maxGroupSize 128,
    // above every honest cluster at both SFs) the hot key drops WHOLE
    // (conservative miss, the d35 contract) while bounded keys keep
    // their exact pair sets. rows = pairs emitted (the forgone-pairs
    // accounting), shuffle = the valve's effect.
    "m13_pairs_uncapped" -> ((s, dir) => mediaPairs(s, dir, cap = 0)),
    "m13_pairs_capped" -> ((s, dir) => mediaPairs(s, dir, cap = 128)),

    // round-16 batch 2: the shard-audit loop priced at scale — write
    // the corpus's shard files (64 shards), read them back, recompute
    // every manifest statistic and diff. The audit is one scan of the
    // JSONL files + a skinny groupBy; wall and shuffle should grow
    // linearly with the corpus.
    "l27_audit" -> ((s, dir) => {
      val sm = graft.llm.ShardManifest
      val packed = graft.llm.CorpusPipeline.packSequences(
        docs(s, dir), capacity = 120, blockSize = 256)
      val tmp = graft.Registry.scratchDir("probe_l27")
      sm.writeShards(packed, tmp, nShards = 64)
      sm.auditShards(sm.readShards(s, tmp),
        sm.manifest(packed, nShards = 64), nShards = 64)
    }),
    // round-16 batch 2: waterfill over DOMAIN-cardinality sources (997
    // synthetic domains) — the distributed runningTotal path priced at
    // 10x; the corpus shuffles once into the skinny per-source frame.
    "l28_waterfill" -> ((s, dir) => {
      val tc = graft.llm.TextAnalysis.tokenCount(col("text"))
      val bySrc = docs(s, dir)
        .groupBy((col("doc_id") % 997).as("source"))
        .agg(sum(tc).as("mass"))
      graft.llm.CorpusPipeline.waterfillBudget(bySrc, num = 3, den = 5)
    })
  )

  /** The m20 registry shape (synthetic WAVs, real RIFF decode, exact
    * envelope digest, distributed pair self-join) with a skew plant:
    * every 10th doc shares ONE degenerate content key; the rest spread
    * over 1000 bounded classes.
    */
  private def mediaPairs(s: SparkSession, dir: String, cap: Int)
      : DataFrame =
    graft.llm.Multimodal.audioPairs(
      docs(s, dir).select(col("doc_id").cast("long").as("id"),
        when(col("doc_id") % 10 === 0, lit(0L))
          .otherwise(col("doc_id") % 1000 + 1L).as("key"),
        lit(1).as("scale")),
      maxGroupSize = cap)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleProbe <dir1> <dir2> ...")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val shuffleRecords = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null)
          shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    })
    args.foreach { dir =>
      probes.filter { case (n, _) => Bench.selected(n) }
        .foreach { case (name, fn) =>
        CacheScope.harness.release()
        spark.catalog.clearCache()
        shuffleRecords.set(0L)
        val t0 = System.nanoTime()
        // force EVERY output column through Bench.checksum (a bare
        // count() lets Catalyst eliminate cardinality-preserving joins
        // — d31's rebuild join vanished and the probe measured an
        // empty plan; sharing the ONE drive keeps Bench and the probe
        // from drifting, incl. the map/variant to_json routing)
        val (rows, _) = Bench.checksum(fn(spark, dir))
        val sec = (System.nanoTime() - t0) / 1e9
        // listener events drain asynchronously; poll until the counter
        // is stable for two consecutive 200 ms reads (a fixed sleep
        // undercounts nondeterministically on a loaded host —
        // listenerBus.waitUntilEmpty is private[spark], so poll-stable
        // is the public-API equivalent), bounded at 30 s
        var prev = -1L
        var stable = 0
        var waited = 0
        while (stable < 2 && waited < 30000) {
          Thread.sleep(200); waited += 200
          val cur = shuffleRecords.get
          if (cur == prev) stable += 1 else { stable = 0; prev = cur }
        }
        val line =
          f"""{"probe":"$name","dir":"$dir","sec":$sec%.2f,"rows":$rows,"shuffle_records":${shuffleRecords.get}}"""
        println(line)
      }
    }
    spark.stop()
  }
}
