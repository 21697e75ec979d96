package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Registry.t

/** Round-13 widening: the Unigram-LM (SentencePiece-style) tokenizer —
  * the second major tokenizer family a pretraining pipeline trains
  * (BPE landed as t12/t23) — plus the Kneser-Ney trigram LM, the
  * maintained window-digest index for incremental ExactSubstr, and the
  * full prep-DAG / fertility-budget compositions.
  */
object RegistryR13 {

  private val ugParams = graft.llm.UnigramLm.Params()

  def entries: Seq[Q] = Seq(

    // ---- T28: Unigram-LM tokenizer FIT (llm/UnigramLm.fit; Kudo 2018
    //      semantics in the hard-EM form) — the fitted vocabulary
    //      itself on the hash path: substring seeding (chars bypass the
    //      cap), two Viterbi-EM rounds over the weighted word table,
    //      prune by last-round count with chars forced in, add-one
    //      final scores in integer micro-nats. The oracle re-derives
    //      the ENTIRE chain independently (word freqs, seed, two
    //      unrolled DP+backtrace passes, prune), so a drift anywhere in
    //      training breaks the gate — the t23 posture applied to the
    //      second tokenizer family. Spark shape: one tokenize+groupBy
    //      shuffle; EM over the bounded frequent-word table driver-side
    //      (the Bpe.fit posture — a 100 TB corpus still has a
    //      driver-sized frequent-word table). --------------------------
    Q("t28_unigram_fit",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
        val vocab = graft.llm.UnigramLm.fit(docs, "text", ugParams)
        import s.implicits._
        vocab.toDF("piece", "cnt", "score_micronats").orderBy("piece")
      },
      Some(graft.llm.UnigramLm.vocabOracleSql("documents", "doc_id",
        "text", maxDocId = 500L, ugParams))),

    // ---- T29: Unigram-LM ENCODE, portable — fit + maximum-likelihood
    //      segmentation of every document (per-word Viterbi over the
    //      piece lattice, integer micro-nat scores, smallest-split-
    //      point tie-break), reassembled in word order. The oracle runs
    //      a THIRD independent DP pass against its own re-derived
    //      vocabulary, so the gate proves train AND encode end to end.
    //      Encode ships the score map in mapPartitions with a
    //      per-partition word memo (dictionary-cost on Zipf skew). ----
    Q("t29_unigram_portable",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
        val vocab = graft.llm.UnigramLm.fit(docs, "text", ugParams)
        graft.llm.UnigramLm.encode(docs, "doc_id", "text", vocab, ugParams)
          .select(col("id").as("doc_id"), col("n_pieces"),
            concat_ws(" ", col("pieces")).as("pieces_str"))
          .orderBy("doc_id")
      },
      Some(graft.llm.UnigramLm.portableOracleSql("documents", "doc_id",
        "text", maxDocId = 500L, ugParams))),

    // ---- T30: interpolated Kneser-Ney TRIGRAM LM (llm/TextAnalysis
    //      .knTrigramScores) — the published perplexity-filter model
    //      (CCNet thresholds on KN; t19's add-one bigram was the
    //      proxy): trained on doc_id < 400, scored on the HELD-OUT
    //      slice so discount/backoff/OOV-floor paths all genuinely
    //      execute. Every continuation/type count integer-exact from
    //      ONE trigram-type table; each probability one fixed-shape
    //      IEEE expression; ln to 9 dp; DECIMAL per-doc fold. Short
    //      docs (<3 tokens) surface with n_trigrams = 0, NULL score. --
    Q("t30_kn_trigram_lm",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.llm.TextAnalysis.knTrigramScores(
            docs.filter(col("doc_id") < 400),
            docs.filter(col("doc_id") >= 400), "doc_id", "text")
          .withColumnRenamed("id", "doc_id").orderBy("doc_id")
      },
      Some {
        val ctes = graft.llm.TextAnalysis.knOracleCtes("documents",
          "doc_id", "text", "doc_id < 400", "doc_id >= 400")
        s"""WITH ${ctes.mkString(",\n")}
           |SELECT id AS doc_id, n_trigrams, avg_logp
           |FROM kn_out ORDER BY 1""".stripMargin
      }),

    // ---- T31: perplexity buckets RECOMPOSED on the KN trigram model —
    //      t20's per-source tercile recipe (deterministic top-100-by-id
    //      sample, rank thresholds, head/middle/tail verdicts) driven
    //      by published-fidelity scores instead of the add-one-bigram
    //      proxy: train on doc_id < 400, score the WHOLE corpus (so
    //      held-out docs ride backoff), bucket per source. ------------
    Q("t31_kn_perplexity_buckets",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // NB scored is consumed twice (sample chain + final join), but
        // caching it was MEASURED SLOWER (3.0 -> 3.9 s): the cache
        // barrier costs more than exchange-reuse recomputation
        val ta = graft.llm.TextAnalysis
        ta.perplexityBuckets(ta.knTrigramScores(
            docs.filter(col("doc_id") < 400), docs, "doc_id", "text")
          .join(docs.select(col("doc_id").as("id"), col("source")), "id"),
          "n_trigrams")
      },
      Some {
        val ctes = graft.llm.TextAnalysis.knOracleCtes("documents",
          "doc_id", "text", "doc_id < 400", "doc_id >= 0")
        s"""WITH ${ctes.mkString(",\n")},
           |kb_scored AS (
           |  SELECT o.id, d.source, o.n_trigrams, o.avg_logp
           |  FROM kn_out o JOIN documents d ON d.doc_id = o.id),
           |kb_smp AS (
           |  SELECT source, id, avg_logp FROM (
           |    SELECT source, id, avg_logp,
           |      row_number() OVER (PARTITION BY source ORDER BY id)
           |        AS sr
           |    FROM kb_scored WHERE n_trigrams > 0)
           |  WHERE sr <= 100),
           |kb_rk AS (
           |  SELECT source, id, avg_logp,
           |    row_number() OVER (PARTITION BY source
           |                       ORDER BY avg_logp DESC, id) AS r,
           |    count(*) OVER (PARTITION BY source) AS n
           |  FROM kb_smp),
           |kb_th AS (
           |  SELECT a.source, a.avg_logp AS t1, b.avg_logp AS t2
           |  FROM (SELECT source, avg_logp FROM kb_rk
           |        WHERE r = (n + 2) // 3) a
           |  JOIN (SELECT source, avg_logp FROM kb_rk
           |        WHERE r = (2 * n + 2) // 3) b
           |    ON b.source = a.source)
           |SELECT s.id AS doc_id, s.source,
           |  CASE WHEN s.avg_logp IS NULL THEN 'unscored'
           |    WHEN s.avg_logp >= t.t1 THEN 'head'
           |    WHEN s.avg_logp >= t.t2 THEN 'middle'
           |    ELSE 'tail' END AS bucket
           |FROM kb_scored s LEFT JOIN kb_th t ON t.source = s.source
           |ORDER BY doc_id""".stripMargin
      }),

    // ---- D33: ExactSubstr against the MAINTAINED window-digest index —
    //      closes the incremental family (d12/d19/t18/a33 all have a
    //      persisted-index member; d32 re-derived its prior digests per
    //      call): the index is BUILT ONCE from the prior corpus
    //      (distinct digests through the bloom-filtered point-probe
    //      layout — writeBloomFiltered's exact use case), batch 1
    //      rewrites against it with prior TEXT never scanned, the
    //      batch's own digests FOLD IN incrementally (append-only
    //      new-distinct — prior index files never rewrite), and batch 2
    //      rewrites against the UPDATED index. Two-batch chained result
    //      provably equals the from-scratch rewrite restricted to the
    //      batches (ExactSubstrSpec); the oracle replays both batches
    //      from first principles. NB the entry runs eager steps (index
    //      build, batch-1 pin, fold) when invoked — it IS a maintenance
    //      pipeline, not a single plan. -------------------------------
    Q("d33_exact_substr_indexed",
      (s, dir) => {
        val dd = graft.llm.Dedup
        val docs = t(s, dir, "documents")
        val idx = Registry.scratchDir("d33_idx") + "/digests"
        val b1 = docs.filter(col("doc_id") >= 400 && col("doc_id") < 450)
        val b2 = docs.filter(col("doc_id") >= 450)
        dd.buildDigestIndex(docs.filter(col("doc_id") < 400),
          "text", "doc_id", 8, idx, expectedNdv = 100000L)
        // COMMIT batch 1's rewrite before its digests fold in — the
        // production ordering (rewrite lands in the lake, then the
        // index maintains). A cache pin is NOT enough here: the fold's
        // append triggers recacheByPath on the index dir, which blows
        // away any cached plan reading it and silently re-evaluates
        // batch 1 against the post-fold index (= batch 1 dedups
        // against its own digests, emptying every doc).
        val out1 = Registry.scratchDir("d33_out") + "/b1"
        dd.exactSubstrWithIndex(b1, dd.readDigestIndex(s, idx),
            "text", "doc_id", 8)
          .write.mode("overwrite").parquet(out1)
        val r1 = s.read.parquet(out1)
        dd.appendDigests(s, b1, "text", "doc_id", 8, idx,
          expectedNdv = 100000L)
        val r2 = dd.exactSubstrWithIndex(b2, dd.readDigestIndex(s, idx),
          "text", "doc_id", 8)
        r1.unionAll(r2).withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some {
        val c1 = exactSubstrIncrOracle("i1", "doc_id < 400",
          "doc_id >= 400 AND doc_id < 450")
        val c2 = exactSubstrIncrOracle("i2", "doc_id < 450",
          "doc_id >= 450")
        s"""WITH ${(c1 ++ c2).mkString(",\n")}
           |SELECT * FROM (
           |  SELECT * FROM i1res UNION ALL SELECT * FROM i2res)
           |ORDER BY doc_id""".stripMargin
      }),

    // ---- D34: ExactSubstr with the CHAR-threshold fidelity knob —
    //      Lee et al. dedup at >=50 CHARACTERS; d31's w=8 token windows
    //      approximate it, so short incidental 8-word collisions could
    //      cut where the published threshold would not. minSpanChars
    //      post-filters the MERGED spans by character length (token
    //      lengths + single-space gaps — one array-slice fold over the
    //      bounded span frame): at threshold 200 this corpus keeps 8 of
    //      24 merged spans that d31 cuts. --------------------------
    Q("d34_exact_substr_chars",
      (s, dir) => graft.llm.Dedup.exactSubstrDedup(
          t(s, dir, "documents"), "text", "doc_id", w = 8,
          minSpanChars = 200L)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Some(exactSubstrCharsOracle(minSpanChars = 200L))),

    // ---- L19: the FULL prep DAG — l18 stops at packing; the
    //      production chain ends with training-order layout. One hash
    //      gate over: ExactSubstr dedup (d31) → BPE fit+encode on the
    //      CLEANED text (t23) → 512-BPE-token packing (l17) →
    //      curriculum phase on the cleaned text (l11's integer gates,
    //      bin phase = min over its docs — conservative curriculum) →
    //      deterministic shuffle key per bin (o08's 60-bit md5 recipe).
    //      The training order is EMITTED AS SORT KEYS (bin_phase desc,
    //      pri) — the l11 posture: range-sort file layout at 100 TB,
    //      no global row_number window. An ordering bug anywhere
    //      (phase inversion, seed drift, moved bin seam) breaks this
    //      single entry. ---------------------------------------------
    Q("l19_full_prep_dag",
      (s, dir) => {
        val (clean, packed) = graft.llm.CorpusPipeline.dedupTokenizePack(
          t(s, dir, "documents").filter(col("doc_id") < 300))
        val phase = clean.select(col("doc_id"),
          graft.llm.TextAnalysis.qualityPhase(col("text")).as("phase"))
        val binPhase = packed.join(phase, "doc_id")
          .groupBy("block", "bin")
          .agg(min(col("phase")).as("bin_phase"))
          .withColumn("pri", graft.llm.CorpusPipeline.hashUniform("",
            concat(col("block").cast("string"), lit(":"),
              col("bin").cast("string"))))
        packed.join(phase, "doc_id")
          .join(binPhase, Seq("block", "bin"))
          .select(col("doc_id"), col("block"),
            col("bin").cast("long").as("bin"), col("n_tokens"),
            col("phase"), col("bin_phase"), col("pri"))
          .orderBy("doc_id")
      },
      oracleL19),

    // ---- L20: fertility-DRIVEN per-language token budgets — t24
    //      measures fertility, l07 takes budgets as constants; a
    //      multilingual mix derives them: equal CHARACTER allowance
    //      per language (20,000 chars) converts to a TOKEN budget via
    //      the language's measured words-per-char ratio —
    //      budget_tokens = (20000 · words_lang) div chars_lang, exact
    //      BIGINT from t24's integer sums — then l07's hash-ordered
    //      running-sum prefix keeps each language inside ITS budget.
    //      Token-cheap (low-fertility) languages keep more docs for
    //      the same information allowance — the published
    //      multilingual-mix correction. ------------------------------
    Q("l20_fertility_budget",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // NULL text behaves as empty on BOTH engines (nt = 0, not the
        // legacy size(NULL) = -1 that would poison the running sum
        // while DuckDB's NULL silently drops out of its window)
        val wordsE = expr(
          "filter(split(trim(coalesce(text, '')), '\\\\s+'), " +
            "x -> length(x) > 0)")
        val base = docs.select(col("doc_id"), col("lang"),
          size(wordsE).cast("long").as("nt"),
          length(regexp_replace(coalesce(col("text"), lit("")),
            "\\s+", "")).cast("long").as("nc"))
        val bud = base.filter(col("nt") > 0)
          .groupBy("lang")
          .agg(sum("nt").as("words"), sum("nc").as("chars"))
          .filter(col("chars") > 0)
          .select(col("lang"),
            expr("CAST((20000 * words) div chars AS BIGINT)")
              .as("budget_tokens"))
        // grouped runningTotal, NOT Window.partitionBy(lang): a window
        // would sort the dominant language's whole slice in one task.
        // The id reduces mod 100000 BEFORE the multiply (same modular
        // value; keeps the product inside BIGINT at any id range so
        // non-ANSI wrap vs DuckDB overflow-error never diverges).
        val cum = graft.etl.Ids.runningTotalByKey(
          base.withColumn("__k",
            pmod(pmod(col("doc_id"), lit(100000L)) * lit(2654435761L),
              lit(100000L))),
          Seq("lang"), Seq(col("__k"), col("doc_id")), col("nt"),
          totalName = "cum_tokens")
        cum.join(broadcast(bud), "lang")
          .filter(col("cum_tokens") <= col("budget_tokens"))
          .select(col("doc_id"), col("lang"), col("nt").as("n_tokens"),
            col("cum_tokens"), col("budget_tokens"))
          .orderBy("doc_id")
      },
      Some("""WITH fb_n AS (
             |  SELECT doc_id, lang,
             |    CAST(len(list_filter(string_split_regex(
             |      trim(coalesce(text, '')), '\s+'),
             |      x -> strlen(x) > 0)) AS BIGINT) AS nt,
             |    CAST(strlen(regexp_replace(coalesce(text, ''),
             |      '\s+', '', 'g')) AS BIGINT) AS nc
             |  FROM documents),
             |fb_bud AS (
             |  SELECT lang,
             |    CAST((20000 * sum(nt)) // sum(nc) AS BIGINT)
             |      AS budget_tokens
             |  FROM fb_n WHERE nt > 0
             |  GROUP BY lang HAVING sum(nc) > 0),
             |fb_cum AS (
             |  SELECT doc_id, lang, nt,
             |    CAST(sum(nt) OVER (PARTITION BY lang
             |      ORDER BY (doc_id % 100000) * 2654435761 % 100000, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum_tokens
             |  FROM fb_n)
             |SELECT c.doc_id, c.lang, c.nt AS n_tokens, c.cum_tokens,
             |  b.budget_tokens
             |FROM fb_cum c JOIN fb_bud b ON b.lang = c.lang
             |WHERE c.cum_tokens <= b.budget_tokens
             |ORDER BY doc_id""".stripMargin)),

    // ---- L21: pack by UNIGRAM-LM token counts — the l17 chain through
    //      the SECOND tokenizer family: the packer's bins are
    //      tokenizer-sized whichever tokenizer the pipeline trains, so
    //      the greedy per-block fold composes with the unigram encode
    //      exactly as with BPE (t28/t29's fit + Viterbi feeding
    //      packByCount). The oracle re-derives the entire tokenizer
    //      (seed, EM rounds, prune, encode DP) AND replays the
    //      recursive greedy pack on its counts in one statement. ------
    Q("l21_pack_unigram",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 100)
        val vocab = graft.llm.UnigramLm.fit(docs, "text", ugParams)
        val counts = graft.llm.UnigramLm
          .encode(docs, "doc_id", "text", vocab, ugParams)
          .select(col("id").as("doc_id"),
            col("n_pieces").cast("long").as("n_tokens"))
        graft.llm.CorpusPipeline.packByCount(counts,
            capacity = 512, blockSize = 16)
          .select(col("doc_id"), col("block"),
            col("bin").cast("long").as("bin"), col("n_tokens"))
          .orderBy("doc_id")
      },
      Some {
        val ctes = graft.llm.UnigramLm.encodeCtes("documents", "doc_id",
          "text", maxDocId = 100L, ugParams)
        s"""WITH RECURSIVE ${ctes.mkString(",\n")},
           |ug_counts AS (
           |  SELECT d.id AS doc_id,
           |    CAST(coalesce(sum(e.np), 0) AS BIGINT) AS nt
           |  FROM ug_d d
           |  LEFT JOIN ug_w0 o ON o.id = d.id
           |  LEFT JOIN ug_enc e ON e.w = o.w
           |  GROUP BY 1),
           |pk_n AS (
           |  SELECT doc_id, doc_id // 16 AS block, nt,
           |    row_number() OVER (PARTITION BY doc_id // 16
           |      ORDER BY doc_id) AS rn
           |  FROM ug_counts),
           |pk_p AS (
           |  SELECT doc_id, block, nt, rn, 0 AS bin, nt AS bt
           |  FROM pk_n WHERE rn = 1
           |  UNION ALL
           |  SELECT n.doc_id, n.block, n.nt, n.rn,
           |    CASE WHEN p.bt = 0 OR p.bt + n.nt <= 512
           |      THEN p.bin ELSE p.bin + 1 END,
           |    CASE WHEN p.bt = 0 OR p.bt + n.nt <= 512
           |      THEN p.bt + n.nt ELSE n.nt END
           |  FROM pk_p p JOIN pk_n n
           |    ON n.block = p.block AND n.rn = p.rn + 1)
           |SELECT doc_id, block, CAST(bin AS BIGINT) AS bin,
           |  nt AS n_tokens
           |FROM pk_p ORDER BY doc_id""".stripMargin
      })
  )

  /** l19 oracle: the l18 chain (d31 rewrite → BPE from clean text →
    * greedy pack) extended with the curriculum phase on the cleaned
    * text and the per-bin deterministic shuffle key — the whole
    * training-layout DAG in one replay.
    */
  private val oracleL19: Option[String] = Some {
    val bpe = graft.llm.Bpe.portableCtes("clean_docs", "doc_id",
      "text", maxDocId = 300L, numMerges = 8, maxVocabWords = 200)
    s"""WITH RECURSIVE es_words AS (
       |  SELECT doc_id AS id,
       |    string_split(coalesce(text, ''), ' ') AS ws
       |  FROM documents WHERE doc_id < 300),
       |es_segs AS (
       |  SELECT w.id, t.i AS span_idx,
       |    md5(array_to_string(w.ws[t.i+1:t.i+8], ' ')) AS h
       |  FROM es_words w,
       |    LATERAL (SELECT unnest(range(greatest(
       |      len(w.ws) - 7, 0))) AS i) t),
       |es_occ AS (
       |  SELECT id, span_idx,
       |    row_number() OVER (PARTITION BY h ORDER BY id, span_idx) AS rn,
       |    count(*) OVER (PARTITION BY h) AS cnt
       |  FROM es_segs),
       |es_losers AS (
       |  SELECT id, span_idx AS s, span_idx + 8 AS e
       |  FROM es_occ WHERE cnt > 1 AND rn > 1),
       |es_isl AS (
       |  SELECT id, s, e,
       |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY id
       |        ORDER BY s, e
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |      THEN 1 ELSE 0 END AS brk
       |  FROM es_losers),
       |es_grp AS (
       |  SELECT id, s, e,
       |    sum(brk) OVER (PARTITION BY id ORDER BY s, e
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
       |  FROM es_isl),
       |es_spans AS (
       |  SELECT id, g, min(s) AS s, max(e) AS e FROM es_grp
       |  GROUP BY id, g),
       |es_tok AS (
       |  SELECT w.id, t.i AS idx, t.tk
       |  FROM es_words w,
       |    LATERAL (SELECT unnest(w.ws) AS tk,
       |             unnest(range(len(w.ws))) AS i) t),
       |es_kept AS (
       |  SELECT es_tok.id, es_tok.idx, es_tok.tk
       |  FROM es_tok LEFT JOIN es_spans sp
       |    ON sp.id = es_tok.id AND es_tok.idx >= sp.s
       |      AND es_tok.idx < sp.e
       |  WHERE sp.id IS NULL),
       |es_agg AS (
       |  SELECT id, string_agg(tk, ' ' ORDER BY idx) AS clean_text
       |  FROM es_kept GROUP BY id),
       |clean_docs AS (
       |  SELECT w.id AS doc_id, coalesce(a.clean_text, '') AS text
       |  FROM es_words w LEFT JOIN es_agg a ON a.id = w.id),
       |${bpe.mkString(",\n")},
       |bp_counts AS (
       |  SELECT d.id AS doc_id,
       |    CAST(coalesce(sum(len(e.toks)), 0) AS BIGINT) AS nt
       |  FROM bp_d d
       |  LEFT JOIN bp_w0 o ON o.id = d.id
       |  LEFT JOIN bp_enc e ON e.w = o.w
       |  GROUP BY 1),
       |pk_n AS (
       |  SELECT doc_id, doc_id // 32 AS block, nt,
       |    row_number() OVER (PARTITION BY doc_id // 32
       |      ORDER BY doc_id) AS rn
       |  FROM bp_counts),
       |pk_p AS (
       |  SELECT doc_id, block, nt, rn, 0 AS bin, nt AS bt
       |  FROM pk_n WHERE rn = 1
       |  UNION ALL
       |  SELECT n.doc_id, n.block, n.nt, n.rn,
       |    CASE WHEN p.bt = 0 OR p.bt + n.nt <= 512
       |      THEN p.bin ELSE p.bin + 1 END,
       |    CASE WHEN p.bt = 0 OR p.bt + n.nt <= 512
       |      THEN p.bt + n.nt ELSE n.nt END
       |  FROM pk_p p JOIN pk_n n
       |    ON n.block = p.block AND n.rn = p.rn + 1),
       |ph AS (
       |  SELECT doc_id,
       |    CAST(CAST(n BETWEEN 10 AND 100000 AS INT)
       |      + CAST(nsw / greatest(n, 1) >= 0.01 AS INT)
       |      + CAST(npunct / greatest(nchars, 1) <= 0.2 AS INT) AS INT)
       |      AS phase
       |  FROM (
       |    SELECT doc_id,
       |      CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
       |        x -> strlen(x) > 0)) AS BIGINT) AS n,
       |      CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
       |        AS BIGINT) AS npunct,
       |      CAST(strlen(text) AS BIGINT) AS nchars,
       |      CAST(len(list_filter(
       |        string_split_regex(trim(lower(text)), '\\s+'),
       |        x -> x IN ('the','a','an','and','or','of','to','in',
       |                   'is','it'))) AS BIGINT) AS nsw
       |    FROM clean_docs)),
       |binph AS (
       |  SELECT p.block, p.bin, min(ph.phase) AS bin_phase
       |  FROM pk_p p JOIN ph ON ph.doc_id = p.doc_id
       |  GROUP BY 1, 2),
       |binkey AS (
       |  SELECT block, bin, bin_phase,
       |    CAST(concat('0x', substr(md5(CAST(block AS VARCHAR) || ':'
       |      || CAST(bin AS VARCHAR)), 1, 15)) AS BIGINT) AS pri
       |  FROM binph)
       |SELECT k.doc_id, k.block, CAST(k.bin AS BIGINT) AS bin,
       |  k.nt AS n_tokens, ph.phase, b.bin_phase, b.pri
       |FROM pk_p k
       |JOIN ph ON ph.doc_id = k.doc_id
       |JOIN binkey b ON b.block = k.block AND b.bin = k.bin
       |ORDER BY 1""".stripMargin
  }

  /** The d32-shape incremental-ExactSubstr DuckDB replay, prefix-
    * parameterized so d33 chains two batches in one statement. Emits
    * CTEs ending in `{p}res(doc_id, clean_text, n_spans_cut,
    * n_tokens_removed)`.
    */
  private def exactSubstrIncrOracle(p: String, priorPred: String,
                                    batchPred: String): Seq[String] = Seq(
    s"""${p}words_b AS (
       |  SELECT doc_id AS id,
       |    string_split(coalesce(text, ''), ' ') AS ws
       |  FROM documents WHERE $batchPred)""".stripMargin,
    s"""${p}words_p AS (
       |  SELECT doc_id AS id,
       |    string_split(coalesce(text, ''), ' ') AS ws
       |  FROM documents WHERE $priorPred)""".stripMargin,
    s"""${p}segs_b AS (
       |  SELECT w.id, t.i AS span_idx,
       |    md5(array_to_string(w.ws[t.i+1:t.i+8], ' ')) AS h
       |  FROM ${p}words_b w,
       |    LATERAL (SELECT unnest(range(greatest(
       |      len(w.ws) - 7, 0))) AS i) t)""".stripMargin,
    s"""${p}prior_h AS (
       |  SELECT DISTINCT
       |    md5(array_to_string(w.ws[t.i+1:t.i+8], ' ')) AS h
       |  FROM ${p}words_p w,
       |    LATERAL (SELECT unnest(range(greatest(
       |      len(w.ws) - 7, 0))) AS i) t)""".stripMargin,
    s"""${p}from_prior AS (
       |  SELECT id, span_idx AS s, span_idx + 8 AS e FROM ${p}segs_b
       |  WHERE h IN (SELECT h FROM ${p}prior_h))""".stripMargin,
    s"""${p}batch_only AS (
       |  SELECT id, span_idx,
       |    row_number() OVER (PARTITION BY h
       |      ORDER BY id, span_idx) AS rn,
       |    count(*) OVER (PARTITION BY h) AS cnt
       |  FROM ${p}segs_b
       |  WHERE h NOT IN (SELECT h FROM ${p}prior_h))""".stripMargin,
    s"""${p}losers AS (
       |  SELECT * FROM ${p}from_prior
       |  UNION ALL
       |  SELECT id, span_idx AS s, span_idx + 8 AS e
       |  FROM ${p}batch_only WHERE cnt > 1 AND rn > 1)""".stripMargin,
    s"""${p}isl AS (
       |  SELECT id, s, e,
       |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY id
       |        ORDER BY s, e
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |      THEN 1 ELSE 0 END AS brk
       |  FROM ${p}losers)""".stripMargin,
    s"""${p}grp AS (
       |  SELECT id, s, e,
       |    sum(brk) OVER (PARTITION BY id ORDER BY s, e
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
       |  FROM ${p}isl)""".stripMargin,
    s"""${p}spans AS (
       |  SELECT id, g, min(s) AS s, max(e) AS e FROM ${p}grp
       |  GROUP BY id, g)""".stripMargin,
    s"""${p}cutstats AS (
       |  SELECT id, count(*) AS n_spans, sum(e - s) AS cut_tokens
       |  FROM ${p}spans GROUP BY id)""".stripMargin,
    s"""${p}tok AS (
       |  SELECT w.id, t.i AS idx, t.tk
       |  FROM ${p}words_b w,
       |    LATERAL (SELECT unnest(w.ws) AS tk,
       |             unnest(range(len(w.ws))) AS i) t)""".stripMargin,
    s"""${p}kept AS (
       |  SELECT k.id, k.idx, k.tk
       |  FROM ${p}tok k LEFT JOIN ${p}spans sp
       |    ON sp.id = k.id AND k.idx >= sp.s AND k.idx < sp.e
       |  WHERE sp.id IS NULL)""".stripMargin,
    s"""${p}agg AS (
       |  SELECT id, string_agg(tk, ' ' ORDER BY idx) AS clean_text
       |  FROM ${p}kept GROUP BY id)""".stripMargin,
    s"""${p}res AS (
       |  SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
       |    CAST(coalesce(c.n_spans, 0) AS BIGINT) AS n_spans_cut,
       |    CAST(coalesce(c.cut_tokens, 0) AS BIGINT)
       |      AS n_tokens_removed
       |  FROM documents d
       |  LEFT JOIN ${p}agg a ON a.id = d.doc_id
       |  LEFT JOIN ${p}cutstats c ON c.id = d.doc_id
       |  WHERE $batchPred)""".stripMargin)

  /** d31's full-corpus replay with the minSpanChars post-filter on the
    * merged spans (char length = token lengths + single-space gaps).
    */
  private def exactSubstrCharsOracle(minSpanChars: Long): String =
    s"""WITH words AS (
       |  SELECT doc_id AS id,
       |    string_split(coalesce(text, ''), ' ') AS ws
       |  FROM documents),
       |segs AS (
       |  SELECT w.id, t.i AS span_idx,
       |    md5(array_to_string(w.ws[t.i+1:t.i+8], ' ')) AS h
       |  FROM words w,
       |    LATERAL (SELECT unnest(range(greatest(
       |      len(w.ws) - 7, 0))) AS i) t),
       |occ AS (
       |  SELECT id, span_idx,
       |    row_number() OVER (PARTITION BY h
       |      ORDER BY id, span_idx) AS rn,
       |    count(*) OVER (PARTITION BY h) AS cnt
       |  FROM segs),
       |losers AS (
       |  SELECT id, span_idx AS s, span_idx + 8 AS e
       |  FROM occ WHERE cnt > 1 AND rn > 1),
       |isl AS (
       |  SELECT id, s, e,
       |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY id
       |        ORDER BY s, e
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |      THEN 1 ELSE 0 END AS brk
       |  FROM losers),
       |grp AS (
       |  SELECT id, s, e,
       |    sum(brk) OVER (PARTITION BY id ORDER BY s, e
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
       |  FROM isl),
       |merged AS (
       |  SELECT id, g, min(s) AS s, max(e) AS e FROM grp
       |  GROUP BY id, g),
       |tok AS (
       |  SELECT w.id, t.i AS idx, t.tk
       |  FROM words w,
       |    LATERAL (SELECT unnest(w.ws) AS tk,
       |             unnest(range(len(w.ws))) AS i) t),
       |spans AS (
       |  SELECT m.id, m.s, m.e
       |  FROM merged m JOIN tok t
       |    ON t.id = m.id AND t.idx >= m.s AND t.idx < m.e
       |  GROUP BY m.id, m.s, m.e
       |  HAVING sum(strlen(t.tk)) + (m.e - m.s - 1) >= $minSpanChars),
       |cutstats AS (
       |  SELECT id, count(*) AS n_spans, sum(e - s) AS cut_tokens
       |  FROM spans GROUP BY id),
       |kept AS (
       |  SELECT tok.id, tok.idx, tok.tk
       |  FROM tok LEFT JOIN spans sp
       |    ON sp.id = tok.id AND tok.idx >= sp.s AND tok.idx < sp.e
       |  WHERE sp.id IS NULL),
       |agg AS (
       |  SELECT id, string_agg(tk, ' ' ORDER BY idx) AS clean_text
       |  FROM kept GROUP BY id)
       |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
       |  CAST(coalesce(c.n_spans, 0) AS BIGINT) AS n_spans_cut,
       |  CAST(coalesce(c.cut_tokens, 0) AS BIGINT) AS n_tokens_removed
       |FROM documents d
       |LEFT JOIN agg a ON a.id = d.doc_id
       |LEFT JOIN cutstats c ON c.id = d.doc_id
       |ORDER BY doc_id""".stripMargin
}
