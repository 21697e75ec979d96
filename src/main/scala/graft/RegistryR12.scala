package graft

import org.apache.spark.sql.functions._

import Registry.t

/** Round-12 widening: ExactSubstr-FULL maximal duplicate-span removal
  * (the published suffix-array dedup semantics — the last missing member
  * of the dedup family), JPEG/EXIF metadata extract + strip (the segment
  * walk where real-world PII metadata actually lives), and the composed
  * BPE-token packing chain (real tokenizer counts feeding the greedy
  * packer — the actual pretraining data-prep shape).
  */
object RegistryR12 {

  def entries: Seq[Q] = Seq(

    // ---- D31: ExactSubstr-FULL — maximal duplicate-span REMOVAL
    //      (llm/Dedup.exactSubstrDedup; Lee et al. 2021 semantics in the
    //      token-window form): every 8-token window at every alignment
    //      is fingerprinted, the globally-first occurrence of each
    //      duplicated window survives, all other occurrences merge into
    //      MAXIMAL per-doc spans (interval union) that are cut before
    //      the text is rebuilt in order — d26 reports the windows, d22
    //      cuts disjoint segments; this composes both into the strongest
    //      published form: a long passage duplicated at ANY alignment
    //      disappears from every copy but the first IN ONE PIECE. The
    //      entire rewrite (window scan, winner election, interval union,
    //      rebuild) replays in DuckDB. ---------------------------------
    Q("d31_exact_substr",
      (s, dir) => graft.llm.Dedup.exactSubstrDedup(
          t(s, dir, "documents"), "text", "doc_id", w = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Some("""WITH words AS (
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
             |spans AS (
             |  SELECT id, g, min(s) AS s, max(e) AS e FROM grp
             |  GROUP BY id, g),
             |cutstats AS (
             |  SELECT id, count(*) AS n_spans, sum(e - s) AS cut_tokens
             |  FROM spans GROUP BY id),
             |tok AS (
             |  SELECT w.id, t.i AS idx, t.tk
             |  FROM words w,
             |    LATERAL (SELECT unnest(w.ws) AS tk,
             |             unnest(range(len(w.ws))) AS i) t),
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
             |ORDER BY doc_id""".stripMargin)),

    // ---- D32: INCREMENTAL ExactSubstr-full (llm/Dedup
    //      .exactSubstrIncremental) — the steady-state form of d31 the
    //      way d12 is of d01: a new batch (doc_id >= 400) is rewritten
    //      against the prior corpus (doc_id < 400) WITHOUT touching it.
    //      A batch window whose fingerprint exists anywhere in the
    //      prior corpus is cut from every batch occurrence (the prior
    //      copy is by definition first); batch-only duplicates get the
    //      d31 first-occurrence election. The prior corpus collapses to
    //      its distinct window digests (at scale: the persisted
    //      window-digest index, probed by one semi + one anti join).
    //      When prior ids precede batch ids this EQUALS the full-corpus
    //      d31 restricted to the batch — spec-pinned. -----------------
    Q("d32_exact_substr_incr",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.llm.Dedup.exactSubstrIncremental(
            docs.filter(col("doc_id") >= 400),
            docs.filter(col("doc_id") < 400),
            "text", "doc_id", w = 8)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH words_b AS (
             |  SELECT doc_id AS id,
             |    string_split(coalesce(text, ''), ' ') AS ws
             |  FROM documents WHERE doc_id >= 400),
             |words_p AS (
             |  SELECT doc_id AS id,
             |    string_split(coalesce(text, ''), ' ') AS ws
             |  FROM documents WHERE doc_id < 400),
             |segs_b AS (
             |  SELECT w.id, t.i AS span_idx,
             |    md5(array_to_string(w.ws[t.i+1:t.i+8], ' ')) AS h
             |  FROM words_b w,
             |    LATERAL (SELECT unnest(range(greatest(
             |      len(w.ws) - 7, 0))) AS i) t),
             |prior_h AS (
             |  SELECT DISTINCT
             |    md5(array_to_string(w.ws[t.i+1:t.i+8], ' ')) AS h
             |  FROM words_p w,
             |    LATERAL (SELECT unnest(range(greatest(
             |      len(w.ws) - 7, 0))) AS i) t),
             |from_prior AS (
             |  SELECT id, span_idx AS s, span_idx + 8 AS e FROM segs_b
             |  WHERE h IN (SELECT h FROM prior_h)),
             |batch_only AS (
             |  SELECT id, span_idx,
             |    row_number() OVER (PARTITION BY h
             |      ORDER BY id, span_idx) AS rn,
             |    count(*) OVER (PARTITION BY h) AS cnt
             |  FROM segs_b WHERE h NOT IN (SELECT h FROM prior_h)),
             |batch_losers AS (
             |  SELECT id, span_idx AS s, span_idx + 8 AS e
             |  FROM batch_only WHERE cnt > 1 AND rn > 1),
             |losers AS (SELECT * FROM from_prior
             |           UNION ALL SELECT * FROM batch_losers),
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
             |spans AS (
             |  SELECT id, g, min(s) AS s, max(e) AS e FROM grp
             |  GROUP BY id, g),
             |cutstats AS (
             |  SELECT id, count(*) AS n_spans, sum(e - s) AS cut_tokens
             |  FROM spans GROUP BY id),
             |tok AS (
             |  SELECT w.id, t.i AS idx, t.tk
             |  FROM words_b w,
             |    LATERAL (SELECT unnest(w.ws) AS tk,
             |             unnest(range(len(w.ws))) AS i) t),
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
             |  CAST(coalesce(c.cut_tokens, 0) AS BIGINT)
             |    AS n_tokens_removed
             |FROM documents d
             |LEFT JOIN agg a ON a.id = d.doc_id
             |LEFT JOIN cutstats c ON c.id = d.doc_id
             |WHERE d.doc_id >= 400
             |ORDER BY doc_id""".stripMargin)),

    // ---- M15: JPEG/EXIF metadata extract + strip THROUGH real marker
    //      and TIFF-IFD arithmetic — m12's compliance pass for the
    //      format where real-world PII metadata actually lives: an
    //      APP1/Exif segment (little-endian TIFF, ASCII artist +
    //      description tags from source columns, inline AND
    //      offset-addressed value layouts both exercised) is planted
    //      after SOI, read back via the FF-marker segment walk + IFD
    //      parse (SOF geometry on the same hash path), and the
    //      APPn/COM strip proven LOSSLESS by md5-comparing
    //      strip(planted) against strip(original) while the planted
    //      byte cost replays analytically (4-octet segment frame +
    //      6-octet Exif header + 8-octet TIFF header + 2 + 12/entry +
    //      4 + out-of-line values only when NUL-terminated length
    //      exceeds the 4-byte inline field). --------------------------
    Q("m15_jpeg_exif",
      (s, dir) => {
        val mm = graft.llm.Multimodal
        val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), col("lang"),
            concat(lit("doc-"), col("doc_id")).as("artist_v"))
        val imgs = mm.withSyntheticJpegs(docs, "doc_id")
        val withCols = imgs.join(docs, imgs("id") === docs("doc_id"))
          .select(col("id"), col("payload"), col("artist_v"), col("lang"))
        val planted = mm.withPlantedExif(withCols, "id", "payload",
          Seq("artist" -> "artist_v", "description" -> "lang"))
        val meta = mm.jpegExif(planted, "id", "payload")
        val sp = mm.stripJpegMeta(planted, "id", "payload")
          .select(col("id"), md5(col("payload")).as("strip_md5"))
        val so = mm.stripJpegMeta(imgs, "id", "payload")
          .select(col("id"), md5(col("payload")).as("orig_md5"),
            col("bytes_saved").as("orig_saved"))
        meta.join(sp, "id").join(so, "id")
          .select(col("id").as("doc_id"), col("tag"), col("value"),
            col("width"), col("height"),
            (col("bytes_saved") - col("orig_saved")).as("planted_bytes"),
            (col("strip_md5") === col("orig_md5")).as("restored"),
            col("corrupt"))
          .orderBy("doc_id", "tag")
      },
      Some("""WITH mj_d AS (
             |  SELECT doc_id, lang,
             |    'doc-' || CAST(doc_id AS VARCHAR) AS artist_v
             |  FROM documents WHERE doc_id < 200),
             |mj_kv AS (
             |  SELECT doc_id, lang, artist_v, 'artist' AS tag,
             |    artist_v AS value FROM mj_d
             |  UNION ALL
             |  SELECT doc_id, lang, artist_v, 'description', lang
             |  FROM mj_d)
             |SELECT doc_id, tag, value,
             |  8 AS width, 8 AS height,
             |  CAST(48
             |    + CASE WHEN strlen(artist_v) + 1 > 4
             |        THEN strlen(artist_v) + 1 ELSE 0 END
             |    + CASE WHEN strlen(lang) + 1 > 4
             |        THEN strlen(lang) + 1 ELSE 0 END
             |    AS BIGINT) AS planted_bytes,
             |  true AS restored, false AS corrupt
             |FROM mj_kv ORDER BY doc_id, tag""".stripMargin)),

    // ---- L17: pack by REAL tokenizer counts — the actual pretraining
    //      data-prep chain, composed from proven members: the corpus is
    //      BPE-encoded (t23's portable fit+encode — merges re-derived
    //      independently on the oracle side) and the greedy per-block
    //      packer fills 512-BPE-token bins from those counts (l06's
    //      fold over packByCount). l06/t09/l07 all count WHITESPACE
    //      tokens; the bins a trainer fills are tokenizer-sized — this
    //      entry closes that gap with the whole chain (training rounds,
    //      per-word encode, counts, greedy walk) on one hash path. ----
    Q("l17_pack_bpe",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 100)
        val merges = graft.llm.Bpe.fit(docs, "text", numMerges = 8,
          maxVocabWords = 200)
        val counts = graft.llm.Bpe
          .encodePortable(docs, "doc_id", "text", merges)
          .select(col("id").as("doc_id"),
            col("n_bpe_tokens").cast("long").as("n_tokens"))
        graft.llm.CorpusPipeline.packByCount(counts,
            capacity = 512, blockSize = 16)
          .select(col("doc_id"), col("block"),
            col("bin").cast("long").as("bin"), col("n_tokens"))
          .orderBy("doc_id")
      },
      oracleL17),

    // ---- M16: JPEG GPS coordinate extraction — the concrete PII the
    //      EXIF family exists to catch (m15 strips the segment; this
    //      reads WHAT it contained, the audit a takedown/compliance
    //      pass needs): GPS coordinates planted as a real GPSInfo IFD
    //      (IFD0 pointer tag 0x8825 → GPS IFD with ref-ASCII +
    //      3-slot RATIONAL lat/lon, denominator 1e6 so micro-degrees
    //      survive exactly), parsed back through the same TIFF walk,
    //      geofence flag + analytic planted-byte cost + strip
    //      losslessness all on the hash path. ------------------------
    Q("m16_jpeg_gps",
      (s, dir) => {
        val mm = graft.llm.Multimodal
        val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"),
            (col("doc_id") * 1003 % 180000000L - 90000000L)
              .as("lat_micro_p"),
            (col("doc_id") * 2017 % 360000000L - 180000000L)
              .as("lon_micro_p"))
        val imgs = mm.withSyntheticJpegs(docs, "doc_id")
        val withCols = imgs.join(docs, imgs("id") === docs("doc_id"))
          .select(col("id"), col("payload"),
            col("lat_micro_p"), col("lon_micro_p"))
        val planted = mm.withPlantedGps(withCols, "id", "payload",
          "lat_micro_p", "lon_micro_p")
        val gps = mm.jpegGps(planted, "id", "payload")
        val sp = mm.stripJpegMeta(planted, "id", "payload")
          .select(col("id"), md5(col("payload")).as("strip_md5"),
            col("bytes_saved"))
        val so = mm.stripJpegMeta(imgs, "id", "payload")
          .select(col("id"), md5(col("payload")).as("orig_md5"),
            col("bytes_saved").as("orig_saved"))
        gps.join(sp, "id").join(so, "id")
          .select(col("id").as("doc_id"),
            col("lat_micro"), col("lon_micro"),
            (abs(col("lat_micro")) < 45000000L &&
              abs(col("lon_micro")) < 90000000L).as("in_bbox"),
            (col("bytes_saved") - col("orig_saved")).as("planted_bytes"),
            (col("strip_md5") === col("orig_md5")).as("restored"),
            col("corrupt"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST((doc_id * 1003) % 180000000 - 90000000 AS BIGINT)
             |    AS lat_micro,
             |  CAST((doc_id * 2017) % 360000000 - 180000000 AS BIGINT)
             |    AS lon_micro,
             |  abs((doc_id * 1003) % 180000000 - 90000000) < 45000000
             |    AND abs((doc_id * 2017) % 360000000 - 180000000)
             |      < 90000000 AS in_bbox,
             |  CAST(138 AS BIGINT) AS planted_bytes,
             |  true AS restored, false AS corrupt
             |FROM documents WHERE doc_id < 200
             |ORDER BY doc_id""".stripMargin)),

    // ---- L18: dedup → tokenize → pack, END TO END — the published
    //      data-prep chain (Lee et al. dedup BEFORE tokenization) as
    //      one composed hash gate: d31's ExactSubstr rewrite cleans the
    //      slice, the BPE tokenizer FITS AND ENCODES on the CLEANED
    //      text (merge sequence re-derived from clean text on the
    //      oracle side — duplicated passages no longer vote in
    //      training), and the greedy packer fills 512-BPE-token bins
    //      from the post-dedup counts. Every stage transition is on
    //      the hash path: a drift anywhere (a span survived, a merge
    //      flipped, a bin seam moved) breaks the gate. ---------------
    Q("l18_dedup_tokenize_pack",
      (s, dir) => {
        val (_, packed) = graft.llm.CorpusPipeline.dedupTokenizePack(
          t(s, dir, "documents").filter(col("doc_id") < 300))
        packed.select(col("doc_id"), col("block"),
            col("bin").cast("long").as("bin"), col("n_tokens"))
          .orderBy("doc_id")
      },
      oracleL18)
  )

  /** l18 oracle: the d31 rewrite CTEs (es_*) feed `clean_docs`, the BPE
    * chain re-derives its merges from the CLEANED text, and the greedy
    * pack walks the BPE counts — three proven oracles composed into one
    * WITH RECURSIVE statement.
    */
  private val oracleL18: Option[String] = Some {
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
       |    ON n.block = p.block AND n.rn = p.rn + 1)
       |SELECT doc_id, block, CAST(bin AS BIGINT) AS bin,
       |  nt AS n_tokens
       |FROM pk_p ORDER BY doc_id""".stripMargin
  }

  private val oracleL17: Option[String] = Some {
        val ctes = graft.llm.Bpe.portableCtes("documents", "doc_id",
          "text", maxDocId = 100L, numMerges = 8, maxVocabWords = 200)
        s"""WITH RECURSIVE ${ctes.mkString(",\n")},
           |bp_counts AS (
           |  SELECT d.id AS doc_id,
           |    CAST(coalesce(sum(len(e.toks)), 0) AS BIGINT) AS nt
           |  FROM bp_d d
           |  LEFT JOIN bp_w0 o ON o.id = d.id
           |  LEFT JOIN bp_enc e ON e.w = o.w
           |  GROUP BY 1),
           |pk_n AS (
           |  SELECT doc_id, doc_id // 16 AS block, nt,
           |    row_number() OVER (PARTITION BY doc_id // 16
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
           |    ON n.block = p.block AND n.rn = p.rn + 1)
           |SELECT doc_id, block, CAST(bin AS BIGINT) AS bin,
           |  nt AS n_tokens
           |FROM pk_p ORDER BY doc_id""".stripMargin
  }
}
