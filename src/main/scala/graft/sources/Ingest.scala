package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Normalize

/** Ingest-side table normalization — the engine-side halves of the
  * reference's HTML/JSON scan operators (S3–S6). The network/browser
  * fetch itself is out-of-engine (SURVEY §7.4); these functions take the
  * captured tables and apply the scan-time semantics.
  */
object Ingest {

  /** X14 — column-name pattern resolution (`scrapers/team_scraper.py:
    * 622-631,773-788`): FBref headers drift across seasons, so each
    * target column binds to the FIRST source column whose name contains
    * the pattern (case-insensitive). Resolution happens at plan time in
    * the driver — zero runtime cost.
    */
  def resolveColumns(df: DataFrame, mapping: Seq[(String, String)])
      : DataFrame = {
    val cols = mapping.flatMap { case (target, pattern) =>
      df.columns.find(_.toLowerCase.contains(pattern.toLowerCase))
        .map(c => col(c).as(target))
    }
    require(cols.nonEmpty, s"no source column matched any of $mapping")
    df.select(cols: _*)
  }

  /** S3 — schedule-table scan: parse the drifted date column and keep the
    * target date (`daily_match_scraper.py:321-429`, filter at `:371-388`).
    */
  def scheduleForDate(df: DataFrame, rawDateCol: String, target: Column)
      : DataFrame =
    df.filter(Normalize.normalizeDate(col(rawDateCol)) === target)

  /** S4 — matchlog scan: resolve drifted headers then drop separator rows
    * (null date) — `scrapers/team_scraper.py:327-400`, row drop `:371-372`
    * (F6).
    */
  def cleanMatchlog(df: DataFrame, mapping: Seq[(String, String)],
                    dateCol: String = "date"): DataFrame =
    resolveColumns(df, mapping).na.drop(Seq(dateCol))

  /** S5 — match-detail stat tables arrive long (one row per stat); pivot
    * to wide with an explicit stat list (one pass, no value-discovery
    * job) — `scrapers/team_scraper.py:461-584`.
    */
  def pivotStats(long: DataFrame, keyCol: String, nameCol: String,
                 valueCol: String, stats: Seq[String]): DataFrame =
    long.groupBy(col(keyCol))
      .pivot(nameCol, stats)
      .agg(max(col(valueCol))) // max: deterministic under duplicate rows

  /** S1/S2 — replay captured SofaScore responses as event rows: the
    * DataSource V2 reader strips the HTTP preamble per file, then
    * `from_json` with the declared nested schema + `explode` yields one
    * row per event (`daily_match_scraper.py:130-319`, extraction paths
    * `:449-527`).
    */
  def readSofaCaptures(spark: org.apache.spark.sql.SparkSession,
                       dir: String): DataFrame = {
    val payload = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("events",
        org.apache.spark.sql.types.ArrayType(graft.model.Tables.sofaEvent))))
    spark.read.format("graft.sources.SofaRawSource").load(dir)
      .select(col("source_file"),
        from_json(col("body"), payload).as("payload"))
      .select(col("source_file"), explode(col("payload.events")).as("event"))
  }

  /** S6 — cache scan with freshness TTL (`scrapers/team_scraper.py:
    * 89-126`, 7-day TTL at `:110`): keep cached entries newer than
    * `asOf - ttlDays`. On parquet this predicate is pushed to the scan
    * (and prunes partitions when the cache is date-partitioned).
    */
  def freshCache(df: DataFrame, cachedAtCol: String, asOf: Column,
                 ttlDays: Int = 7): DataFrame =
    df.filter(col(cachedAtCol) >= date_sub(asOf, ttlDays))

  /** Crawl-grade JSONL ingest: PERMISSIVE parse with a corrupt-record
    * quarantine instead of FAILFAST (one bad line in a 100 TB crawl must
    * not kill the job) or DROPMALFORMED (silently losing lines is how
    * corpora rot). Returns (good rows in the declared schema, quarantine
    * rows carrying the raw line for replay/debugging). One scan feeds
    * both sides; the split is a codegen'd null test on the corrupt
    * column. Caveat pinned in the spec: Spark only populates the corrupt
    * column for lines that are not valid JSON at all — a VALID object
    * missing fields yields nulls, which is schema drift, not corruption,
    * and is left to the caller's null-rate monitoring.
    */
  def readJsonlQuarantine(spark: org.apache.spark.sql.SparkSession,
                          path: String,
                          schema: org.apache.spark.sql.types.StructType)
      : (DataFrame, DataFrame) = {
    val corrupt = "_corrupt_record"
    val withCorrupt = schema.add(corrupt,
      org.apache.spark.sql.types.StringType)
    val raw = spark.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .json(path)
    // The quarantine keeps the (all-null) parsed columns next to
    // raw_line: Spark refuses scans whose only referenced column is the
    // internal corrupt column (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and a
    // quarantine sink wants the full-width row for replay anyway.
    (raw.filter(col(corrupt).isNull).drop(corrupt),
      raw.filter(col(corrupt).isNotNull)
        .withColumnRenamed(corrupt, "raw_line"))
  }

  /** Raw media ingest via Spark's `binaryFile` source — the standard
    * entry for image/audio/video corpora that arrive as FILES rather
    * than parquet-embedded blobs. Emits the multimodal pipeline's
    * payload contract (`id`, `payload`) so `Multimodal.decode*` composes
    * directly: id is a stable 63-bit hash of the RELATIVE path (absolute
    * prefixes differ across clusters; the content-bearing suffix does
    * not). Files over `maxBytes` keep their ROW — (id, rel_path, length,
    * mtime) with a NULL payload — but never their bytes (a 4 GB stray
    * MOV must not OOM an executor mid-scan: `binaryFile` materializes
    * whole files, and its length-predicate pushdown means the oversize
    * branch never opens the file at all). No silent caps: nothing
    * vanishes from the row set; decoders treat the null payload as
    * non-decodable (corrupt-is-data), and callers audit oversize via
    * `payload IS NULL` + `length`. Listing scales: pathGlobFilter prunes
    * at file-listing time, before any read.
    */
  def readBinaryDir(spark: org.apache.spark.sql.SparkSession,
                    dir: String,
                    glob: String = "*",
                    maxBytes: Long = 64L * 1024 * 1024): DataFrame = {
    // compare path COMPONENTS, not raw URIs — the source lists files as
    // scheme-qualified (file:/…, hdfs://…) while callers pass bare dirs
    val basePath = new org.apache.hadoop.fs.Path(dir).toUri.getPath
      .stripSuffix("/")
    val rel = udf { p: String =>
      // URI.create throws on odd-but-legal filenames (literal '%',
      // brackets); fall back to stripping the scheme://authority prefix
      // textually — one strange filename must not kill the whole scan
      // (the module's corrupt-is-data policy applies to paths too).
      val up = (try Option(new java.net.URI(p).getPath) catch {
        case _: java.net.URISyntaxException => None
      }).getOrElse(p.replaceFirst("^[A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?", ""))
      if (up.startsWith(basePath + "/")) up.substring(basePath.length + 1)
      else up
    }
    val base = spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(dir)
      .withColumn("rel_path", rel(col("path")))
    val head = Seq(
      graft.llm.CorpusPipeline.hashUniform("", col("rel_path")).as("id"),
      col("rel_path"), col("length"), col("modificationTime"))
    // small branch reads bytes; oversize branch references only metadata
    // columns, so binaryFile's column pruning never opens those files
    base.filter(col("length") <= maxBytes)
      .select(head :+ col("content").as("payload"): _*)
      .unionByName(base.filter(col("length") > maxBytes)
        .select(head :+ lit(null).cast("binary").as("payload"): _*))
  }
}
