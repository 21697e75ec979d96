package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

/** Mergeable-sketch store — the pre-aggregation pattern that makes
  * "distinct users per X" answerable at 100 TB without re-reading
  * history. The raw corpus is scanned ONCE to materialize per-fine-grain
  * HLL sketches (a few KB per group); every coarser rollup afterwards is
  * a register-wise union over the sketch table — seconds over KBs
  * instead of hours over the corpus, and yesterday's sketches never
  * recompute. This works because Datasketches HLL state is a per-register
  * max: order-, partition- and merge-shape-independent, so
  * union(sketch(day1), sketch(day2)) has EXACTLY the registers of
  * sketch(day1 ∪ day2) at equal lgK — an equality `SketchStoreSpec`
  * asserts bit-for-bit, not approximately.
  *
  * Count-Min is the frequency-side counterpart: one (eps, confidence)
  * sketch answers "how often did item x occur" for ANY x with
  * one-sided error (never an undercount, overshoot ≤ eps·N with
  * probability ≥ confidence), in O(1/eps · ln(1/conf)) bytes total.
  *
  * Reference counterpart: `examples/visualize_data.py` recomputes
  * distinct-team counts from raw CSVs every run — this is that query
  * made incremental.
  */
object SketchStore {

  /** Materialize the fine-grained sketch table: one HLL sketch of
    * `itemCol` per group. The ONLY pass over raw data; one shuffle on
    * the group key carrying partial sketches (map-side combined).
    */
  def distinctSketches(df: DataFrame, groupCols: Seq[String],
                      itemCol: String, lgK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(itemCol), lgK).as("sketch"))

  /** Roll the sketch table up to a coarser grain (any subset of the
    * sketch table's group columns, or none for a global count):
    * register-wise union + estimate. Touches only sketch bytes.
    */
  def rollupDistinct(sketches: DataFrame, groupCols: Seq[String]): DataFrame = {
    val est = round(hll_sketch_estimate(hll_union_agg(col("sketch"))))
      .cast("long").as("approx_distinct")
    if (groupCols.isEmpty) sketches.agg(est)
    else sketches.groupBy(groupCols.map(col): _*).agg(est)
  }

  /** EXACT counterpart of [[distinctSketches]]: ids partition into
    * 32k-id buckets, each group holds one ≤4 KB bitmap per touched
    * bucket. Same mergeable-store shape as HLL but exact — rollups OR
    * the bitmaps and sum popcounts, and yesterday's bitmaps never
    * recompute.
    */
  def bitmapTable(df: DataFrame, groupCols: Seq[String],
                  itemCol: String): DataFrame =
    df.select(groupCols.map(col) :+
        bitmap_bucket_number(col(itemCol)).as("bucket") :+
        bitmap_bit_position(col(itemCol)).as("pos"): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(bitmap_construct_agg(col("pos")).as("bmp"))

  /** Roll a bitmap table (or a union of bitmap tables — the incremental
    * path) up to a coarser grain: OR per bucket, popcount, sum.
    */
  def bitmapRollup(bitmaps: DataFrame, groupCols: Seq[String]): DataFrame = {
    val ored = bitmaps
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(bitmap_or_agg(col("bmp")).as("bmp"))
    val cnt = sum(bitmap_count(col("bmp"))).cast("long")
      .as("distinct_items")
    if (groupCols.isEmpty) ored.agg(cnt)
    else ored.groupBy(groupCols.map(col): _*).agg(cnt)
  }

  /** Build a Count-Min frequency sketch of `itemCol` (as string) with the
    * given error bound. Distributed agg; the returned sketch is a few KB
    * regardless of data size. Fixed seed → deterministic estimates.
    */
  def cmBuild(df: DataFrame, itemCol: String, eps: Double = 0.001,
              confidence: Double = 0.99, seed: Int = 42): CountMinSketch =
    df.select(col(itemCol).cast("string").as("item"))
      .stat.countMinSketch("item", eps, confidence, seed)

  /** Probe the sketch for each row of `items`: (item, est). The sketch
    * broadcasts once and deserializes once per PARTITION, never per row —
    * the membership/frequency-probe shape that replaces a join against
    * the full frequency table.
    */
  def cmProbe(items: DataFrame, itemCol: String,
              sketch: CountMinSketch): DataFrame = {
    val spark = items.sparkSession
    import spark.implicits._
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      sketch.writeTo(bos)
      bos.toByteArray
    }
    val bc = spark.sparkContext.broadcast(bytes)
    items.select(col(itemCol).cast("string")).as[String]
      .mapPartitions { it =>
        val cm = CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(bc.value))
        it.map(s => (s, cm.estimateCount(s)))
      }.toDF("item", "est_cnt")
  }

  // ------------------------------------------------- portable twins

  /** PORTABLE HLL — the hash-verified audit twin of
    * [[distinctSketches]] (the d23/d24 pattern applied to sketches):
    * the same HyperLogLog register algebra, but built from md5-derived
    * 60-bit integer hashes and `bin()`-string bit-length arithmetic so
    * EVERY register, the integer Z-sum, and the final estimate replay
    * bit-for-bit in DuckDB. Precision p=9 (m=512 buckets); rho comes
    * from `52 - length(bin(rest))` (binary string length IS
    * floor(log2)+1, exactly, in both engines; rest=0 => 52); the
    * harmonic sum is kept in EXACT INTEGER space as
    * sum(2^(52-r)) + empty·2^52 (<= 2^61, no float order-dependence),
    * and only the final alpha·m²·2^52/zsum division (plus the standard
    * linear-counting small-range correction) runs in doubles — one
    * fixed IEEE shape, rounded to 6 dp to absorb last-ulp ln()
    * differences. Registers stay a per-bucket MAX, so partials merge
    * map-side and rollups union losslessly, same as the native path.
    *
    * Returns one row per group: (groupCols..., exact-free columns
    * buckets_used, zsum, approx_distinct).
    */
  def portableHllDistinct(df: DataFrame, groupCols: Seq[String],
                          itemCol: String): DataFrame = {
    val withB = df
      .withColumn("__h",
        graft.llm.CorpusPipeline.hashUniform("hll:", col(itemCol)))
      // integer div/mod only: __h is up to 2^60, beyond double's 53-bit
      // mantissa — a float division here would corrupt buckets
      .withColumn("__b", expr("__h % 512"))
      .withColumn("__rest", expr("__h div 512"))
    val reg = withB
      .withColumn("__rho", expr(
        "CASE WHEN __rest = 0 THEN 52 " +
          "ELSE 52 - length(bin(__rest)) END"))
      .groupBy((groupCols.map(col) :+ col("__b")): _*)
      .agg(max(col("__rho")).as("r"))
    reg.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("buckets_used"),
        sum(expr("CAST(round(pow(2, 52 - r)) AS BIGINT)")).as("used_sum"))
      .withColumn("zsum", expr(
        "used_sum + (512 - buckets_used) * 4503599627370496"))
      .withColumn("__raw", expr(
        "(0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0 * " +
          "4503599627370496.0 / CAST(zsum AS DOUBLE)"))
      .withColumn("approx_distinct", expr(
        "round(CASE WHEN __raw <= 1280.0 AND buckets_used < 512 " +
          "THEN 512.0 * ln(512.0 / CAST(512 - buckets_used AS DOUBLE)) " +
          "ELSE __raw END, 6)"))
      .drop("used_sum", "__raw")
  }

  /** DuckDB replay of [[portableHllDistinct]] as a CTE chain over
    * `srcSql` (must yield the group columns and `itemCol`): defines
    * `ph_reg` and `ph_est(groupCols..., buckets_used, zsum,
    * approx_distinct)`. Splice into a `WITH`.
    */
  def portableHllOracleSql(srcSql: String, groupCols: Seq[String],
                           itemCol: String): String = {
    val g = groupCols.mkString(", ")
    s"""ph_h AS (
       |  SELECT $g,
       |    CAST(concat('0x', substr(md5(concat('hll:',
       |      CAST($itemCol AS VARCHAR))), 1, 15)) AS BIGINT) AS h
       |  FROM ($srcSql)),
       |ph_reg AS (
       |  SELECT $g, h % 512 AS b,
       |    max(CASE WHEN h // 512 = 0 THEN 52
       |        ELSE 52 - length(bin(h // 512)) END) AS r
       |  FROM ph_h GROUP BY ALL),
       |ph_est AS (
       |  SELECT $g, buckets_used, zsum,
       |    round(CASE WHEN raw <= 1280.0 AND buckets_used < 512
       |      THEN 512.0 * ln(512.0 / CAST(512 - buckets_used AS DOUBLE))
       |      ELSE raw END, 6) AS approx_distinct
       |  FROM (
       |    SELECT $g, buckets_used, zsum,
       |      (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0 *
       |        4503599627370496.0 / CAST(zsum AS DOUBLE) AS raw
       |    FROM (
       |      SELECT $g, count(*) AS buckets_used,
       |        CAST(sum(CAST(round(pow(2, 52 - r)) AS BIGINT))
       |          + (512 - count(*)) * 4503599627370496 AS BIGINT) AS zsum
       |      FROM ph_reg GROUP BY ALL)))""".stripMargin
  }

  /** Counter column of a portable CM row: the salted hash-uniform of
    * (row, item) mod `w`.
    */
  private def cmCell(w: Int): Column = graft.llm.CorpusPipeline.hashUniform(
    "cm", concat(col("row").cast("string"), lit(":"), col("item"))) % w

  /** PORTABLE Count-Min — the audit twin of [[cmBuild]]/[[cmProbe]]:
    * d=4 rows x w=271 counters, row hashes from md5 arithmetic, so the
    * whole sketch table AND every point estimate (min over rows of the
    * addressed counter) replay exactly in SQL. All-integer — no float
    * anywhere. The one-sided guarantee (never undercount) is structural
    * and the oracle re-derives it per probe.
    */
  def portableCmSketch(df: DataFrame, itemCol: String,
                       d: Int = 4, w: Int = 271): DataFrame =
    df.select(col(itemCol).cast("string").as("item"))
      .select(col("item"),
        explode(sequence(lit(0), lit(d - 1))).as("row"))
      .withColumn("cc", cmCell(w))
      .groupBy("row", "cc")
      .agg(count(lit(1)).as("cnt"))

  /** Point estimates for `probes` (a frame with an `item` column)
    * against a [[portableCmSketch]] table: min over the d addressed
    * counters. An addressed counter absent from the sketch holds 0, so
    * the left join + coalesce keeps it in the min — a probe of an item
    * never seen by the sketch yields est_cnt=0 (matching [[cmProbe]])
    * instead of an inflated min over only its non-empty counters.
    */
  def portableCmProbe(probes: DataFrame, sketch: DataFrame,
                      d: Int = 4, w: Int = 271): DataFrame =
    probes.select(col("item").cast("string").as("item"))
      .select(col("item"),
        explode(sequence(lit(0), lit(d - 1))).as("row"))
      .withColumn("cc", cmCell(w))
      .join(sketch, Seq("row", "cc"), "left")
      .groupBy("item")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
}

