package graft.sources

import org.apache.spark.sql.DataFrame

/** Scan-parallelism repair for CPU-heavy pipelines over few-split
  * inputs (guide §2.5, input skew: "one huge unsplittable file ...
  * repartition immediately after the read").
  */
object Scans {

  /** Round-robin repartition `df` up to the session's default
    * parallelism IFF its scan parallelism is materially below it — the
    * case of a small corpus landing in one parquet row group, which
    * pins every downstream per-row computation (window md5s, token
    * explodes, decoders) to a single core no matter how many the host
    * has. At production scale inputs carry many splits, the guard is
    * false and this is a no-op — no extra exchange ever reaches a plan
    * that is already parallel. Results are unaffected: callers are the
    * order-independent operators (integer sums, min/max elections,
    * keyed windows), and the exchange is deterministic round-robin
    * (sort-before-repartition, Spark's default, keeps retries stable).
    *
    * Only pass SCAN-SIDE frames (projections/filters over a file scan):
    * the partition probe walks the physical plan of `df` as-is, and a
    * frame already behind an exchange both defeats the purpose and may
    * trigger partial execution under AQE.
    */
  def withParallelismFloor(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Probe via the optimizer's size estimate — NOT df.rdd, whose
    // physical planning + codegen costs ~100s of ms per call. An input
    // at or under one split (spark.sql.files.maxPartitionBytes) scans
    // as one task; anything estimated bigger is left alone (it either
    // already splits, or sits in the gray zone where an extra exchange
    // is not clearly won).
    val maxSplit = BigInt(math.max(1L,
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        df.sparkSession.conf.get(
          "spark.sql.files.maxPartitionBytes", "128MB"))))
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= maxSplit && target > 2) df.repartition(target) else df
  }

  /** Recursive driver-side listing of the files under `dir` matching
    * `glob`: (path relative to `dir`, full URI) pairs. Paths only,
    * never content — the same cost class as Spark's FileIndex (~100k
    * archive names at 100 TB is megabytes, not a collect of data).
    */
  def listFiles(spark: org.apache.spark.sql.SparkSession, dir: String,
                glob: String): Seq[(String, String)] = {
    import org.apache.hadoop.fs.{GlobFilter, Path}
    val basePath = new Path(dir)
    val fs = basePath.getFileSystem(spark.sessionState.newHadoopConf())
    val qualified = fs.makeQualified(basePath)
    val baseUriPath = qualified.toUri.getPath.stripSuffix("/")
    val filter = new GlobFilter(glob)
    val files = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val it = fs.listFiles(qualified, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && filter.accept(st.getPath)) {
        val up = st.getPath.toUri.getPath
        val rel = if (up.startsWith(baseUriPath + "/"))
          up.substring(baseUriPath.length + 1) else up
        files += rel -> st.getPath.toString
      }
    }
    files.toSeq
  }
}
