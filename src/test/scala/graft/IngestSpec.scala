package graft

import org.apache.spark.sql.functions._

import graft.etl.AsOfJoin
import graft.queries.Reports
import graft.sources.Ingest

/** Ingest-side scan semantics (S3–S6, X14), as-of join, chart-sink guard,
  * empty-pipeline guard (F7).
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("X14: drifted headers bind by substring, first match wins") {
    val df = Seq((1, "2025-05-01", 2.0))
      .toDF("RowId", "Match Date", "Gls For")
    val out = Ingest.resolveColumns(df, Seq(
      "id" -> "rowid", "date" -> "date", "goals" -> "gls",
      "missing" -> "nonexistent")) // unmatched target is skipped
    assert(out.columns.toSeq == Seq("id", "date", "goals"))
    assert(out.collect()(0).getDouble(2) == 2.0)
  }

  test("S3: schedule scan keeps only the target date (drifted formats)") {
    val df = Seq("23/05/2025", "2025-05-24", "garbage")
      .toDF("Date")
    val out = Ingest.scheduleForDate(df, "Date",
      lit("2025-05-23").cast("date"))
    assert(out.count() == 1)
  }

  test("S4: matchlog clean drops separator (null-date) rows") {
    val df = Seq(
      (Some("2025-05-01"), Some("Arsenal")),
      (None, Some("header-separator")),
      (Some("2025-05-02"), Some("Chelsea"))
    ).toDF("Date", "Opponent")
    val out = Ingest.cleanMatchlog(df,
      Seq("date" -> "date", "opponent" -> "opponent"))
    assert(out.count() == 2)
  }

  test("S5: long stats pivot wide with explicit stat list") {
    val long = Seq(("m1", "possession", 60.0), ("m1", "shots", 12.0),
      ("m2", "possession", 40.0)).toDF("match_id", "stat", "value")
    val out = Ingest.pivotStats(long, "match_id", "stat", "value",
      Seq("possession", "shots")).orderBy("match_id").collect()
    assert(out(0).getDouble(1) == 60.0 && out(0).getDouble(2) == 12.0)
    assert(out(1).isNullAt(2)) // m2 has no shots row
  }

  test("S6: cache freshness keeps entries within TTL") {
    val df = Seq("2025-05-20", "2025-05-10").toDF("cached_at")
      .withColumn("cached_at", col("cached_at").cast("date"))
    val out = Ingest.freshCache(df, "cached_at",
      lit("2025-05-23").cast("date"), ttlDays = 7)
    assert(out.count() == 1)
  }

  test("as-of join picks latest right row <= left time, inclusive") {
    val fixtures = Seq(("m1", "A", "2025-05-10"), ("m2", "A", "2025-05-01"),
      ("m3", "B", "2025-05-10")).toDF("match_id", "team", "fdate")
      .withColumn("fdate", col("fdate").cast("date"))
    val metrics = Seq(("A", "2025-05-01", 0.3), ("A", "2025-05-05", 0.7))
      .toDF("team", "date", "wr")
      .withColumn("date", col("date").cast("date"))
    val out = AsOfJoin.asOf(fixtures, metrics, "team", "fdate", "date",
        Seq("wr"))
      .select("match_id", "asof_wr").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None
        else Some(r.getDouble(1)))).toMap
    assert(out("m1").contains(0.7))  // latest <= 05-10
    assert(out("m2").contains(0.3))  // same-day metric included (inclusive)
    assert(out("m3").isEmpty)        // team B has no metrics
  }

  test("as-of join carries the matched right row wholesale (no torn rows)") {
    // The latest metric row has wr=NULL but shots=9: merge_asof semantics
    // carry that ROW (null included) — never wr from an older row.
    val fixtures = Seq(("m1", "A", "2025-05-10"))
      .toDF("match_id", "team", "fdate")
      .withColumn("fdate", col("fdate").cast("date"))
    val metrics = Seq(
      ("A", "2025-05-01", Some(0.3), Some(5.0)),
      ("A", "2025-05-05", None: Option[Double], Some(9.0))
    ).toDF("team", "date", "wr", "shots")
      .withColumn("date", col("date").cast("date"))
    val r = AsOfJoin.asOf(fixtures, metrics, "team", "fdate", "date",
      Seq("wr", "shots")).select("asof_wr", "asof_shots").collect()(0)
    assert(r.isNullAt(0), "wr must be NULL from the matched (latest) row")
    assert(r.getDouble(1) == 9.0)
  }

  test("as-of join plan has no range-join row explosion (single window)") {
    val fixtures = Seq(("m1", "A", "2025-05-10")).toDF("match_id", "team", "fdate")
      .withColumn("fdate", col("fdate").cast("date"))
    val metrics = Seq(("A", "2025-05-01", 0.3)).toDF("team", "date", "wr")
      .withColumn("date", col("date").cast("date"))
    val plan = AsOfJoin.asOf(fixtures, metrics, "team", "fdate", "date",
      Seq("wr")).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("K5 chart-sink guard rejects unaggregated frames") {
    val big = spark.range(200).toDF("x")
    assertThrows[IllegalArgumentException] {
      Reports.chartData(big, maxRows = 100)
    }
    assert(Reports.chartData(big.limit(5), maxRows = 100).length == 5)
  }

  test("F7: empty fixtures short-circuits the pipeline with zero stats") {
    val dir = java.nio.file.Files.createTempDirectory("graft-empty").toString
    Seq(("2020-01-01", "1", "A", "B", "L", "C", "1", "10:00", "Ended", "",
      "1", "api"))
      .toDF("date", "id", "home_team", "away_team", "league", "country",
        "start_timestamp", "start_time", "status", "venue", "round", "source")
      .write.option("header", "true").csv(s"$dir/fx")
    Seq(("A", "2024-2025", "2025-05-01", "PL", "Home", "B", "W", "1", "0",
      "5", "2"))
      .toDF("team", "season", "date", "competition", "venue", "opponent",
        "result", "goals_for", "goals_against", "shots", "shots_on_target")
      .write.option("header", "true").csv(s"$dir/hist")
    // today is after every fixture → future filter empties the frame
    val out = s"$dir/out"
    val stats = Pipeline.run(spark, Pipeline.Config(
      s"$dir/fx", s"$dir/hist", out, today = "2025-05-23"))
    assert(stats == Pipeline.Stats(0, 0, 0, 0, 0.0, "", "", 7))
    import java.nio.file.{Files, Paths}
    assert(Files.readString(Paths.get(s"$out/pipeline_stats.json")) ==
      """{"fixtures_count":0,"teams_count":0,"joined_records":0}""")
    // the downstream stages never ran
    assert(Files.exists(Paths.get(s"$out/fixtures")))
    assert(!Files.exists(Paths.get(s"$out/history")))
    assert(!Files.exists(Paths.get(s"$out/football_data")))
  }

  test("corrupt JSONL lines land in quarantine, good rows parse clean") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl")
    java.nio.file.Files.write(dir.resolve("part0.jsonl"),
      ("""{"doc_id": 1, "text": "good line"}""" + "\n" +
       """{"doc_id": 2, "text": "also good"}""" + "\n" +
       """{"doc_id": 3, "text": "truncated""" + "\n" +      // cut mid-string
       """not json at all""" + "\n" +
       """{"doc_id": 4, "text": "after the bad ones"}""" + "\n")
        .getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val (good, bad) = Ingest.readJsonlQuarantine(spark,
      dir.toString + "/*.jsonl", schema)
    assert(good.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 4L))
    assert(good.columns.toSeq == Seq("doc_id", "text")) // no corrupt col
    val quarantined = bad.collect().map(_.getAs[String]("raw_line"))
    assert(quarantined.length == 2)
    assert(quarantined.exists(_.contains("not json at all")))
    // pinned caveat: a VALID object with missing fields is schema drift,
    // not corruption — it parses with nulls, it is NOT quarantined
    java.nio.file.Files.write(dir.resolve("part1.jsonl"),
      """{"doc_id": 9}""".getBytes("UTF-8"))
    val (g2, b2) = Ingest.readJsonlQuarantine(spark,
      dir.toString + "/*.jsonl", schema)
    assert(g2.filter(col("doc_id") === 9).count() == 1)
    assert(b2.collect().length == 2)
  }
}
