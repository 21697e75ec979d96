package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Sources/sinks (S1/S7, K1–K4) and set-ops on heterogeneous frames (U1). */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-test").toString

  test("K1/S7: CSV roundtrip with header + overwrite") {
    val dir = tmp() + "/out"
    val df = Seq(("m1", "2025-05-23", 2.5), ("m2", "2025-05-24", 3.0))
      .toDF("match_id", "date", "xg")
    Pipeline.writeCsv(df, dir)
    Pipeline.writeCsv(df, dir) // overwrite, not append
    val back = Pipeline.readCsv(spark, dir,
      org.apache.spark.sql.types.StructType.fromDDL(
        "match_id STRING, date STRING, xg DOUBLE"))
    assert(back.count() == 2)
    assert(back.orderBy("match_id").collect()(0).getDouble(2) == 2.5)
  }

  test("K2: column projection on write (fieldnames whitelist)") {
    val dir = tmp() + "/proj"
    val df = Seq(("m1", "A", "extra")).toDF("id", "team", "junk")
    Pipeline.writeCsv(df.select("id", "team"), dir)
    val header = Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).filter(_.endsWith(".csv"))
      .flatMap(p => scala.io.Source.fromFile(p).getLines().take(1)).head
    assert(header == "id,team")
  }

  test("K3/S1: JSON sink then schema'd JSON scan") {
    val dir = tmp() + "/json"
    Seq(("t1", 3), ("t2", 5)).toDF("team", "wins").write.json(dir)
    val back = spark.read.schema("team STRING, wins BIGINT").json(dir)
    assert(back.orderBy("team").collect().map(_.getLong(1)).toSeq ==
      Seq(3L, 5L))
  }

  test("S1: nested SofaScore-shaped event parses with declared schema") {
    val sample =
      """{"id":101,"tournament":{"name":"Premier League","category":
        |{"name":"England","country":{"alpha2":"EN","alpha3":"ENG",
        |"name":"England"}},"uniqueTournament":{"name":"Premier League",
        |"id":17}},"season":{"name":"24/25","year":"2025","id":1},
        |"roundInfo":{"round":38},"status":{"code":0,"description":
        |"Not started","type":"notstarted"},"homeTeam":{"name":"Arsenal",
        |"slug":"arsenal","shortName":"ARS"},"awayTeam":{"name":"Chelsea",
        |"slug":"chelsea","shortName":"CHE"},"startTimestamp":1747994400,
        |"venue":{"name":"Emirates"}}""".stripMargin.replace("\n", "")
    val df = Seq(sample).toDF("raw")
      .select(from_json(col("raw"), graft.model.Tables.sofaEvent).as("e"))
      .select(col("e.homeTeam.name").as("home"),
        col("e.tournament.name").as("league"),
        col("e.startTimestamp").as("ts"),
        col("e.roundInfo.round").as("round"))
    val r = df.collect()(0)
    assert(r.getString(0) == "Arsenal")
    assert(r.getString(1) == "Premier League")
    assert(r.getLong(2) == 1747994400L)
    assert(r.getInt(3) == 38)
  }

  test("U1: unionByName with missing columns (heterogeneous scrapes)") {
    val detailed = Seq(("A", 2.0, 0.7)).toDF("team", "goals_for", "xg")
    val basic = Seq(("B", 1.0)).toDF("team", "goals_for")
    val all = detailed.unionByName(basic, allowMissingColumns = true)
    assert(all.count() == 2)
    val b = all.filter(col("team") === "B").collect()(0)
    assert(b.isNullAt(b.fieldIndex("xg")))
  }

  test("Pipeline end-to-end: stages, sinks, stats JSON parity") {
    val dir = tmp()
    val (fixturesCsv, historyCsv) = SinksSpec.toyFeed(spark, dir)

    spark.catalog.clearCache() // isolate the post-run cache assertion
    // A pre-existing user cache must SURVIVE the run (run releases only
    // what it created — not a blunt clearCache()).
    val userCached = Seq(1, 2, 3).toDF("x")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    userCached.count()
    val stats = Pipeline.run(spark, Pipeline.Config(
      fixturesPath = fixturesCsv, historyPath = historyCsv,
      outDir = s"$dir/out", today = "2025-05-23"))

    assert(stats.fixturesCount == 2)
    assert(stats.teamsCount == 4)
    assert(stats.joinedRecords == 2)
    assert(stats.leaguesCovered == 1)
    assert(stats.startDate == "2025-06-01" && stats.endDate == "2025-06-02")
    val statsJson = Files.readString(
      java.nio.file.Paths.get(s"$dir/out/pipeline_stats.json"))
    assert(statsJson.contains("\"fixtures_count\":2"))
    // combined CSV exists with home_ metrics for Arsenal
    val combined = spark.read.option("header", "true")
      .csv(s"$dir/out/football_data")
    assert(combined.count() == 2)
    val m1 = combined.filter(col("match_id").contains("arsenal")).collect()(0)
    assert(m1.getAs[String]("home_win_ratio").toDouble == 0.75) // W,D
    // Cache discipline: Pipeline.run is the OWNER of the plan-lifetime
    // caches its stages create (CombineData.combine's broadcast dim), so
    // a full run must release exactly those — and ONLY those: the
    // pre-existing user cache survives.
    // (the one surviving entry is the user cache's in-memory buffer; its
    // RDD id differs from userCached.rdd.id, so assert by count)
    val after = spark.sparkContext.getPersistentRDDs
    assert(after.size == 1,
      s"Pipeline.run cache leak or over-release: ${after.keySet}")
    userCached.unpersist()
  }
}

object SinksSpec {

  /** The toy feed: two upcoming fixtures in the matches-table shape
    * (FIXTURES.md §1) and history for two of their teams, written as CSV
    * under `dir`. Returns the fixtures and history paths.
    */
  def toyFeed(spark: SparkSession, dir: String): (String, String) = {
    import spark.implicits._
    val fixturesCsv = s"$dir/raw_fixtures"
    Seq(
      ("2025-06-01", "1", "Arsenal FC", "Chelsea", "Premier League", "England",
        "1748775000", "12:30", "Not started", "", "1", "api"),
      ("2025-06-02", "2", "Man Utd", "Spurs", "Premier League", "England",
        "1748862000", "15:00", "Not started", "", "1", "api")
    ).toDF("date", "id", "home_team", "away_team", "league", "country",
      "start_timestamp", "start_time", "status", "venue", "round", "source")
      .write.option("header", "true").csv(fixturesCsv)
    val historyCsv = s"$dir/raw_history"
    Seq(
      ("Arsenal", "2024-2025", "2025-05-01", "PL", "Home", "Brentford",
        "W", "2", "0", "12", "5"),
      ("Arsenal", "2024-2025", "2025-05-10", "PL", "Away", "Fulham",
        "D", "1", "1", "9", "3"),
      ("Chelsea", "2024-2025", "2025-05-03", "PL", "Home", "Everton",
        "L", "0", "1", "7", "2")
    ).toDF("team", "season", "date", "competition", "venue", "opponent",
      "result", "goals_for", "goals_against", "shots", "shots_on_target")
      .write.option("header", "true").csv(historyCsv)
    (fixturesCsv, historyCsv)
  }
}
