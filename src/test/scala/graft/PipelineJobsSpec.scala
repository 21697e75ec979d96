package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.etl.Process

/** What one `Pipeline.run` costs in Spark jobs, and what its statistics
  * say. The statistics ride the sink writes as observed metrics, so every
  * job a run starts belongs to one of the three sinks, and the observed
  * values must equal the per-frame formulas of `pipeline.py:103-118`
  * computed on their own.
  */
class PipelineJobsSpec extends SparkSpec {
  import spark.implicits._

  private val sinkDescriptions =
    Set("pipeline:fixtures", "pipeline:history", "pipeline:football_data")

  /** Jobs per run on the toy feed: 38 while the statistics were four
    * extra actions over the written frames; the three sink writes alone
    * start 18 (4 fixtures, 3 history, 11 football_data).
    */
  private val maxJobsPerRun = 18

  private def tmp(): String =
    Files.createTempDirectory("graft-pipeline-jobs").toString

  /** Descriptions of the jobs `body` starts, in start order. */
  private def jobDescriptions(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("<none>"))
    }
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  test("every job of a run belongs to a sink write; the caller's description survives") {
    val dir = tmp()
    val (fixturesCsv, historyCsv) = SinksSpec.toyFeed(spark, dir)
    val sc = spark.sparkContext
    sc.setJobDescription("caller:outer")
    val jobs = try {
      val seen = jobDescriptions {
        Pipeline.run(spark, Pipeline.Config(fixturesCsv, historyCsv,
          s"$dir/out", today = "2025-05-23"))
      }
      assert(sc.getLocalProperty("spark.job.description") == "caller:outer")
      seen
    } finally sc.setJobDescription(null)
    info(s"${jobs.size} jobs: ${jobs.groupBy(identity).view.mapValues(_.size).toMap}")
    assert(jobs.toSet == sinkDescriptions,
      s"a job outside the three sink writes: $jobs")
    assert(jobs.size <= maxJobsPerRun, s"${jobs.size} jobs: $jobs")
  }

  test("observed stats equal the per-frame formulas: null team, null league, duplicate, past fixture") {
    val dir = tmp()
    val today = "2025-05-23"
    Seq(
      ("2025-06-01", "1", "Arsenal FC", "Chelsea", "Premier League"),
      ("2025-06-01", "1", "Arsenal FC", "Chelsea", "Premier League"),
      ("2025-06-02", "2", "", "Spurs", "Premier League"),    // blank → null
      ("2025-06-03", "3", "Man Utd", "Everton", ""),         // null league
      ("2025-06-04", "4", "Barcelona", "Real Madrid", "La Liga"),
      ("2025-05-01", "5", "Fulham", "Brentford", "Premier League")) // past
      .map { case (date, id, home, away, league) =>
        (date, id, home, away, league, "England", "1748775000", "15:00",
          "Not started", "", "1", "api")
      }
      .toDF("date", "id", "home_team", "away_team", "league", "country",
        "start_timestamp", "start_time", "status", "venue", "round", "source")
      .write.option("header", "true").csv(s"$dir/fx")
    Seq(
      ("Arsenal", "2024-2025", "2025-05-01", "PL", "Home", "Brentford",
        "W", "2", "0", "12", "5"),
      ("Chelsea", "2024-2025", "2025-05-03", "PL", "Home", "Everton",
        "L", "0", "1", "7", "2"))
      .toDF("team", "season", "date", "competition", "venue", "opponent",
        "result", "goals_for", "goals_against", "shots", "shots_on_target")
      .write.option("header", "true").csv(s"$dir/hist")
    val out = s"$dir/out"
    val stats = Pipeline.run(spark, Pipeline.Config(
      s"$dir/fx", s"$dir/hist", out, today = today))

    // The same fixtures frame, aggregated the pre-observation way: one
    // action per statistic.
    val fixtures = Process.processFixtures(
      Pipeline.readCsv(spark, s"$dir/fx", graft.model.Tables.matches)
        .withColumn("match_id", lit(null).cast("string"))
        .withColumn("kickoff_time", col("start_time")),
      lit(today).cast("date"))
    val n = fixtures.count()
    val teams = fixtures.select(col("home_team").as("team"))
      .unionByName(fixtures.select(col("away_team").as("team")))
      .distinct().count()
    val leagues = fixtures.agg(countDistinct(col("league"))).head().getLong(0)
    val cols = Seq("match_id", "date", "home_team", "away_team", "league",
      "kickoff_time")
    val completion = cols.map(c =>
      fixtures.filter(col(c).isNotNull).count().toDouble / n).sum / cols.size
    val dates = fixtures
      .agg(min(col("date")).cast("string"), max(col("date")).cast("string"))
      .head()
    val joined = spark.read.option("header", "true")
      .csv(s"$out/football_data").count()

    assert(stats == Pipeline.Stats(n, teams, joined, leagues, completion,
      dates.getString(0), dates.getString(1), 7))
    // the feed exercises what it claims: the duplicate and the past
    // fixture drop, the null team counts once, the null league not at all
    assert((n, teams, leagues, joined) == (4L, 8L, 2L, 4L))
    assert(completion < 1.0)
  }
}
