package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, CacheScope, Pipeline, SparkEntry}
import graft.etl.{CombineData, Process, TeamMetrics}
import graft.functions.Normalize

/** An op whose output did not match its recorded expectation. */
final class WrongOutput(msg: String) extends RuntimeException(msg)

/** One op of a workload: a `Pipeline.run` or one registry query. */
trait Op {
  def name: String
  /** Run once and check the output; throws on a wrong answer. */
  def run(spark: SparkSession, rec: Recorder): Unit
  /** Persist scope the harness releases after the op. */
  def scope: CacheScope = CacheScope.harness
  /** Datasets the op's scope tracked when it finished. */
  def trackedAfterRun: Int = scope.trackedCount
}

/** A registry query: plan build, then the `Bench.checksum` drive, whose
  * (rows, xxhash64) pair must equal the recorded one; `hash` is None for
  * queries whose hash depends on partitioning, where rows alone are
  * compared.
  */
final class RegistryOp(val name: String, dataDir: String,
                       expected: Option[(Long, Option[Long])]) extends Op {
  private val fn = SparkEntry.queries(name)

  def checksum(spark: SparkSession, rec: Recorder): (Long, Option[Long]) =
    rec.span(name, "op") {
      val df = rec.span("registry.build", "Registry")(fn(spark, dataDir))
      rec.span("bench.checksum", "Bench")(Bench.checksum(df))
    }

  def run(spark: SparkSession, rec: Recorder): Unit = {
    val (rows, hash) = checksum(spark, rec)
    expected match {
      case None => throw new WrongOutput("no recorded checksum")
      case Some((r, h)) if r != rows || (h.isDefined && h != hash) =>
        throw new WrongOutput(s"got ($rows, $hash), recorded ($r, $h)")
      case _ =>
    }
  }
}

/** `Pipeline.run` over the generated feed. Every run's `Stats` must equal
  * the generator's counts. With tracing on, the op instead composes the
  * public stage functions the way `Pipeline.runStages` does, with one
  * span per materialization point, and its statistics are checked the
  * same way.
  */
final class FeedOp(feedDir: String, outDir: String,
                   expected: Map[String, String]) extends Op {
  val name = "pipeline_run"
  private val today = "2025-05-17"
  private var tracked = 0
  override def trackedAfterRun: Int = tracked

  private def cfg = Pipeline.Config(s"$feedDir/fixtures.csv",
    s"$feedDir/history.csv", outDir, today)

  def run(spark: SparkSession, rec: Recorder): Unit = {
    val stats =
      if (rec.tracing) stages(spark, rec, new CacheScope)
      else Pipeline.run(spark, cfg)
    check(stats)
  }

  private def check(s: Pipeline.Stats): Unit = {
    def num(k: String) = expected(k).toDouble
    val ok = s.fixturesCount == num("fixtures_count") &&
      s.teamsCount == num("teams_count") &&
      s.joinedRecords == num("joined_records") &&
      s.leaguesCovered == num("leagues_covered") &&
      math.abs(s.dataCompletion - num("data_completion")) < 1e-9 &&
      s.startDate == expected("start_date") && s.endDate == expected("end_date")
    if (!ok) throw new WrongOutput(s"pipeline stats $s, expected $expected")
  }

  /** Bytes of every file under the output directory. */
  def sinkBytes: Long = {
    val root = Paths.get(outDir)
    if (!Files.exists(root)) 0L
    else {
      val files = Files.walk(root)
      try files.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
      finally files.close()
    }
  }

  private def stages(spark: SparkSession, rec: Recorder,
                     scope: CacheScope): Pipeline.Stats =
    rec.span(name, "op") {
      val c = cfg
      val todayCol = lit(c.today).cast("date")
      try {
        val fixtures = rec.span("pipeline.fixtures", "etl") {
          val raw = Pipeline.readCsv(spark, c.fixturesPath, graft.model.Tables.matches)
            .withColumn("match_id", lit(null).cast("string"))
            .withColumn("kickoff_time", col("start_time"))
          val f = Process.processFixtures(raw, todayCol, c.aliases)
          Pipeline.writeCsv(isoDates(f), s"${c.outDir}/fixtures")
          if (f.isEmpty) throw new WrongOutput("no upcoming fixtures")
          f
        }
        val history = rec.span("pipeline.history", "etl") {
          val raw = Pipeline.readCsv(spark, c.historyPath,
            graft.model.Tables.teamHistory)
          val h = Process.processHistory(raw, todayCol, c.aliases)
          Pipeline.writeCsv(isoDates(h), s"${c.outDir}/history")
          h
        }
        val statCols = Seq("goals_for", "goals_against", "shots",
          "shots_on_target", "xg", "possession")
        val combined = rec.span("pipeline.combine", "etl") {
          val metrics = TeamMetrics.rolling(history, "team", "date", statCols,
            resultCol = Some("result"), sumCols = Seq("goals_for", "goals_against"),
            windowDays = c.windowDays)
          val metricCols = Seq("team", "date") ++ statCols.map(s => s"rolling_$s") ++
            Seq("total_goals_for", "total_goals_against", "win_ratio")
          val out = CombineData.combine(fixtures,
              metrics.select(metricCols.map(col): _*),
              "team", "home_team", "away_team", "date", Nil, scope = scope)
            .withColumn("match_quality",
              Normalize.matchQuality(col("home_win_ratio"), col("away_win_ratio")))
            .orderBy("date", "match_id")
          Pipeline.writeCsv(isoDates(out), s"${c.outDir}/football_data")
          out
        }
        rec.span("pipeline.stats", "etl")(stats(fixtures, combined, c))
      } finally {
        tracked = scope.trackedCount
        rec.span("cache.release", "CacheScope")(scope.release())
      }
    }

  private def stats(fixtures: DataFrame, combined: DataFrame,
                    c: Pipeline.Config): Pipeline.Stats = {
    val teams = fixtures.select(col("home_team").as("team"))
      .unionByName(fixtures.select(col("away_team").as("team"))).distinct()
    val fixtureCols = Seq("match_id", "date", "home_team", "away_team",
      "league", "kickoff_time")
    val aggs = Seq(count(lit(1)).as("n"), countDistinct(col("league")).as("leagues"),
      min(col("date")).cast("string").as("start_date"),
      max(col("date")).cast("string").as("end_date")) ++
      fixtureCols.map(f => sum(col(f).isNotNull.cast("long")).as(s"nn_$f"))
    val fx = fixtures.agg(aggs.head, aggs.tail: _*).collect()(0)
    val joined = combined.count()
    val n = fx.getAs[Long]("n")
    val completion = fixtureCols.map(f =>
      fx.getAs[Long](s"nn_$f").toDouble / n).sum / fixtureCols.size
    val s = Pipeline.Stats(n, teams.count(), joined, fx.getAs[Long]("leagues"),
      completion, fx.getAs[String]("start_date"), fx.getAs[String]("end_date"),
      c.lookbackMatches)
    val json = s"""{"fixtures_count":${s.fixturesCount},"teams_count":${s.teamsCount},""" +
      s""""joined_records":${s.joinedRecords},"leagues_covered":${s.leaguesCovered}}"""
    Files.createDirectories(Paths.get(c.outDir))
    Files.writeString(Paths.get(s"${c.outDir}/pipeline_stats.json"), json)
    s
  }

  private def isoDates(df: DataFrame): DataFrame =
    df.schema.fields.filter(_.dataType == org.apache.spark.sql.types.DateType)
      .foldLeft(df)((d, f) => d.withColumn(f.name, date_format(col(f.name), "yyyy-MM-dd")))
}

object Workloads {
  /** Job-heavy corpus chains; the first is the registry mix's cold op. */
  val corpusChains: Seq[String] = Seq("d08_dup_clusters", "l22_commoncrawl_chain")

  /** Every 24th registry query of families a f j o p s u w x, by name,
    * plus the flagship `j01_combined`, whose plan-lifetime persist is the
    * only cache among these relational queries.
    */
  def relationalMix: Seq[String] =
    SparkEntry.queries.keys.toSeq.filter(n => "afjopsuwx".contains(n.head)).sorted
      .zipWithIndex.collect { case (n, i) if i % 24 == 0 => n } :+ "j01_combined"

  /** name -> (rows, hash or None) from the tab-separated checksum file. */
  def readChecksums(path: Path): Map[String, (Long, Option[Long])] =
    if (!Files.exists(path)) Map.empty
    else scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, r, h) = l.split("\t")
        n -> ((r.toLong, if (h == "-") None else Some(h.toLong)))
      }.toMap

  def readTsv(path: Path): Map[String, String] =
    scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .filter(_.contains("\t")).map { l =>
        val Array(k, v) = l.split("\t", 2); k -> v
      }.toMap
}
