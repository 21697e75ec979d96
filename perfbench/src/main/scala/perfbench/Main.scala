package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{CacheScope, GraftSession}

/** Benchmark runner: one JVM, one closed-loop client, one op at a time.
  *
  *   Main --workload football_feed|registry_mix
  *        --seed N --seconds S --trace 0|1 --cores N
  *        --data DIR --checksums FILE --feed DIR --work DIR --out FILE
  *   Main --record FILE --data DIR --cores N
  *
  * A run sets up the session, runs one cold pass (its first op, the
  * same op for every seed, is the cold op) and the workload's untimed
  * warm-up passes, then measures. Untraced, it runs the measured passes
  * and reports the end-to-end metrics. `--seconds` sets how many: the
  * workload's pass count at 20 s, scaled, so that every run of a
  * workload measures the same work. Traced, it runs four passes,
  * untraced, traced, traced, untraced, and reports the per-layer metrics
  * of the traced ones. `--record` writes the registry checksums the runs compare
  * against. Results go to `--out` as JSON; run.py prints them.
  */
object Main {
  private final case class Opts(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = kv.get(k)
  }

  def main(args: Array[String]): Unit = {
    val o = Opts(args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = o("cores")
    val spark = GraftSession.builder(cores).getOrCreate()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    spark.sparkContext.setLogLevel("ERROR")
    try o.get("record") match {
      case Some(file) => Record.write(spark, o("data"), file, cores)
      case None => new Run(spark, o, setupS).execute()
    } finally SparkSession.getActiveSession.foreach(_.stop())
  }

  private final class Run(startSpark: SparkSession, o: Opts, setupS: Double) {
    private var spark = startSpark
    private val workload = o("workload")
    private val rng = new scala.util.Random(o("seed").toLong)
    private val traced = o("trace") == "1"
    private val rec = new Recorder(spark.sparkContext)
    spark.sparkContext.addSparkListener(rec)

    // ops, untimed warm-up passes, measured passes at --seconds 20
    private val (ops, warmupPasses, passesPer20s): (IndexedSeq[Op], Int, Int) =
      workload match {
        case "football_feed" =>
          (IndexedSeq(new FeedOp(o("feed"), s"${o("work")}/out",
            Workloads.readTsv(Paths.get(o("feed"), "expected.tsv")))), 3, 4)
        case "registry_mix" =>
          (registryOps(Workloads.corpusChains, "sf0.1") ++
            registryOps(Workloads.relationalMix, "sf0.01"), 1, 2)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }

    private def registryOps(names: Seq[String], sf: String): IndexedSeq[Op] = {
      val sums = Workloads.readChecksums(Paths.get(o("checksums")))
      names.map(n => new RegistryOp(n, s"${o("data")}/$sf", sums.get(n)))
        .toIndexedSeq
    }

    private var attempted = 0
    private val failures = ArrayBuffer.empty[String]
    private var tracked = 0L
    private var leaked = 0L
    private val heapSamples = ArrayBuffer.empty[Long]
    private val notes = ArrayBuffer.empty[String]

    /** One op, timed; then release its caches and count what it leaked.
      * Leaked RDDs are unpersisted after counting, so ops stay
      * independent, and nothing is cleared before the count.
      */
    private def runOp(op: Op): Double = {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      try op.run(spark, rec)
      catch {
        case scala.util.control.NonFatal(e) =>
          failures += s"${op.name}: ${String.valueOf(e.getMessage).take(300)}"
      }
      val dt = (System.nanoTime() - t0) / 1e9
      attempted += 1
      tracked += op.trackedAfterRun
      rec.span("cache.release", "CacheScope")(op.scope.release())
      val left = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
      leaked += left.size
      left.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      dt
    }

    private def pass(order: Seq[Op]): Seq[Double] = order.map(runOp)

    private def order(first: Boolean): Seq[Op] =
      if (first) ops.head +: rng.shuffle(ops.tail) else rng.shuffle(ops)

    /** Full GC, then the driver's old-generation occupancy. The second GC,
      * after Spark's context cleaner has had time to drop the broadcast
      * blocks the first one made unreachable, keeps their timing out of
      * the sample.
      */
    private def sampleHeap(): Unit = {
      System.gc()
      Thread.sleep(300)
      System.gc()
      val old = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
        .map(_.getUsage.getUsed).sum
      heapSamples += old
    }

    def execute(): Unit = {
      val cg0 = (Recorder.codegenUnits(), CodeGenerator.compileTime)
      val cold = pass(order(first = true))
      val coldCg = (Recorder.codegenUnits() - cg0._1,
        CodeGenerator.compileTime - cg0._2)
      (1 to warmupPasses).foreach(_ => pass(order(first = false)))
      sampleHeap()
      val metrics =
        if (traced) layers(coldCg)
        else endToEnd(cold)
      Report.write(o("out"), attempted, failures.toSeq, metrics, notes.toSeq)
    }

    private def endToEnd(cold: Seq[Double]): Seq[(String, Double, String)] = {
      val count = math.max(1, math.round(passesPer20s * o("seconds").toDouble / 20).toInt)
      val passes = (1 to count).map(_ => pass(order(first = false)))
      sampleHeap()
      val times = passes.flatten.sorted
      val n = times.size
      // the highest percentile that still has ten samples beyond it; a
      // run with fewer than 100 ops reports its nearest-rank p90 instead
      val tailIdx = math.min(n - 1,
        math.max(n - 11, math.ceil(0.9 * n).toInt - 1))
      notes += f"$workload: ${passes.size} measured passes, $n ops; " +
        f"op_p50_s over $n samples; op_tail_s is rank ${tailIdx + 1} of $n " +
        f"(p${100.0 * (tailIdx + 1) / n}%.0f, ${n - tailIdx - 1} beyond)"
      notes += "measured op s: " + passes.map(_.map(t => f"$t%.3f").mkString(" ")).mkString(" | ")
      notes += "old gen MB after warm-up, after measuring: " +
        heapSamples.map(h => f"${h / 1e6}%.1f").mkString(" ")
      Seq(
        ("setup_s", setupS, "s"),
        ("cold_op_s", cold.head, "s"),
        ("wall_s", passes.map(_.sum).sum / passes.size, "s"),
        ("op_p50_s", median(times), "s"),
        ("op_tail_s", times(tailIdx), "s"),
        ("ok_ratio", (attempted - failures.size).toDouble / attempted, "ratio"),
        ("cache_peak_mb", rec.cachePeakBytes / 1e6, "MB"),
        ("heap_peak_mb", heapSamples.max / 1e6, "MB"))
    }

    private def layers(coldCg: (Long, Long)): Seq[(String, Double, String)] = {
      val walls = ArrayBuffer.empty[(Boolean, Double)]
      val tracedPasses = ArrayBuffer.empty[Recorder.Span]
      val counts = ArrayBuffer.empty[(Long, Long)]
      Seq(false, true, true, false).foreach { on =>
        val (t0, l0) = (tracked, leaked)
        rec.tracing = on
        val order1 = order(first = false)
        val wall =
          if (!on) pass(order1).sum
          else rec.span("pass", "harness")(pass(order1)).sum
        rec.tracing = false
        if (on) {
          tracedPasses += rec.allSpans.filter(_.name == "pass").last
          counts += ((tracked - t0, leaked - l0))
        }
        walls += ((on, wall))
      }
      rec.drain()
      val sinkBytes = ops.collect { case f: FeedOp => f.sinkBytes }.sum
      val speedup = ops.collectFirst { case f: FeedOp => oneCoreSpeedup(f, walls.toSeq) }
        .getOrElse(0.0)

      def mean(f: Recorder.Span => Double): Double =
        tracedPasses.map(f).sum / tracedPasses.size
      def named(p: Recorder.Span, name: String) =
        rec.subtree(p).filter(_.name == name)
      def total(p: Recorder.Span, slot: Int): Double = rec.totals(p)(slot).toDouble
      def thinOps(p: Recorder.Span): Double =
        rec.subtree(p).count { s =>
          s.layer == "op" && {
            val c = rec.totals(s)
            c(Recorder.Stages) > 0 &&
              c(Recorder.Tasks).toDouble / c(Recorder.Stages) <= 1.5
          }
        }.toDouble
      def stageMs(name: String) = mean(p => named(p, name).map(_.ms).sum)
      val untraced = walls.filterNot(_._1).map(_._2).sum
      val tracedWall = walls.filter(_._1).map(_._2).sum
      import Recorder._

      val layerSelf = tracedPasses.flatMap(rec.subtree).groupMapReduce(_.layer)(
        s => rec.selfNs(s) / 1e6)(_ + _)
      notes += layerSelf.toSeq.sortBy(-_._2).map { case (l, ms) =>
        f"$l=${ms / tracedPasses.size}%.1f" }.mkString("self ms per traced pass: ", " ", "")
      Spans.write(rec, s"${o("work")}/spans.json")

      Seq(
        ("registry.build_ms", stageMs("registry.build"), "ms"),
        ("registry.build_jobs", mean(p => named(p, "registry.build")
          .map(s => total(s, Jobs)).sum), "count"),
        ("catalyst.analysis_ms", mean(p => rec.phaseMs(p).getOrElse("analysis", 0L).toDouble), "ms"),
        ("catalyst.optimizer_ms", mean(p => rec.phaseMs(p).getOrElse("optimization", 0L).toDouble), "ms"),
        ("catalyst.planning_ms", mean(p => rec.phaseMs(p).getOrElse("planning", 0L).toDouble), "ms"),
        ("codegen.units", mean(_.cgUnits.toDouble), "count"),
        ("codegen.compile_ms", mean(_.cgNs / 1e6), "ms"),
        ("codegen.cold_units", coldCg._1.toDouble, "count"),
        ("codegen.cold_compile_ms", coldCg._2 / 1e6, "ms"),
        ("sched.jobs", mean(total(_, Jobs)), "count"),
        ("sched.stages", mean(total(_, Stages)), "count"),
        ("sched.tasks", mean(total(_, Tasks)), "count"),
        ("sched.thin_stages", mean(thinOps), "count"),
        ("sched.delay_ms", mean(total(_, SchedDelayMs)), "ms"),
        ("exec.task_run_ms", mean(total(_, TaskRunMs)), "ms"),
        ("exec.task_cpu_ms", mean(total(_, TaskCpuNs) / 1e6), "ms"),
        ("exec.gc_ms", mean(total(_, GcMs)), "ms"),
        ("exec.parallelism", mean(p => total(p, TaskRunMs) / p.ms), "ratio"),
        ("exec.spill_bytes", mean(total(_, SpillBytes)), "bytes"),
        ("exec.speedup_vs_1core", speedup, "ratio"),
        ("shuffle.write_bytes", mean(total(_, ShuffleWriteBytes)), "bytes"),
        ("shuffle.read_bytes", mean(total(_, ShuffleReadBytes)), "bytes"),
        ("shuffle.fetch_wait_ms", mean(total(_, FetchWaitMs)), "ms"),
        ("shuffle.skew", rec.shuffleSkew(tracedPasses.toSeq), "ratio"),
        ("sources.scan_rows", mean(total(_, ScanRows)), "count"),
        ("sources.scan_bytes", mean(total(_, ScanBytes)), "bytes"),
        ("sources.files_read", mean(rec.filesRead(_).toDouble), "count"),
        ("pipeline.fixtures_ms", stageMs("pipeline.fixtures"), "ms"),
        ("pipeline.history_ms", stageMs("pipeline.history"), "ms"),
        ("pipeline.combine_ms", stageMs("pipeline.combine"), "ms"),
        ("pipeline.stats_ms", stageMs("pipeline.stats"), "ms"),
        ("pipeline.sink_bytes", sinkBytes.toDouble, "bytes"),
        ("cache.tracked", counts.map(_._1).sum.toDouble / counts.size, "count"),
        ("cache.leaked_rdds", counts.map(_._2).sum.toDouble / counts.size, "count"),
        ("trace.overhead_pct", 100.0 * (tracedWall / untraced - 1), "%"))
    }

    /** Untraced op time on `local[cores]` over the same op on `local[1]`,
      * in a fresh session of this JVM after the measured passes.
      */
    private def oneCoreSpeedup(op: FeedOp, walls: Seq[(Boolean, Double)]): Double = {
      val many = walls.filterNot(_._1).map(_._2)
      spark.stop()
      spark = GraftSession.builder("1").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val one = runOp(op)
      notes += f"local[1] Pipeline.run $one%.3f s"
      one / (many.sum / many.size)
    }
  }

  private def median(sorted: Seq[Double]): Double = {
    val n = sorted.size
    if (n % 2 == 1) sorted(n / 2) else (sorted(n / 2 - 1) + sorted(n / 2)) / 2
  }
}

/** Result file: attempted and failed ops, metrics with units, notes. */
object Report {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  def write(path: String, attempted: Int, failures: Seq[String],
            metrics: Seq[(String, Double, String)], notes: Seq[String]): Unit = {
    val ms = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s"${str(n)}:{\"value\":$num,\"unit\":${str(u)}}"
    }.mkString("{", ",", "}")
    val json = s"""{"attempted":$attempted,"failed":${failures.size},""" +
      s""""failures":${failures.map(str).mkString("[", ",", "]")},""" +
      s""""metrics":$ms,"notes":${notes.map(str).mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(path), json + "\n")
  }
}

/** Spans of the traced run, with self time, as JSON. */
object Spans {
  def write(rec: Recorder, path: String): Unit = {
    val t0 = rec.allSpans.headOption.map(_.startNs).getOrElse(0L)
    val lines = rec.allSpans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}",""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"ms":${s.ms}%.3f,""" +
        f""""self_ms":${rec.selfNs(s) / 1e6}%.3f,"codegen_units":${s.cgUnits}}"""
    }
    Files.writeString(Paths.get(path), lines.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** Records (rows, xxhash64) per registry query of both registry
  * workloads: two passes in opposite orders on `local[cores]`, one on
  * `local[2]`. A query whose hash differs between them is recorded
  * rows-only ("-").
  */
object Record {
  def write(first: SparkSession, dataDir: String, file: String, cores: String): Unit = {
    val sets = Seq(Workloads.corpusChains -> "sf0.1", Workloads.relationalMix -> "sf0.01")
    def sweep(spark: SparkSession, reverse: Boolean): Map[String, (Long, Option[Long])] = {
      val rec = new Recorder(spark.sparkContext)
      val all = sets.flatMap { case (names, sf) => names.map(_ -> sf) }
      (if (reverse) all.reverse else all).map { case (n, sf) =>
        val r = new RegistryOp(n, s"$dataDir/$sf", None).checksum(spark, rec)
        CacheScope.harness.release()
        spark.catalog.clearCache()
        n -> r
      }.toMap
    }
    val a = sweep(first, reverse = false)
    val b = sweep(first, reverse = true)
    first.stop()
    val two = GraftSession.builder(if (cores == "2") "3" else "2").getOrCreate()
    two.sparkContext.setLogLevel("ERROR")
    val c = sweep(two, reverse = false)
    val lines = a.keys.toSeq.sorted.map { n =>
      val (rows, hash) = a(n)
      require(b(n)._1 == rows && c(n)._1 == rows, s"$n: row count differs between sweeps")
      val h = if (b(n)._2 == hash && c(n)._2 == hash) hash.map(_.toString) else None
      s"$n\t$rows\t${h.getOrElse("-")}"
    }
    Files.writeString(Paths.get(file),
      ("# query\trows\txxhash64 sum (- = rows only)" +: lines).mkString("", "\n", "\n"))
  }
}
