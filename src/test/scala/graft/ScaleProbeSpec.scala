package graft

/** Every ScaleProbe probe runs end to end through the probe drive
  * (`Bench.checksum`) on the smallest testdata. The probes call the
  * registry's chain code on the unbounded corpus, so a change to a
  * shared building block that breaks a probe fails here rather than in
  * an sf1 measurement run.
  */
class ScaleProbeSpec extends SparkSpec {

  test("probe names are unique") {
    val names = ScaleProbe.probes.map(_._1)
    assert(names.distinct == names)
  }

  ScaleProbe.probes.foreach { case (name, fn) =>
    test(s"probe $name completes at sf0.001") {
      try {
        val (rows, _) = Bench.checksum(fn(spark, sf))
        assert(rows > 0, s"$name produced no rows")
      } finally CacheScope.harness.release()
    }
  }
}
