package graft

/** The concurrent streaming-gate fleet (StreamGate.runFleet, enabled by
  * Verify/Bench via -Dgraft.streamgate.fleet=true) must be a pure execution
  * strategy: every gate's result under the fleet is row-identical to the
  * serial per-gate path the oracle hashes were certified against. The fleet
  * starts all seven real streams together over their own checkpoints; the
  * only thing allowed to change is wall-clock.
  */
class FleetParitySpec extends SparkSpec {

  test("fleet results == serial results for every streaming gate") {
    val d = sf()
    val gates = queries.StreamGate.fleetGateNames.sorted
    assert(gates.size == 7)
    def collectAll(): Map[String, Seq[org.apache.spark.sql.Row]] =
      gates.map(g => g -> SparkEntry.queries(g)(spark, d).collect().toSeq).toMap

    assert(!java.lang.Boolean.getBoolean("graft.streamgate.fleet"))
    val serial = collectAll()
    System.setProperty("graft.streamgate.fleet", "true")
    try {
      val fleet = collectAll()
      gates.foreach { g =>
        assert(serial(g).nonEmpty, s"$g returned no rows")
        assert(fleet(g) == serial(g), s"$g fleet/serial mismatch")
      }
    } finally System.clearProperty("graft.streamgate.fleet")
  }

  test("fleet run records a per-gate state peak for the stateful gates") {
    // the interval gate's state growth is a ScaleProbe100 surface; the fleet
    // must keep its attribution keyed by gate name
    assert(queries.StreamGate.statePeaks.contains("s_join_interval"))
  }
}
