package graft.tools

import org.apache.spark.sql.SparkSession

/** The local-mode session every tool main, `ScalingBench`, `FixtureGen` and
  * the test suite run on: `local[cores]`, one shuffle partition per core,
  * AQE on, UTC session time zone, no UI. A caller that needs more settings
  * adds them to the returned builder. `graft.Bench` and `graft.Verify` keep
  * their own builders (frozen driver contract), and `graft.Main` leaves the
  * master to spark-submit.
  */
object LocalSession {
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
