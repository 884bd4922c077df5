package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.tools.LocalSession

/** One shared local SparkSession for the whole forked test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = LocalSession.builder(4).getOrCreate()
  spark.sparkContext.setLogLevel("WARN")

  private val BroadcastThreshold = "spark.sql.autoBroadcastJoinThreshold"

  /** The session's broadcast threshold before any test sets it. */
  val defaultBroadcastThreshold: String = spark.conf.get(BroadcastThreshold)

  /** Runs `f` with the broadcast threshold at `bytes`, the bound that
    * selects the driver or the distributed path of `Dedup.dupClusters` and
    * `Dedup.ngramJaccardPairs`: -1 selects the distributed path.
    */
  def withBroadcastThreshold[T](bytes: String)(f: => T): T = {
    val prev = spark.conf.getOption(BroadcastThreshold)
    spark.conf.set(BroadcastThreshold, bytes)
    try f
    finally prev.fold(spark.conf.unset(BroadcastThreshold))(spark.conf.set(BroadcastThreshold, _))
  }

  /** Spark jobs started by `f`, counted by job group. A marker job started
    * after `f` returns drains the listener bus: its start event is handled
    * only after every event `f`'s jobs posted.
    */
  def jobsStarted(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => started.incrementAndGet()
          case `marker` => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(marker, "drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus not drained")
      started.get()
    } finally sc.removeSparkListener(listener)
  }
}
