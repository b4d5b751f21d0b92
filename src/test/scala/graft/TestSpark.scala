package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Shared local session for all suites (sbt forks one test JVM), built
  * through the front door like every main; the warehouse dir, UI and time
  * zone come from the test JVM's system properties (build.sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.build("local[4]", 4, "graft-tests")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sfDir = "/root/testdata/sf0.001"
  def tables: Tables = Tables(spark, sfDir)

  /** Entries in the shared context's cache manager: the persisted plans
    * of every session, clones included (they share the cache manager). */
  def cacheEntries: Int = {
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[IndexedSeq[_]].size
  }

  /** Whether the RDD `id` still has blocks in the block store. */
  def stored(id: Int): Boolean =
    spark.sparkContext.getRDDStorageInfo.exists(_.id == id)

  /** Waits up to 10 s for the non-blocking removal of RDD `id`'s blocks;
    * true once they are gone. */
  def released(id: Int): Boolean = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (stored(id) && System.nanoTime() < deadline) Thread.sleep(20)
    !stored(id)
  }

  /** The RDD a checkpointed DataFrame scans. */
  def rddId(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }

  /** One SQL execution as planned when it started: its plan text, the
    * partition count of each of its own shuffle exchanges (an adaptive
    * plan's initial exchanges) and of each exchange in the cached plans it
    * scans. */
  final case class Planned(plan: String, widths: Seq[Int], cached: Seq[Int])

  private val Width = """partitioning\((.*), (\d+)\)""".r.unanchored

  /** The local property that marks [[listening]]'s sentinel job. */
  val SentinelMarker = "graft.test.sentinel"

  /** Runs `body` with `listener` on the shared context's listener bus and
    * returns once the listener has seen every event `body` caused.
    * Delivery is asynchronous, so a marked sentinel job runs afterwards:
    * events reach the listeners of a queue in order, so once the sentinel's
    * start is seen every earlier event has been delivered. */
  def listening[A](listener: SparkListener)(body: => A): A = {
    val sc = spark.sparkContext
    @volatile var sentinelSeen = false
    val sentinel = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(SentinelMarker) != null))
          sentinelSeen = true
    }
    sc.addSparkListener(listener)
    sc.addSparkListener(sentinel)
    try {
      val out = body
      sc.setLocalProperty(SentinelMarker, "1")
      try spark.range(1).rdd.count()
      finally sc.setLocalProperty(SentinelMarker, null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinelSeen, "listener never saw the sentinel job")
      out
    } finally {
      sc.removeSparkListener(sentinel)
      sc.removeSparkListener(listener)
    }
  }

  /** The SQL executions started, in any session of the shared context,
    * while `body` runs. */
  def plannedDuring[A](body: => A): (A, Seq[Planned]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Planned]
    def widths(p: SparkPlanInfo, cached: Boolean): Seq[(Boolean, Int)] =
      (if (p.nodeName == "Exchange") p.simpleString match {
        case Width(_, n) => Seq(cached -> n.toInt)
        case _ => Nil
      } else Nil) ++ p.children.flatMap(
        widths(_, cached || p.nodeName == "InMemoryTableScan"))
    val out = listening(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          val (cached, own) = widths(s.sparkPlanInfo, cached = false)
            .partition(_._1)
          seen.add(Planned(s.physicalPlanDescription, own.map(_._2),
            cached.map(_._2)))
        case _ => ()
      }
    })(body)
    import scala.jdk.CollectionConverters._
    (out, seen.asScala.toSeq)
  }
}
