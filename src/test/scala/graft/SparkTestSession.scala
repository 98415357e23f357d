package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (tests run in one forked
  * JVM; the session is never stopped — the fork exits). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = graft.core.Tables.sessionBuilder("local[4]", "4").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Spark jobs `f` starts on this thread (and threads it spawns).
    * `f` runs in its own job group; the status store is fed in event
    * order, so once a sentinel job run after `f` shows up there, every
    * job `f` started has been counted. */
  def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID()}"
    def inGroup(g: String)(body: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    inGroup(group)(f)
    inGroup(group + "/drain")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.currentTimeMillis() + 60000
    while (sc.statusTracker.getJobIdsForGroup(group + "/drain").isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}
