package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for all specs. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4,2]") // 2 task attempts: retry semantics are testable
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `body`'s result and the number of Spark jobs it started on this
    * thread, counted through a job group and the status tracker. The
    * tracker learns of jobs from the listener bus, in the order they
    * start: a marker job in a second group runs after `body`, and the
    * count is read once the tracker lists the marker.
    */
  def jobsRun[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    sc.setJobGroup(s"counted-$id", "counted")
    try {
      val out = body
      sc.setJobGroup(s"marker-$id", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (sc.statusTracker.getJobIdsForGroup(s"marker-$id").isEmpty) {
        require(System.nanoTime() < deadline, "the status tracker never listed the marker job")
        Thread.sleep(5)
      }
      (out, sc.statusTracker.getJobIdsForGroup(s"counted-$id").length)
    } finally sc.clearJobGroup()
  }
}
