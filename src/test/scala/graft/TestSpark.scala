package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** Number of Spark jobs (default job group) launched while `body`
    * runs — the plan-side assertion behind the pre-trained tokenizer
    * overloads ("the apply path contains no training scan"): building
    * an apply-only plan must launch ZERO jobs, where the self-training
    * path runs its per-round aggregates eagerly. The status tracker is
    * listener-bus-fed (async), so a grouped SENTINEL job is run after
    * `body` and polled for: the bus is FIFO, so once the sentinel is
    * visible every job `body` launched is too.
    */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val st = sc.statusTracker
    /** Runs a grouped sentinel job, waits until the tracker shows it,
      * and returns its job id. */
    def drain(tag: String): Int = {
      val sentinel = s"jobs-during-$tag-${System.nanoTime()}"
      sc.setJobGroup(sentinel, "listener-bus drain sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis + 30000
      while (st.getJobIdsForGroup(sentinel).isEmpty &&
        System.currentTimeMillis < deadline) Thread.sleep(20)
      assert(st.getJobIdsForGroup(sentinel).nonEmpty,
        "sentinel job never reached the status tracker")
      st.getJobIdsForGroup(sentinel).max
    }
    // drain BEFORE sampling too (r18): the tracker is listener-bus-fed,
    // so job-end events from a heavy preceding test can land inside the
    // measured window and charge the block with jobs it never launched.
    // Count job ids above the first sentinel's rather than a difference
    // of sizes: the tracker keeps only spark.ui.retainedJobs jobs and
    // drops the oldest in batches, which made the difference negative.
    val floor = drain("pre")
    body
    drain("post")
    st.getJobIdsForGroup(null).count(_ > floor)
  }
}
