package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Measurement harness (guide §1): attributes a single query's wall-clock
  * to its Spark JOBS, keyed by the call site of each job's result stage —
  * the breakdown the bench total can't show (a lifecycle query like
  * q_pq_retrain runs dozens of actions: train collects, store writes,
  * meta reads). Usage:
  *
  *   GRAFT_PROFILE_QUERY=q_pq_retrain sbt -batch "runMain graft.JobProfile"
  *
  * Runs the query once as warmup, then `GRAFT_PROFILE_RUNS` (default 2)
  * timed repetitions; prints the per-callsite job-time ledger of the LAST
  * repetition plus the gap between summed job time and wall time (driver
  * think time: planning, collect decode, file listing). Diagnostic only —
  * never part of the bench contract.
  */
object JobProfile {

  private final class JobClock extends SparkListener {
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = e.stageInfos.lastOption.map(_.name).getOrElse("?")
      starts.put(e.jobId, (System.nanoTime(), site))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = starts.remove(e.jobId)
      if (s != null) done.add((s._2, System.nanoTime() - s._1))
    }
    def reset(): Unit = { starts.clear(); done.clear() }
  }

  def main(args: Array[String]): Unit = {
    val name = sys.env.getOrElse("GRAFT_PROFILE_QUERY", "q_pq_retrain")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("GRAFT_PROFILE_RUNS", "2").toInt.max(1)
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val clock = new JobClock
    spark.sparkContext.addSparkListener(clock)

    val q = SparkEntry.queries(name)
    q(spark, sfDir).count() // warmup: JIT, listing, one-time materializations
    var wall = 0.0
    (1 to runs).foreach { r =>
      clock.reset()
      val t0 = System.nanoTime()
      q(spark, sfDir).count()
      wall = (System.nanoTime() - t0) / 1e9
      println(f"pass $r: wall $wall%.3f s")
    }
    org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
    Thread.sleep(300)
    val rows = {
      val it = clock.done.iterator(); val b = Seq.newBuilder[(String, Long)]
      while (it.hasNext) b += it.next(); b.result()
    }
    val bySite = rows.groupBy(_._1).view
      .mapValues(v => (v.size, v.map(_._2).sum / 1e9)).toSeq
      .sortBy(-_._2._2)
    println(f"== $name: last pass wall $wall%.3f s, " +
      f"${rows.size} jobs, job-time sum ${rows.map(_._2).sum / 1e9}%.3f s ==")
    bySite.foreach { case (site, (n, sec)) =>
      println(f"  $sec%7.3f s  x$n%-3d  $site")
    }
    spark.stop()
  }
}
