package graft

/** Ad-hoc single-query runner for profiling:
  *   runMain graft.RunOne <query_name> [sfDir] [reps] [explain]
  *
  * Prints per-rep wall-clock (rep 1 includes scan/cache warm-up; later
  * reps isolate the query's own cost) and, with `explain`, the formatted
  * physical plan — the loop used to audit every operator's plan shape.
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val showPlan = args.contains("explain")
    val spark = Sessions.local()
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query: $name"))
    def gcMs(): Long = graft.sparkutil.JvmGc.millis()
    // `pre` replays every alphabetically-earlier registry query first,
    // reproducing Bench's session age at the target query — the A/B
    // that separates "the query got slower" from "the SESSION the
    // query is measured in got older" (the q_graph_kcore drift
    // investigation: 5 monotone history samples on fixed code turned
    // out to be registry growth aging the session, not kcore).
    if (args.contains("pre")) {
      val before = SparkEntry.queries.toSeq.sortBy(_._1)
        .takeWhile(_._1 != name)
      val t0 = System.nanoTime()
      before.foreach { case (n, f) =>
        try f(spark, sfDir).count()
        catch { case scala.util.control.NonFatal(_) => }
      }
      println(f"[runone] pre: ${before.size} earlier queries in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s (session aged to " +
        "bench order)")
    }
    (1 to reps).foreach { r =>
      val g0 = gcMs()
      val t0 = System.nanoTime()
      var n = 0L
      val vol = ShuffleMeter.measure(spark) { n = fn(spark, sfDir).count() }
      val rdds = spark.sparkContext.getPersistentRDDs
      val mb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum >> 20
      val heapMb = (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) >> 20
      println(f"[runone] $name rep $r: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows, ${rdds.size} persistent RDDs, ${mb} MB cached, gc ${gcMs() - g0} ms, heap ${heapMb} MB, shuffle w ${vol.shuffleWrite >> 10} KiB / r ${vol.shuffleRead >> 10} KiB)")
      val builds = StoreBuilds.snapshot
      if (r == 1 && builds.nonEmpty)
        println("[runone] builds: " + builds.toSeq.sortBy(-_._2)
          .map { case (k, v) => f"$k=$v%.2f" }.mkString(", "))
    }
    if (showPlan) fn(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
