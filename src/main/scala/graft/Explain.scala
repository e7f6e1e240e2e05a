package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: print formatted physical plans for selected registry queries
  * (all of them when no names are given) — used to audit pushdown
  * (PushedFilters/ReadSchema), join strategies (BroadcastHashJoin vs
  * SortMergeJoin), and WholeStageCodegen coverage.
  *
  * Usage: sbt "runMain graft.Explain [sfDir] [query ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      // materializing queries (run() collects + releases caches) expose
      // their real computation through LazyPlans; the registry entry
      // would explain as a LocalTableScan. LazyPlans builders may run
      // small plan-build-time jobs and return live caches — release
      // them after printing so an all-queries audit doesn't accumulate
      // persisted frames.
      val fn: Option[(SparkSession, String)
          => (org.apache.spark.sql.DataFrame,
              Seq[org.apache.spark.sql.DataFrame])] =
        LazyPlans.builders.get(n).orElse(
          SparkEntry.queries.get(n).map(q =>
            (s: SparkSession, d: String) => (q(s, d), Nil)))
      fn.foreach { f =>
        println(s"\n========== $n ==========")
        try {
          val (df, caches) = f(spark, sfDir)
          try df.explain("formatted")
          finally caches.foreach(_.unpersist())
        } catch { case e: Throwable => println(s"explain failed: $e") }
      }
    }
    spark.stop()
  }
}
