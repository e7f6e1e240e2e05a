package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev tool: run one registry query with a [[StreamingQueryListener]]
  * attached and print every micro-batch's duration breakdown
  * (triggerExecution / addBatch / getBatch / commitOffsets / walCommit /
  * queryPlanning / latestOffset ...) plus state-store metrics — the
  * measurement §1 of the optimization guide asks for before touching any
  * streaming operator (the SQL-tab view of a batch, in text form).
  *
  * Usage: sbt "runMain graft.StreamProbe <query_name> [sfDir] [reps]"
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    // k=v args are conf overrides wherever they appear; the rest are
    // positional (query name, sfDir, reps)
    val (overrides, pos) = args.partition(_.contains("="))
    val name = pos(0)
    val sfDir = if (pos.length > 1) pos(1) else "/root/testdata/sf0.1"
    val reps = if (pos.length > 2) pos(2).toInt else 2
    val spark = Sessions.local()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"[probe] started ${e.name} at ${e.timestamp}")
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val dur = p.durationMs
        println(s"[probe] batch ${p.batchId} rows=${p.numInputRows} " +
          s"durations=$dur")
        p.stateOperators.foreach { so =>
          println(s"[probe]   state op=${so.operatorName} " +
            s"rowsTotal=${so.numRowsTotal} updated=${so.numRowsUpdated} " +
            s"commitMs=${so.allUpdatesTimeMs}+${so.commitTimeMs} " +
            s"memUsed=${so.memoryUsedBytes}")
        }
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        println(s"[probe] terminated runId=${e.runId}")
    })
    // conf overrides: k=v pairs anywhere in the args
    overrides.foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
      println(s"[probe] conf $k=$v")
    }
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query: $name"))
    (1 to reps).foreach { r =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"[probe] $name rep $r: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    spark.stop()
  }
}
