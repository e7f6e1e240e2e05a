package graft

/** Dev tool: time a subset of registry queries in one Bench-shaped
  * session (same confs, same fixed alphabetical order, same `.count()`
  * action), printing per-query seconds for `reps` passes — the
  * section-level before/after measurement loop of the optimization
  * rounds. Names may be exact or prefixes (`q_stream_` runs the pack).
  *
  * Usage: sbt "runMain graft.RunMany <name-or-prefix>[,more] [sfDir] [reps]"
  */
object RunMany {
  def main(args: Array[String]): Unit = {
    // k=v args are conf overrides wherever they appear; the rest are
    // positional (name-or-prefix list, sfDir, reps) — so an override
    // can't be misread as sfDir or crash reps.toInt
    val (overrides, pos) = args.partition(_.contains("="))
    val pats = pos(0).split(",").toSeq
    val sfDir = if (pos.length > 1) pos(1) else "/root/testdata/sf0.1"
    val reps = if (pos.length > 2) pos(2).toInt else 2
    val spark = Sessions.local()
    // conf overrides: k=v pairs anywhere in the args (A/B loops)
    overrides.foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
      println(s"[runmany] conf $k=$v")
    }
    spark.range(1 << 20).selectExpr("sum(id)").collect() // session warm-up
    val chosen = SparkEntry.queries.toSeq
      .filter { case (n, _) => pats.exists(p => n == p || n.startsWith(p)) }
      .sortBy(_._1)
    require(chosen.nonEmpty, s"no queries match: $pats")
    val totals = Array.fill(reps)(0.0)
    (1 to reps).foreach { r =>
      chosen.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case e: Throwable =>
                   println(s"[runmany] $name FAILED: ${e.getMessage}"); false }
        val dt = (System.nanoTime() - t0) / 1e9
        if (ok) totals(r - 1) += dt
        println(f"[runmany] $name rep $r: $dt%.2f s")
      }
      println(f"[runmany] TOTAL rep $r: ${totals(r - 1)}%.2f s over ${chosen.size} queries")
    }
    spark.stop()
  }
}
