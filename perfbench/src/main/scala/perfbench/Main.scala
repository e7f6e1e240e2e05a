package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Builds the session several times (`setup_s` is their median), runs a
  * smaller form of the workload once untimed to warm the JVM, then runs
  * the workload with tracing off until `--seconds` is used up. Each run
  * gets its own replicate corpus drawn from the seed and starts from
  * empty caches and fresh stores. With `--trace 1` it adds one traced
  * run whose spans go to `<work>/trace/`. Every run's outputs are
  * checked. The last line of standard output is the result object.
  */
object Main {

  private val Setups = 5

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def session(cores: Int, work: String, meter: SparkMeter): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(meter)
    spark
  }

  private def dirMb(path: String): Double = {
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L) else f.length()
    size(new File(path)) / 1e6
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads.byName(opts.getOrElse("workload", "")).getOrElse {
      System.err.println(s"unknown workload; one of ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsolutePath
    val cores = Host.cores
    val loadStart = Host.loadAvg

    val meter = new SparkMeter
    var runId = 0
    def freshPaths(): RunPaths = {
      runId += 1
      val d = s"$work/runs/${w.name}-$seed-$runId"
      deleteTree(new File(d))
      new File(d).mkdirs()
      RunPaths(d)
    }

    // set-up, several times: the session is built and runs a small
    // shuffle job. The first counts from JVM start; the others stop and
    // rebuild the session in the warm JVM.
    def setUp(): SparkSession = {
      val spark = session(cores, work, meter)
      spark.range(1 << 20).selectExpr("id % 97 AS k").groupBy("k").count().collect()
      spark
    }
    var spark = setUp()
    val setups = ArrayBuffer(Host.uptimeS)
    val canaryStart = Host.canary()

    // inputs: one replicate acquisition per run, drawn from the seed
    def corpusFor(rep: Int): Corpus = {
      val dir = s"$work/corpus/${w.name}-$seed-$rep"
      deleteTree(new File(dir))
      SwathGen.generate(w.shape, seed * 1000 + rep, dir)
    }
    val g0 = System.nanoTime()
    val corpus = corpusFor(0)
    val genS = (System.nanoTime() - g0) / 1e9

    for (_ <- 1 until Setups) {
      spark.stop()
      val t0 = System.nanoTime()
      spark = setUp()
      setups += (System.nanoTime() - t0) / 1e9
    }
    val problems = ArrayBuffer.empty[String]
    SwathGen.selfCheck(spark, corpus).foreach(problems += _)

    // one untimed warm-up run (JIT, codegen, file writers) over one RT
    // window of the shape, with at most 500 ALS iterations; checked
    val warmW = w.copy(shape = w.shape.copy(rtWindows = 1),
      config = w.config.copy(parafacMaxIter = math.min(w.config.parafacMaxIter, 500)))
    val warmCorpus = {
      val dir = s"$work/corpus/${w.name}-$seed-warmup"
      deleteTree(new File(dir))
      SwathGen.generate(warmW.shape, seed * 1000 + 999, dir)
    }
    val outcomes = ArrayBuffer.empty[Outcome]
    def timedRun(wl: Workload, c: Corpus): (Double, Double) = {
      val p = freshPaths()
      Runs.clear(spark)
      PerfbenchBus.drain(spark.sparkContext)
      meter.reset()
      val t0 = System.nanoTime()
      val (res, scans) = Runs.untraced(spark, wl, c.files, p)
      val s = (System.nanoTime() - t0) / 1e9
      PerfbenchBus.drain(spark.sparkContext)
      outcomes += Checks.check(spark, c, wl, res, scans, p.export)
      Runs.clear(spark)
      deleteTree(new File(p.dir))
      (s, meter.storagePeak / 1e6)
    }
    val warmupS = timedRun(warmW, warmCorpus)._1
    deleteTree(new File(warmCorpus.files.head).getParentFile)
    val warmOutcomes = outcomes.length

    // untraced runs, each on its own replicate, until `seconds` is used;
    // at least three (one with --trace 1)
    val runS = ArrayBuffer.empty[Double]
    val peaksMb = ArrayBuffer.empty[Double]
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    val minRuns = if (trace) 1 else 3
    while (runS.length < minRuns || (elapsed + median(runS.toSeq) <= seconds && !trace)) {
      val c = if (runS.isEmpty) corpus else corpusFor(runS.length)
      val (s, mb) = timedRun(w, c)
      runS += s
      peaksMb += mb
      if (c ne corpus) deleteTree(new File(c.files.head).getParentFile)
    }
    val untracedOutcomes = outcomes.drop(warmOutcomes).toSeq

    // traced run
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (trace) {
      val p = freshPaths()
      Runs.clear(spark)
      PerfbenchBus.drain(spark.sparkContext)
      meter.reset()
      val tr = new Tracer(s"${w.name}-$seed-${System.currentTimeMillis()}", spark.sparkContext)
      val (res, scans) = Runs.traced(spark, w, corpus.files, p, tr)
      PerfbenchBus.drain(spark.sparkContext)
      val tot = meter.totals
      outcomes += Checks.check(spark, corpus, w, res, scans, p.export)
      val tensors = res.tensors.collect().toSeq
      val models = res.models.collect().toSeq
      val spectra = res.peaks.toDF().select("file", "spectrum_index").distinct().count()
      def task(span: String) = meter.spanTasks(span)
      val ingestS = tr.seconds("ingest")
      val decS = tr.seconds("decompose")
      val iters = models.map(_.iterations.toLong).sum
      val decTasks = task("decompose")
      val decSumS = decTasks.map(_.sumMs / 1e3).getOrElse(0.0)
      val cells = tensors.map(t => t.n_samples.toLong * t.n_cycles * t.n_mz).sum
      val nan = tensors.map(_.data.count(_.isNaN).toLong).sum
      val als = Runs.alsParts(tensors, models)
      val msPerIter = if (iters > 0) decSumS * 1000 / iters else 0.0
      layer ++= Seq(
        "ingest.s" -> ingestS,
        "ingest.spectra" -> spectra.toDouble,
        "ingest.peaks" -> tr.counts("ingest.peaks"),
        "ingest.input_mb" -> corpus.mb,
        "ingest.peaks_per_s" -> tr.counts("ingest.peaks") / ingestS,
        "slice.s" -> tr.seconds("slice"),
        "slice.slices" -> res.peaks.toDF().select("swath_lower_adjusted", "rt_window")
          .distinct().count().toDouble,
        "slice.write_mb" -> (if (w.durable) dirMb(p.slices) else 0.0),
        "slice.read_s" -> tr.seconds("slice.read"),
        "tensorize.s" -> tr.seconds("tensorize"),
        "tensorize.slices_ok" -> tensors.length.toDouble,
        "tensorize.slices_failed" ->
          graft.ms.ops.TensorizeOp.errors(spark, res.peaks, w.config.massTolPpm).count().toDouble,
        "tensorize.cells" -> cells.toDouble,
        "tensorize.nan_frac" -> (if (cells > 0) nan.toDouble / cells else 0.0),
        "tensorize.task_max_s" -> task("tensorize").map(_.maxMs / 1e3).getOrElse(0.0),
        "impute.s" -> tr.counts("impute.s"),
        "decompose.s" -> decS,
        "decompose.pairs" -> models.length.toDouble,
        "decompose.task_sum_s" -> decSumS,
        "decompose.task_max_s" -> decTasks.map(_.maxMs / 1e3).getOrElse(0.0),
        "decompose.util" -> (if (decS > 0) decSumS / (decS * cores) else 0.0),
        "als.iters" -> iters.toDouble,
        "als.ms_per_iter" -> msPerIter,
        "als.rsq_min" -> (if (models.isEmpty) 0.0 else models.map(_.rsq).min),
        "als.unfold_ms" -> als.unfoldMs,
        "als.kr_ms" -> als.krMs,
        "als.mttkrp_ms" -> als.mttkrpMs,
        "als.rest_ms" -> (msPerIter - als.unfoldMs - als.krMs - als.mttkrpMs),
        "als.kr_mb_per_iter" -> als.krMbPerIter,
        "als.gflop_per_iter" -> als.gflopPerIter,
        "peakcount.s" -> tr.seconds("peakcount"),
        "peakcount.components" -> res.peakCounts.count().toDouble,
        "select.s" -> tr.seconds("select"),
        "select.best_models" -> tr.counts("select.best_models"),
        "sample_modes.s" -> tr.seconds("sample_modes"),
        "export.s" -> tr.seconds("export"),
        "export.scans" -> scans.toDouble,
        "export.mb" -> new File(p.export).length() / 1e6,
        "spark.stages" -> tot.stages.toDouble,
        "spark.tasks" -> tot.tasks.toDouble,
        "spark.exec_run_s" -> tot.runMs / 1e3,
        "spark.exec_cpu_s" -> tot.cpuNs / 1e9,
        "spark.gc_s" -> tot.gcMs / 1e3,
        "spark.shuffle_write_mb" -> tot.shuffleWrite / 1e6,
        "spark.shuffle_read_mb" -> tot.shuffleRead / 1e6,
        "spark.fetch_wait_s" -> tot.fetchWaitMs / 1e3,
        "spark.spill_mb" -> tot.spill / 1e6,
        "trace.overhead_frac" -> (tr.seconds("run") / median(runS.toSeq) - 1.0))
      val traceDir = s"$work/trace"
      new File(traceDir).mkdirs()
      Files.write(Paths.get(s"$traceDir/${tr.runId}.json"),
        tr.toJson.getBytes(StandardCharsets.UTF_8))
      println(s"perfbench trace spans=${tr.all.length} file=$traceDir/${tr.runId}.json")
      Runs.clear(spark)
      deleteTree(new File(p.dir))
    }
    spark.stop()
    deleteTree(new File(corpus.files.head).getParentFile)
    val canaryEnd = Host.canary()

    outcomes.foreach(o => problems ++= o.problems)
    val attempted = outcomes.map(_.attempted).sum
    val failed = outcomes.map(_.failed).sum
    // pooled over the untraced runs' replicates
    val recovered = untracedOutcomes.map(_.recovered).sum.toDouble /
      math.max(1, untracedOutcomes.map(_.planted).sum)
    val e2e = Seq(
      ("run_s", median(runS.toSeq), "s"),
      ("setup_s", median(setups.toSeq), "s"),
      ("cache_peak_mb", median(peaksMb.toSeq), "MB"),
      ("recovered_frac", recovered, "frac"))

    println(s"perfbench host cores=$cores heap_mb=${Host.heapMb} jvm=${Host.jvm} " +
      s"blas=${Host.blasClass} commit=${sys.props.getOrElse("perfbench.commit", "unknown")} " +
      s"source=${sys.props.getOrElse("perfbench.source", "unknown")} " +
      f"loadavg_start=$loadStart%.2f loadavg_end=${Host.loadAvg}%.2f " +
      f"canary_start_s=$canaryStart%.4f canary_end_s=$canaryEnd%.4f canary_ratio=${canaryEnd / canaryStart}%.3f")
    println(s"perfbench workload=${w.name} seed=$seed files=${corpus.files.length} " +
      s"spectra=${corpus.spectra} peaks=${corpus.peaks} input_mb=${"%.2f".format(corpus.mb)} " +
      s"slices=${corpus.slices} planted=${corpus.analytes.length} gen_s=${"%.3f".format(genS)}")
    println(s"perfbench run_s samples=${runS.map(v => "%.3f".format(v)).mkString(",")} " +
      f"warmup_s=$warmupS%.3f " +
      s"setup_s samples=${setups.map(v => "%.3f".format(v)).mkString(",")} " +
      s"als_iters=${outcomes.map(_.alsIters).mkString(",")}")
    e2e.foreach { case (n, v, u) => println(f"perfbench metric $n%s = $v%.4f $u%s") }
    println(f"perfbench metric fail_frac = ${failed.toDouble / math.max(attempted, 1)}%.4f frac " +
      s"($failed of $attempted operations)")
    layer.foreach { case (n, v) => println(f"perfbench layer $n%s = $v%.6f") }
    problems.foreach(p => println(s"perfbench check FAILED: $p"))

    val shown = if (trace) layer.toSeq.map { case (n, v) => (n, v, Units.of(n)) } else e2e
    val metrics = shown.map { case (n, v, u) =>
      s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${problems.isEmpty},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{$metrics}}""")
  }
}

/** Units of the per-layer metrics, by name. */
object Units {
  def of(name: String): String = name match {
    case "ingest.peaks_per_s" => "1/s"
    case "als.ms_per_iter" => "ms"
    case "als.kr_mb_per_iter" => "MB"
    case "als.gflop_per_iter" => "GFLOP"
    case "als.rsq_min" => "R2"
    case "decompose.util" => "frac"
    case n if n.endsWith("_mb") || n.endsWith(".mb") => "MB"
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_frac") => "frac"
    case n if n.endsWith(".s") || n.endsWith("_s") => "s"
    case _ => "count"
  }
}
