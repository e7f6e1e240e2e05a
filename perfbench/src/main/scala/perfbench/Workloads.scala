package perfbench

import graft.ms.{AdjustedPeak, ParafacModelRow, SliceTensor}
import graft.ms.linalg.{GaussianImpute, NNParafac}
import graft.ms.ops.{Decomposer, Indexing, TensorizeOp, WindowOps}
import graft.pipeline.{CandiaConfig, CandiaPipeline, CandiaResult}
import graft.sources.MzMLSource
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A benchmark workload: a corpus shape, the pipeline configuration,
  * whether the run takes the durable (store-backed) path, and whether
  * every non-trivial slice must get a best model. */
final case class Workload(
    name: String,
    why: String,
    shape: CorpusShape,
    config: CandiaConfig,
    durable: Boolean,
    everySliceSelected: Boolean)

object Workloads {

  /** Stage 5 at the reference's rank range and iteration cap (F ∈ [10,14],
    * 5000 iterations, seed 123) over one slice, in memory. The tolerance
    * is 0, so every fit runs all 5000 iterations: at 1e-7 the iterations
    * a fit takes swing 2–5× with the acquisition noise, and five fits per
    * run are too few to average that out. */
  val pipelineRef = Workload(
    name = "pipeline_ref",
    why = "stage 5 at the reference rank range and iteration cap (F 10-14, all 5000 iterations): NN-PARAFAC decomposition dominates, as in the paper",
    shape = CorpusShape(files = 3, swaths = 1, rtWindows = 1, analytesPerSlice = 3,
      fragments = 10, backgroundIons = 6, noisePeaks = 20),
    config = CandiaConfig(parafacTol = 0.0),
    durable = false,
    everySliceSelected = true)

  /** The same pipeline over a wide, dense corpus on the durable path
    * with the registry's light ALS settings (F ∈ [2,3], 100 iterations). */
  val ingestWide = Workload(
    name = "ingest_wide",
    why = "wide dense corpus on the durable store path with light ALS (F 2-3, 100 iterations): mzML parsing, slicing and tensorizing dominate",
    shape = CorpusShape(files = 6, swaths = 16, rtWindows = 5, analytesPerSlice = 2,
      fragments = 10, backgroundIons = 6, noisePeaks = 15),
    config = CandiaConfig(parafacMinComp = 2, parafacMaxComp = 3, parafacMaxIter = 100),
    durable = true,
    // with at most 3 components, the reference's CWT count can read every
    // component of a sharp single peak as two peaks (about 1 slice in 160
    // here), so selection rightly drops that slice
    everySliceSelected = false)

  val all: Seq[Workload] = Seq(pipelineRef, ingestWide)

  def byName(n: String): Option[Workload] = all.find(_.name == n)
}

/** Fresh output locations for one run, so every run starts from empty
  * stores. */
final case class RunPaths(dir: String) {
  def slices = s"$dir/slices"
  def tensors = s"$dir/tensor_store"
  def models = s"$dir/model_store"
  def counts = s"$dir/count_store"
  def export = s"$dir/best_models.mzXML"
}

object Runs {

  def clear(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** The untimed part of a run is only path set-up; the timed part is
    * `CandiaPipeline.run` → `collectSampleModes` → `exportBestSpectra`. */
  def untraced(spark: SparkSession, w: Workload, files: Seq[String], p: RunPaths)
      : (CandiaResult, Int) = {
    val res = if (w.durable)
      CandiaPipeline.run(spark, files, w.config, slicesPath = Some(p.slices),
        modelStorePath = Some(p.models), tensorStorePath = Some(p.tensors),
        countStorePath = Some(p.counts))
    else CandiaPipeline.run(spark, files, w.config)
    val (modes, abundance) = CandiaPipeline.collectSampleModes(spark, res)
    modes.collect()
    abundance.collect()
    (res, CandiaPipeline.exportBestSpectra(spark, res, p.export, w.config))
  }

  private def forced[T](ds: Dataset[T]): (Dataset[T], Long) = {
    val d = ds.persist()
    (d, d.count())
  }

  /** The same calls in the order `CandiaPipeline.run` makes them, each
    * under its own span, with persist + count forcing every stage
    * boundary so each span's self time is its own stage's. */
  def traced(spark: SparkSession, w: Workload, files: Seq[String], p: RunPaths,
      tr: Tracer): (CandiaResult, Int) = {
    import spark.implicits._
    val cfg = w.config
    tr.span("run") {
      val (raw, nPeaks) = tr.span("ingest") {
        forced(MzMLSource.read(spark, files, minIntensity = cfg.minScanIntensity).toDF())
      }
      tr.count("ingest.peaks", nPeaks.toDouble)
      val (peaks, _) = tr.span("slice") {
        val windows = WindowOps.adjustedWindows(raw)
        val tagged = WindowOps.assignRtWindows(
          WindowOps.applyAdjustment(raw, windows), cfg.windowSizeSec)
          .select(col("file"), col("spectrum_index"), col("level"),
            col("rt").cast("float").as("rt"), col("mz").cast("float").as("mz"),
            col("intensity").cast("float").as("intensity"),
            col("prec_mz").cast("float").as("prec_mz"),
            col("swath_lower_adjusted").cast("float").as("swath_lower_adjusted"),
            col("swath_upper_adjusted").cast("float").as("swath_upper_adjusted"),
            col("rt_window"))
        if (!w.durable) forced(tagged.as[AdjustedPeak])
        else {
          tr.span("slice.write") {
            WindowOps.writeSlices(WindowOps.withSwathKey(tagged), p.slices)
          }
          tr.span("slice.read") {
            forced(WindowOps.readSlices(spark, p.slices)
              .select(col("file"), col("spectrum_index"), col("level"), col("rt"),
                col("mz"), col("intensity"), col("prec_mz"), col("swath_lower_adjusted"),
                col("swath_upper_adjusted"), col("rt_window"))
              .as[AdjustedPeak])
          }
        }
      }
      val (tensors, _) = tr.span("tensorize") {
        forced(if (w.durable)
          TensorizeOp.tensorizeResumable(spark, peaks, cfg.massTolPpm, p.tensors)
        else TensorizeOp.tensorize(spark, peaks, cfg.massTolPpm))
      }
      tr.span("impute") {
        val perSlice = tensors.map { t =>
          val t0 = System.nanoTime()
          GaussianImpute.imputeTensor(t.data, t.n_samples, t.n_cycles, t.n_mz)
          (System.nanoTime() - t0) / 1e9
        }.collect()
        tr.count("impute.s", perSlice.sum)
      }
      val (models, _) = tr.span("decompose") {
        forced(if (w.durable)
          Decomposer.runResumable(spark, tensors, cfg.parafacMinComp, cfg.parafacMaxComp,
            p.models, maxIter = cfg.parafacMaxIter, tol = cfg.parafacTol, seed = cfg.seed)
        else Decomposer.run(spark, tensors, cfg.parafacMinComp, cfg.parafacMaxComp,
          maxIter = cfg.parafacMaxIter, tol = cfg.parafacTol, seed = cfg.seed))
      }
      val (counts, _) = tr.span("peakcount") {
        forced(if (w.durable)
          Indexing.countTimeModePeaksResumable(spark, models, cfg.avgPeakFwhmSec,
            cfg.windowSizeSec, p.counts)
        else Indexing.countTimeModePeaks(spark, models, cfg.avgPeakFwhmSec, cfg.windowSizeSec))
      }
      val (best, index) = tr.span("select") {
        val windows = peaks.toDF().select(col("swath_lower_adjusted")).distinct()
        val nRt = peaks.toDF().agg(max(col("rt_window"))).head().getInt(0) + 1
        val index = Indexing.modelIndex(spark, windows, nRt,
          cfg.parafacMinComp, cfg.parafacMaxComp).persist()
        val best = Indexing.bestModels(
          Indexing.peakCountsWithModelId(counts, index), index).persist()
        tr.count("select.best_models", best.count().toDouble)
        (best, index)
      }
      val res = CandiaResult(peaks, tensors, models, counts, best, Indexing.spectrumIndex(index))
      tr.span("sample_modes") {
        val (modes, abundance) = CandiaPipeline.collectSampleModes(spark, res)
        modes.collect()
        abundance.collect()
      }
      val scans = tr.span("export") {
        CandiaPipeline.exportBestSpectra(spark, res, p.export, cfg)
      }
      (res, scans)
    }
  }

  /** Per-iteration ALS sub-kernel times at the workload's real slice
    * shapes, from timing the public kernel pieces on the calling thread,
    * outside Spark tasks: `NNParafac.unfold` (once per decomposition, so
    * amortised over its iterations), `NNParafac.khatriRao` and the Breeze
    * unfold · KR product (MTTKRP), three modes each. Weighted by the iterations the
    * run's decompositions took. */
  final case class AlsParts(unfoldMs: Double, krMs: Double, mttkrpMs: Double,
      krMbPerIter: Double, gflopPerIter: Double)

  private def meanMs(minMs: Double)(f: => Any): Double = {
    f // warm
    var n = 0
    val t0 = System.nanoTime()
    var el = 0.0
    while (el < minMs) { f; n += 1; el = (System.nanoTime() - t0) / 1e6 }
    el / n
  }

  private val ProbeSlices = 4

  def alsParts(tensors: Seq[SliceTensor], models: Seq[ParafacModelRow]): AlsParts = {
    import breeze.linalg.DenseMatrix
    val iters = models.map(m => (m.swath_key, m.rt_window, m.ncomp) -> m.iterations).toMap
    val sorted = tensors.filterNot(Decomposer.isTrivial).sortBy(t => (t.swath_key, t.rt_window))
    val step = math.max(1, sorted.length / ProbeSlices)
    val probed = sorted.indices.by(step).take(ProbeSlices).map(sorted(_))
    var w = 0.0; var unf = 0.0; var kr = 0.0; var mt = 0.0
    probed.foreach { t =>
      val (s, tt, m) = (t.n_samples, t.n_cycles, t.n_mz)
      val x = GaussianImpute.imputeTensor(t.data, s, tt, m)
      val unfolds = (0 until 3).map(NNParafac.unfold(x, s, tt, m, _))
      val unfoldMs = meanMs(20)((0 until 3).foreach(NNParafac.unfold(x, s, tt, m, _)))
      models.filter(r => r.swath_key == t.swath_key && r.rt_window == t.rt_window)
        .map(_.ncomp).sorted.foreach { f =>
          val it = iters((t.swath_key, t.rt_window, f)).toDouble
          val fs = Array(s, tt, m).map(d => DenseMatrix.rand[Double](d, f))
          val pairs = Seq((1, 2), (0, 2), (0, 1))
          val krMs = meanMs(20)(pairs.foreach { case (a, b) => NNParafac.khatriRao(fs(a), fs(b)) })
          val krs = pairs.map { case (a, b) => NNParafac.khatriRao(fs(a), fs(b)) }
          val mtMs = meanMs(20)((0 until 3).foreach(i => unfolds(i) * krs(i)))
          w += it; unf += unfoldMs; kr += it * krMs; mt += it * mtMs
        }
    }
    // computed, not measured: bytes of the three KR products and gemm
    // flops per iteration, weighted by iterations over every model
    val (cw, kb, gf) = models.foldLeft((0.0, 0.0, 0.0)) { case ((a, b, c), r) =>
      val (s, t, m, f, it) = (r.n_samples.toDouble, r.n_cycles.toDouble, r.n_mz.toDouble,
        r.ncomp.toDouble, r.iterations.toDouble)
      val cells = s * t * m
      (a + it, b + it * (t * m + s * m + s * t) * f * 8 / 1e6, c + it * 3 * 2 * cells * f / 1e9)
    }
    AlsParts(if (w > 0) unf / w else 0.0, if (w > 0) kr / w else 0.0,
      if (w > 0) mt / w else 0.0, if (cw > 0) kb / cw else 0.0, if (cw > 0) gf / cw else 0.0)
  }
}
