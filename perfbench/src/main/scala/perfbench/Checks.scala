package perfbench

import graft.ms.ParafacModelRow
import graft.ms.ops.{Decomposer, Tensorizer}
import graft.pipeline.CandiaResult
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** What one pipeline run produced, checked against the planted truth. */
final case class Outcome(
    attempted: Long, //  slices tensorized + (slice, F) decompositions
    failed: Long, //     tensorize errors + non-finite R²
    recovered: Int,
    planted: Int,
    alsIters: Long,
    problems: Seq[String]) {
  def recoveredFrac: Double = if (planted == 0) 0.0 else recovered.toDouble / planted
}

object Checks {

  /** Recovery cosine threshold, and the floor each run's recovered
    * fraction must meet: recorded once, below the lowest fractions seen
    * while the workloads were defined (pipeline_ref 1.0, ingest_wide 0.75). */
  val MinCosine = 0.9
  val RecoveredFloor = 0.6

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Planted analytes matched by a best-model mass-mode component with
    * cosine ≥ [[MinCosine]] over the slice's MS2 m/z partitions. */
  def recovery(analytes: Seq[Analyte], best: Seq[ParafacModelRow]): Int = {
    val keys = best.map(_.swath_key).distinct.sortBy(_.toDouble)
    val bySlice = best.map(m => (m.swath_key, m.rt_window) -> m).toMap
    analytes.count { a =>
      val key = keys.filter(_.toDouble <= a.precursorMz).lastOption
      key.flatMap(k => bySlice.get((k, a.rtWindow))).exists { m =>
        val labels = m.mz_indices.map(Tensorizer.parseLabel).toArray
        val ms2 = labels.indices.filter(labels(_)._1 == 2).toArray
        val starts = ms2.map(labels(_)._2)
        val truth = new Array[Double](ms2.length)
        a.fragMz.indices.foreach { j =>
          val f = a.fragMz(j)
          val i = starts.lastIndexWhere(_ <= f * (1 + 20e-6))
          if (i >= 0 && f - starts(i) <= f * 45e-6) truth(i) += a.fragRel(j)
        }
        (0 until m.ncomp).exists { k =>
          val comp = ms2.map(r => m.mass_mode(r * m.ncomp + k).toDouble)
          cosine(truth, comp) >= MinCosine
        }
      }
    }
  }

  /** Check one run's outputs; everything here runs after the timer. */
  def check(
      spark: SparkSession,
      corpus: Corpus,
      w: Workload,
      res: CandiaResult,
      scans: Int,
      exportPath: String): Outcome = {
    import spark.implicits._
    val cfg = w.config
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val slices = res.peaks.toDF().select(col("swath_lower_adjusted"), col("rt_window"))
      .distinct().count()
    val tensors = res.tensors.collect()
    // tensorize drops the slices it fails on
    val tensorErrors = slices - tensors.length
    val nonTrivial = tensors.filterNot(Decomposer.isTrivial)
      .map(t => (t.swath_key, t.rt_window)).toSet
    val models = res.models.collect()
    val bestKeys = res.bestModels
      .select(col("swath_start_key"), col("rt_window"), col("ncomp")).as[(String, Int, Int)]
      .collect().toSet
    val best = models.filter(m => bestKeys((m.swath_key, m.rt_window, m.ncomp)))
    val nF = cfg.parafacMaxComp - cfg.parafacMinComp + 1
    val badRsq = models.count(m => m.rsq.isNaN || m.rsq.isInfinite)

    if (tensorErrors > 0) problems += s"$tensorErrors slices failed to tensorize"
    if (badRsq > 0) problems += s"$badRsq decompositions with non-finite R²"
    if (models.length != nonTrivial.size * nF)
      problems += s"${models.length} models for ${nonTrivial.size} slices × $nF ranks"
    // selection keeps, per slice, the models with the largest share of
    // unimodal components, and drops models with none
    val selectable = res.peakCounts.collect().filter(_.npeaks == 1)
      .map(c => (c.swath_key, c.rt_window)).toSet
    val selected = best.map(m => (m.swath_key, m.rt_window)).toSet
    if (selected != selectable)
      problems += s"${selected.size} slices with a best model, ${selectable.size} with a unimodal component"
    val missing = nonTrivial -- selected
    if (w.everySliceSelected && missing.nonEmpty)
      problems += s"${missing.size} non-trivial slices without a best model"
    if (best.length != bestKeys.size) problems += s"${bestKeys.size} best keys, ${best.length} models"
    val components = best.map(_.ncomp).sum
    val inFile = {
      val s = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(exportPath)),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      "<scan num=".r.findAllMatchIn(s).length
    }
    if (scans <= 0 || scans > components || inFile != scans)
      problems += s"exported $scans scans ($inFile in file) for $components best-model components"
    val planted = corpus.analytes.length
    val recovered = recovery(corpus.analytes, best.toSeq)
    if (recovered.toDouble / planted < RecoveredFloor)
      problems += f"recovered ${recovered.toDouble / planted}%.3f below floor $RecoveredFloor"
    Outcome(slices + models.length, tensorErrors + badRsq, recovered, planted,
      models.map(_.iterations.toLong).sum, problems.toSeq)
  }
}
