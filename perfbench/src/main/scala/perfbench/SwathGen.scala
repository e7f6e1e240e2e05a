package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.util.{Base64, SplittableRandom}
import java.util.zip.Deflater

import scala.collection.mutable.ArrayBuffer

/** Shape of a synthetic SWATH corpus. Every file acquires the same
  * cycle: one MS1 scan, then one MS2 scan per isolation window. */
final case class CorpusShape(
    files: Int,
    swaths: Int,
    rtWindows: Int,
    analytesPerSlice: Int,
    fragments: Int, //        fragment ions per analyte
    backgroundIons: Int, //   constant chemical-noise ions per swath
    noisePeaks: Int) //       random one-off peaks per MS2 scan

/** One planted analyte: a fragment spectrum eluting with a Gaussian
  * profile in one (swath, RT window) slice, scaled per sample. */
final case class Analyte(
    swath: Int,
    rtWindow: Int, //                 ordinal of floor(rt / windowSizeSec)
    precursorMz: Double,
    fragMz: Array[Double],
    fragRel: Array[Double], //        max-normalised fragment intensities
    rtCenter: Double,
    rtSigma: Double,
    abundance: Array[Double]) //      per file

/** A generated corpus and what the generator wrote. */
final case class Corpus(
    shape: CorpusShape,
    files: Seq[String],
    analytes: Seq[Analyte],
    spectra: Long,
    peaks: Long,
    bytes: Long) {
  def slices: Int = shape.swaths * shape.rtWindows
  def mb: Double = bytes / 1e6
}

/** Seeded SWATH mzML generator with planted PARAFAC structure.
  *
  * Each MS2 peak of an analyte is elution profile × fragment intensity ×
  * sample abundance, with 5 % multiplicative noise, random gaps (so the
  * tensors carry NaN cells and imputation runs) and m/z jitter of at most
  * ±15 ppm (one partition at the pipeline's 40 ppm tolerance). MS1 scans
  * carry each analyte's precursor isotope envelope. Constant background
  * ions and random one-off noise peaks fill the scans. Files cycle
  * through the four binary encodings the mzML reader accepts: zlib or
  * plain base64, 32- or 64-bit floats. The planted truth goes to a JSON
  * sidecar next to the files.
  *
  * The analyte library of a shape is fixed ([[LibrarySeed]]), like
  * technical replicates of one sample; the run seed draws the
  * acquisition: intensity noise, gaps, jitter, one-off noise peaks and
  * per-file RT offsets. Runs then differ as replicate acquisitions of one
  * sample do, not by the luck of a freshly drawn library.
  */
object SwathGen {

  private val DetectionFloor = 5.0
  private val GapProb = 0.03
  // MS1 precursors are scanned up to a cycle before their fragments;
  // kept weaker than the fragment spectrum so that shift stays minor
  private val Ms1Scale = 0.3
  private val JitterPpm = 15.0
  private val MinFragSepPpm = 150.0
  private val LibrarySeed = 20200731L
  // acquisition layout: 2 s cycles, 25 Da isolation windows from 400 m/z,
  // RT from 600 s in windows of the pipeline's default 60 s
  private val CycleSec = 2.0
  private val WindowSizeSec = 60.0
  private val SwathWidth = 25.0
  private val FirstSwathLower = 400.0
  private val RtStartSec = 600.0
  // one-off noise peaks sit above the fragment range (150–1400): they cost
  // parsing, slicing and tensorizing, but never split a fragment's greedy
  // m/z partition, which would make the planted time profiles ragged
  private val NoiseLo = 1450.0
  private val NoiseHi = 2000.0

  private def gauss(r: SplittableRandom): Double = {
    // Box–Muller; SplittableRandom has no nextGaussian
    val u1 = math.max(r.nextDouble(), 1e-300)
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  private def swathBounds(w: Int): (Double, Double) = {
    val lo = FirstSwathLower + w * SwathWidth
    (lo, lo + SwathWidth)
  }

  /** Draw m/z values in [lo, hi) at least `MinFragSepPpm` from each
    * other and from `taken`, so distinct ions never share a partition. */
  private def distinctMz(
      r: SplittableRandom, n: Int, lo: Double, hi: Double,
      taken: ArrayBuffer[Double]): Array[Double] = {
    val out = ArrayBuffer.empty[Double]
    var tries = 0
    while (out.length < n && tries < n * 200) {
      val mz = lo + r.nextDouble() * (hi - lo)
      if (taken.forall(t => math.abs(t - mz) > mz * MinFragSepPpm / 1e6)) {
        out += mz
        taken += mz
      }
      tries += 1
    }
    out.toArray
  }

  private def plant(sh: CorpusShape): (Seq[Analyte], Array[Array[Double]]) = {
    val r = new SplittableRandom(LibrarySeed)
    val analytes = ArrayBuffer.empty[Analyte]
    val background = Array.tabulate(sh.swaths) { w =>
      val taken = ArrayBuffer.empty[Double]
      val bg = distinctMz(r, sh.backgroundIons, 150.0, 1400.0, taken)
      for (rw <- 0 until sh.rtWindows) {
        val (lo, hi) = swathBounds(w)
        val sliceTaken = taken.clone()
        val winStart = RtStartSec + rw * WindowSizeSec
        // elution centres stratified over the window's middle, so the
        // planted profiles stay distinguishable
        val stratum = (WindowSizeSec - 24.0) / sh.analytesPerSlice
        for (i <- 0 until sh.analytesPerSlice) {
          val frags = distinctMz(r, sh.fragments, 150.0, 1400.0, sliceTaken)
          val rel0 = frags.map(_ => math.exp(0.8 * gauss(r)))
          val top = rel0.max
          // sharp peaks: the CWT unimodality count (widths 1..2·expected)
          // reads a wider peak as two peaks every few dozen slices
          val fwhm = 3.5 + 1.0 * r.nextDouble()
          val base = 2e4 * math.exp(r.nextDouble() * math.log(10.0))
          analytes += Analyte(
            swath = w,
            rtWindow = (winStart / WindowSizeSec).toInt,
            precursorMz = lo + 1.0 + r.nextDouble() * (hi - lo - 2.0),
            fragMz = frags,
            fragRel = rel0.map(_ / top),
            rtCenter = winStart + 12.0 + (i + 0.2 + 0.6 * r.nextDouble()) * stratum,
            rtSigma = fwhm / 2.3548,
            abundance = Array.fill(sh.files)(base * math.exp(0.6 * gauss(r))))
        }
      }
      bg
    }
    (analytes.toSeq, background)
  }

  // ---------------------------------------------------------- encoding
  private def encode(values: Array[Double], is64: Boolean, zlib: Boolean): String = {
    val bb = ByteBuffer.allocate(values.length * (if (is64) 8 else 4))
      .order(ByteOrder.LITTLE_ENDIAN)
    values.foreach(v => if (is64) bb.putDouble(v) else bb.putFloat(v.toFloat))
    var bytes = bb.array()
    if (zlib) {
      val d = new Deflater(Deflater.BEST_SPEED)
      d.setInput(bytes)
      d.finish()
      val out = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
      val buf = new Array[Byte](1 << 14)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end()
      bytes = out.toByteArray
    }
    Base64.getEncoder.encodeToString(bytes)
  }

  private def arrayXml(
      sb: java.lang.StringBuilder, isMz: Boolean, values: Array[Double],
      is64: Boolean, zlib: Boolean): Unit = {
    sb.append("<binaryDataArray>")
    sb.append(if (isMz) "<cvParam accession=\"MS:1000514\" name=\"m/z array\"/>"
      else "<cvParam accession=\"MS:1000515\" name=\"intensity array\"/>")
    sb.append(if (is64) "<cvParam accession=\"MS:1000523\" name=\"64-bit float\"/>"
      else "<cvParam accession=\"MS:1000521\" name=\"32-bit float\"/>")
    sb.append(if (zlib) "<cvParam accession=\"MS:1000574\" name=\"zlib compression\"/>"
      else "<cvParam accession=\"MS:1000576\" name=\"no compression\"/>")
    sb.append("<binary>").append(encode(values, is64, zlib)).append("</binary></binaryDataArray>\n")
  }

  // ---------------------------------------------------------- writing
  /** Write the corpus under `dir` (created; existing files replaced). */
  def generate(sh: CorpusShape, seed: Long, dir: String): Corpus = {
    val (analytes, background) = plant(sh)
    new File(dir).mkdirs()
    val bySwath = analytes.groupBy(_.swath).withDefaultValue(Nil)
    // one cycle short of the span, so no scan of the last cycle spills
    // into an RT window that has no MS1 scan
    val nCycles = math.round(sh.rtWindows * WindowSizeSec / CycleSec).toInt - 1
    val ms1Background = {
      val r = new SplittableRandom(LibrarySeed ^ 0x5DEECE66DL)
      val (lo, _) = swathBounds(0)
      val (_, hi) = swathBounds(sh.swaths - 1)
      distinctMz(r, 4 * sh.swaths, lo + 0.5, hi - 0.5, ArrayBuffer.empty)
    }
    var spectra = 0L
    var peaks = 0L
    var bytes = 0L
    val files = (0 until sh.files).map { f =>
      val path = s"$dir/sample_$f.mzML"
      val r = new SplittableRandom(seed * 1000003L + f)
      val is64 = (f / 2) % 2 == 0
      val zlib = f % 2 == 0
      val offset = 0.3 * r.nextDouble()
      val w = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(path), StandardCharsets.UTF_8), 1 << 20)
      val sb = new java.lang.StringBuilder(1 << 16)
      w.write("<?xml version=\"1.0\" encoding=\"utf-8\"?>\n" +
        "<mzML xmlns=\"http://psi.hupo.org/ms/mzml\" version=\"1.1.0\">\n" +
        s"<run id=\"sample_$f\"><spectrumList count=\"${nCycles * (1 + sh.swaths)}\">\n")
      var index = 0
      def emit(level: Int, rt: Double, target: Double, mz: ArrayBuffer[Double],
          it: ArrayBuffer[Double]): Unit = {
        val order = mz.indices.sortBy(mz(_))
        val mzA = order.map(mz(_)).toArray
        val itA = order.map(it(_)).toArray
        sb.setLength(0)
        sb.append("<spectrum index=\"").append(index)
          .append("\" id=\"scan=").append(index + 1)
          .append("\" defaultArrayLength=\"").append(mzA.length).append("\">\n")
        sb.append("<cvParam accession=\"MS:1000511\" name=\"ms level\" value=\"")
          .append(level).append("\"/>\n")
        sb.append("<scanList count=\"1\"><scan><cvParam accession=\"MS:1000016\" " +
          "name=\"scan start time\" value=\"").append(rt)
          .append("\" unitName=\"second\"/></scan></scanList>\n")
        if (level == 2) {
          sb.append("<precursorList count=\"1\"><precursor><isolationWindow>")
          sb.append("<cvParam accession=\"MS:1000827\" name=\"isolation window target m/z\" value=\"")
            .append(target).append("\"/>")
          val off = SwathWidth / 2 + 0.5
          sb.append("<cvParam accession=\"MS:1000828\" name=\"isolation window lower offset\" value=\"")
            .append(off).append("\"/>")
          sb.append("<cvParam accession=\"MS:1000829\" name=\"isolation window upper offset\" value=\"")
            .append(off).append("\"/>")
          sb.append("</isolationWindow></precursor></precursorList>\n")
        }
        sb.append("<binaryDataArrayList count=\"2\">\n")
        arrayXml(sb, isMz = true, mzA, is64, zlib)
        arrayXml(sb, isMz = false, itA, is64, zlib)
        sb.append("</binaryDataArrayList></spectrum>\n")
        w.write(sb.toString)
        spectra += 1
        peaks += mzA.length
        index += 1
      }
      def profile(a: Analyte, t: Double): Double = {
        val z = (t - a.rtCenter) / a.rtSigma
        if (math.abs(z) > 4.5) 0.0 else math.exp(-0.5 * z * z)
      }
      def jitter(mz: Double): Double = {
        val ppm = math.max(-JitterPpm, math.min(JitterPpm, 6.0 * gauss(r)))
        mz * (1.0 + ppm / 1e6)
      }
      for (c <- 0 until nCycles) {
        val t0 = RtStartSec + 0.2 + c * CycleSec + offset
        // MS1: precursor isotope envelopes (z = 2) + background ions
        val mz1 = ArrayBuffer.empty[Double]
        val it1 = ArrayBuffer.empty[Double]
        analytes.foreach { a =>
          val p = profile(a, t0)
          if (p > 0) {
            var k = 0
            while (k < 3) {
              val v = a.abundance(f) * Ms1Scale * p * Array(1.0, 0.6, 0.25)(k) *
                (1.0 + 0.05 * gauss(r))
              if (v >= DetectionFloor && r.nextDouble() > GapProb) {
                mz1 += jitter(a.precursorMz + k * 0.50168); it1 += v
              }
              k += 1
            }
          }
        }
        ms1Background.foreach { mz =>
          mz1 += jitter(mz); it1 += 500.0 * (1.0 + 0.3 * r.nextDouble())
        }
        emit(1, round4(t0), Double.NaN, mz1, it1)
        for (sw <- 0 until sh.swaths) {
          val t = t0 + (sw + 1) * CycleSec / (sh.swaths + 1)
          val (lo, hi) = swathBounds(sw)
          val mz2 = ArrayBuffer.empty[Double]
          val it2 = ArrayBuffer.empty[Double]
          bySwath(sw).foreach { a =>
            val p = profile(a, t)
            if (p > 0) {
              var j = 0
              while (j < a.fragMz.length) {
                val v = a.abundance(f) * a.fragRel(j) * p * (1.0 + 0.05 * gauss(r))
                if (v >= DetectionFloor && r.nextDouble() > GapProb) {
                  mz2 += jitter(a.fragMz(j)); it2 += v
                }
                j += 1
              }
            }
          }
          background(sw).foreach { mz =>
            mz2 += jitter(mz); it2 += 200.0 * (1.0 + 0.3 * r.nextDouble())
          }
          var k = 0
          while (k < sh.noisePeaks) {
            mz2 += NoiseLo + r.nextDouble() * (NoiseHi - NoiseLo)
            it2 += 2.0 + 48.0 * r.nextDouble()
            k += 1
          }
          emit(2, round4(t), (lo + hi) / 2, mz2, it2)
        }
      }
      w.write("</spectrumList></run>\n</mzML>\n")
      w.close()
      bytes += new File(path).length()
      path
    }
    writeTruth(s"$dir/truth.json", sh, seed, analytes, spectra, peaks, bytes)
    Corpus(sh, files, analytes, spectra, peaks, bytes)
  }

  private def round4(v: Double): Double = math.rint(v * 1e4) / 1e4

  private def writeTruth(
      path: String, sh: CorpusShape, seed: Long, analytes: Seq[Analyte],
      spectra: Long, peaks: Long, bytes: Long): Unit = {
    def arr(a: Array[Double]) = a.map(v => f"$v%.6f").mkString("[", ",", "]")
    val rows = analytes.map { a =>
      s"""{"swath":${a.swath},"rt_window":${a.rtWindow},"precursor_mz":${a.precursorMz},""" +
        s""""rt_center":${a.rtCenter},"rt_sigma":${a.rtSigma},"frag_mz":${arr(a.fragMz)},""" +
        s""""frag_rel":${arr(a.fragRel)},"abundance":${arr(a.abundance)}}"""
    }
    val json = s"""{"seed":$seed,"shape":"$sh","spectra":$spectra,"peaks":$peaks,""" +
      s""""bytes":$bytes,"analytes":[\n${rows.mkString(",\n")}\n]}\n"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      json.getBytes(StandardCharsets.UTF_8))
  }

  /** Parse the corpus back through the program's mzML reader and compare
    * spectrum and peak counts with what was written. */
  def selfCheck(spark: org.apache.spark.sql.SparkSession, c: Corpus): Option[String] = {
    import org.apache.spark.sql.functions._
    val row = graft.sources.MzMLSource.read(spark, c.files).toDF()
      .agg(count(lit(1)), countDistinct(col("file"), col("spectrum_index")))
      .head()
    val (p, s) = (row.getLong(0), row.getLong(1))
    if (p == c.peaks && s == c.spectra) None
    else Some(s"mzML read-back: $p peaks / $s spectra, wrote ${c.peaks} / ${c.spectra}")
  }
}
