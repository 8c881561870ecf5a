package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Kernels, PixelCodec, SparkImage}
import graft.functions.MinhashUtil
import graft.pipeline.Graph
import graft.queries.QueryDsl
import graft.sources.ImageCodecIO

/** Native kernels timed outside Spark on seeded synthetic inputs.
  * Each figure is the median of repeated calls after two warm-up calls. */
object KernelTimings {
  private val Side = 512
  private val Pixels = Side.toDouble * Side

  /** Median seconds per call of `f`: two warm-up calls, then at least
    * `minReps` calls and at least `budgetS` seconds of calls. */
  def medianCallS(budgetS: Double, minReps: Int = 5)(f: => Any): Double = {
    f; f
    val xs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    while (xs.size < minReps || (System.nanoTime() - start) / 1e9 < budgetS) {
      val t0 = System.nanoTime()
      f
      xs += (System.nanoTime() - t0) / 1e9
    }
    Stats.median(xs.toSeq)
  }

  /** `core.*`: ImageJ-style kernels on a 512×512 slice, ns per pixel. */
  def core(seed: Long, budgetS: Double): Seq[(String, Double)] = {
    val img = Kernels.blobImage(Side, Side, 60, seed)
    def nsPx(f: => Any) = medianCallS(budgetS)(f) * 1e9 / Pixels
    Seq(
      "core.median_ns_px" -> nsPx(Kernels.run(img, "Median...", "radius=2")),
      "core.gaussian_ns_px" -> nsPx(Kernels.run(img, "Gaussian Blur...", "sigma=2")),
      "core.stats_ns_px" -> nsPx(Kernels.stats(img)),
      "core.histogram_ns_px" -> nsPx(Kernels.histogram(img, 0.0, 256.0, 256)),
      "core.particles_ns_px" -> nsPx(Kernels.analyzeParticles(img)))
  }

  /** `sources.*`: DICOM write and read of a 16-bit 512×512 slice per
    * transfer syntax, MB of raw pixels per second. */
  def sources(seed: Long, budgetS: Double): Seq[(String, Double)] = {
    val blob = Kernels.blobImage(Side, Side, 60, seed)
    val img: SparkImage = blob.withPixels(blob.toDoubles.map(v => math.min(65535.0, v * 64)),
      PixelCodec.Short16)
    val mb = Pixels * 2 / 1e6
    Seq("jpegls" -> ImageCodecIO.TsJpegLs, "j2k" -> ImageCodecIO.TsJpeg2000Lossless,
      "jpeg_lossless" -> ImageCodecIO.TsJpegLossless, "dicom" -> ImageCodecIO.TsExplicitLE)
      .flatMap { case (name, ts) =>
        val bytes = ImageCodecIO.encodeDicom(img, transferSyntax = ts)
        val back = ImageCodecIO.decode("kernel.dcm", bytes)
        require(java.util.Arrays.equals(back.toDoubles, img.toDoubles),
          s"$name: lossless DICOM round trip changed pixels")
        Seq(
          s"sources.${name}_encode_mb_s" ->
            mb / medianCallS(budgetS)(ImageCodecIO.encodeDicom(img, transferSyntax = ts)),
          s"sources.${name}_decode_mb_s" ->
            mb / medianCallS(budgetS)(ImageCodecIO.decode("kernel.dcm", bytes)))
      }
  }

  /** `functions.*`: word 3-gram shingles and 64-hash/16-band MinHash
    * (the q32 parameters) over seeded 300-token documents, ns per doc. */
  def functions(seed: Long, budgetS: Double): Seq[(String, Double)] = {
    val rng = new scala.util.Random(seed)
    val vocab = Array.fill(2000)(rng.alphanumeric.take(3 + rng.nextInt(6)).mkString)
    val docs: Array[ArrayData] = Array.fill(200)(new GenericArrayData(
      Array.fill[Any](300)(UTF8String.fromString(vocab(rng.nextInt(vocab.length))))))
    val sh = docs.map(MinhashUtil.shingles(_, 3))
    def nsDoc(f: => Any) = medianCallS(budgetS)(f) * 1e9 / docs.length
    Seq(
      "functions.shingles_ns_doc" -> nsDoc(docs.foreach(MinhashUtil.shingles(_, 3))),
      "functions.minhash_ns_doc" -> nsDoc(sh.foreach(MinhashUtil.minhashBands(_, 64, 4))))
  }

  /** `pipeline.graph_driver_s`: the driver PageRank loop (10 rounds) on
    * the supplier co-occurrence edges q119 builds, seconds per call. */
  def pipeline(spark: SparkSession, dataDir: String, budgetS: Double): Seq[(String, Double)] = {
    import spark.implicits._
    val ew = Graph.supplierCooccurrence(QueryDsl.t(spark, dataDir, "lineitem"))
      .select(col("src"), col("dst"), col("w").cast("long"))
      .as[(Long, Long, Long)].collect()
    val n = ew.iterator.map(_._1).toSet.size.toLong
    Seq("pipeline.graph_driver_s" ->
      medianCallS(budgetS, minReps = 3)(Graph.driverRankLoop(ew, 10, _ => 1000000L / n, _ => 1000L)))
  }
}
