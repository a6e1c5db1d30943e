package graftbench

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.StringType

import graft.functions._
import graft.ops.Multimodal

/** Single-threaded driver-side throughput of the byte codecs and text
  * hash kernels, through their public entry points, on a fixed payload
  * sample drawn from the workload's `documents` through the `*Payloads`
  * helpers (zstd and brotli streams are the encoder fixtures the extract
  * queries select per document). */
object KernelProbe {
  val Sample = 24
  val MinSeconds = 0.25

  def run(spark: SparkSession, dir: String): Map[String, Double] = {
    import spark.implicits._
    // the helpers emit each document's source payload beside its encoded
    // twins; the sample keeps the first payloads in the kernel's format
    def take(ds: Dataset[(Long, Array[Byte])], magic: Array[Byte] => Boolean): Seq[Array[Byte]] =
      ds.collect().sortBy(_._1).map(_._2).filter(b => b.length > 4 && magic(b)).take(Sample).toSeq
    def starts(tag: String)(b: Array[Byte]) = b.startsWith(tag.getBytes("ISO-8859-1"))
    val docs = graft.core.Tables.documents(spark, dir)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1).take(Sample)
    val ids = docs.map(_._1)
    val texts = docs.map(_._2.getBytes("UTF-8")).toSeq
    def hash(b: Array[Byte]) = Literal.create(new String(b, "UTF-8"), StringType)
    val kernels: Seq[(String, Seq[Array[Byte]], Array[Byte] => Boolean)] = Seq(
      ("jpeg", take(Multimodal.imageJpegVariantPayloads(spark, dir), starts("\u00ff\u00d8")),
        b => JpegCodec.decodePixels(b).isDefined),
      ("png", take(Multimodal.imagePayloads(spark, dir), starts("\u0089PNG")),
        b => ImageCodec.decodePixels(b).isDefined),
      ("flac", take(Multimodal.audioFlacVariantPayloads(spark, dir), starts("fLaC")),
        b => FlacCodec.decodePcm(b).isDefined),
      ("mp3", take(Multimodal.audioMp3VariantPayloads(spark, dir), b => !starts("RIFF")(b)),
        b => Mp3Layer3.decodePcm(b).isDefined),
      ("vorbis", take(Multimodal.audioVorbisVariantPayloads(spark, dir), starts("OggS")),
        b => VorbisCodec.decodePcm(b).isDefined),
      ("pdf", take(Multimodal.pdfPayloads(spark, dir), starts("%PDF")),
        b => PdfCodec.extractPages(b).isDefined),
      ("zstd", ids.map(id => ZstdCliFixtures.frames((id % ZstdCliFixtures.frames.length).toInt)).toSeq,
        b => ZstdCodec.extract(b).isDefined),
      ("brotli", ids.map(id => BrotliCliFixtures.all((id % BrotliCliFixtures.all.length).toInt).stream).toSeq,
        b => BrotliCodec.decode(b).isDefined),
      ("shingle", texts, b => ShingleHash(hash(b), 3).eval() != null),
      ("simhash", texts, b => SimHash60(hash(b)).eval() != null))

    var attempts, failures = 0
    val rates = kernels.map { case (name, payloads, decode) =>
      require(payloads.nonEmpty, s"no $name payloads in the sample")
      failures += payloads.count(p => !decode(p)) // first pass also warms the JIT
      attempts += payloads.size
      val bytes = payloads.map(_.length.toLong).sum
      val t0 = System.nanoTime()
      var passes = 0
      while ((System.nanoTime() - t0) / 1e9 < MinSeconds) {
        payloads.foreach(decode)
        passes += 1
      }
      s"functions.${name}_mb_s" -> bytes * passes / 1e6 / ((System.nanoTime() - t0) / 1e9)
    }
    (rates :+ ("functions.decode_fail_ratio" -> failures.toDouble / attempts)).toMap
  }
}
