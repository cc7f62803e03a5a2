package graft.multimodal

import graft.LocalSpark
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic media fixture corpora for the x20/x21 differential rows —
  * the payload bytes are REAL containers (24-bit BMP via [[Multimodal.bmp24]],
  * RIFF/WAVE PCM via [[Multimodal.wavPcmPayload]]) whose uncompressed layout
  * a SQL engine can slice directly, so the DuckDB oracle recomputes the
  * image/audio contrast signatures from the SAME blob bytes the engine's
  * javax.imageio / RIFF decode paths consume. Pixel/sample content is a
  * fixed integer formula (no RNG): the committed parquet under data/media
  * is reproducible byte-for-byte by rerunning [[main]].
  *
  * Edge rows are part of the contract (and of the hash):
  *  - a FLAT payload (constant luma/amplitude) → zero signature via the
  *    norm guard, score 0 against any query;
  *  - a NULL payload → undecodable block (zeros, indicator −1), score −w;
  *  - a SHORT corrupt payload (< 8 bytes — below even the fake-header
  *    minimum, so no codec path can claim it) → undecodable block.
  */
object MediaFixture {

  val imagesPath = "/root/repo/data/media/images.parquet"
  val audioPath  = "/root/repo/data/media/audio.parquet"
  val videosPath = "/root/repo/data/media/videos.parquet"

  /** 16×16 so a 4×4 grid pools 4×4-pixel cells: 16 pixels per cell keeps
    * every mean a dyadic rational (exact in IEEE double on both engines). */
  val ImgW = 16; val ImgH = 16
  val NImages = 40

  def imagePayload(id: Long): Array[Byte] =
    if (id < NImages)
      Multimodal.bmp24(ImgW, ImgH, (x, y) => (
        ((id * 37 + y * 11 + x * 7) % 256).toInt,
        ((id * 23 + y * 5 + x * 13) % 256).toInt,
        ((id * 41 + y * 3 + x * 17) % 256).toInt))
    else if (id == NImages.toLong) // flat gray → zero signature
      Multimodal.bmp24(ImgW, ImgH, (_, _) => (77, 77, 77))
    else if (id == NImages + 1L) null
    else Array[Byte](1, 2, 3, 4) // corrupt: shorter than any header

  /** 64 frames so a 4×1 grid pools 16-frame cells (dyadic-exact means for
    * mono; 32 samples per cell for the stereo rows — still a power of 2).
    * Rows 0–39 mono 16-bit, 40–41 stereo 16-bit (pins the channel-major
    * plane mapping), 42–43 mono 8-bit (pins the unsigned→signed recenter),
    * then flat / null / corrupt. The 16-bit low byte is deliberately
    * non-zero noise: the engine keeps only the high byte, and the oracle
    * must slice the same one. */
  val Frames = 64
  val NAudio = 44

  def audioPayload(id: Long): Array[Byte] =
    if (id < 40)
      Multimodal.wavPcmPayload(1, 16, Frames, (_, i) =>
        // id-dependent slope AND curvature: a per-id constant offset alone
        // would cancel under the signature's zero-centering (tie-heavy)
        ((((id * 73 + i.toLong * (id + 17) + i.toLong * i * (id % 13 + 3)) % 256) - 128) << 8).toInt |
          ((id + i) % 256).toInt)
    else if (id < 42)
      Multimodal.wavPcmPayload(2, 16, Frames, (c, i) =>
        ((((id * 31 + c * 97 + i.toLong * (id + 7 * c + 5) + i.toLong * i * (3 + c)) % 256) - 128) << 8).toInt |
          ((c * 7 + i) % 256).toInt)
    else if (id < 44)
      Multimodal.wavPcmPayload(1, 8, Frames, (_, i) => ((id * 57 + i * 41) % 256).toInt)
    else if (id == NAudio.toLong) // flat → zero signature
      Multimodal.wavPcmPayload(1, 16, Frames, (_, _) => 50 << 8)
    else if (id == NAudio + 1L) null
    else Array[Byte](9, 9, 9)

  /** 4 frames of 16×16 BMP per AVI: the mjpegAvi film strip is 16×64, so
    * a 4×16 grid pools 4×4-pixel cells (16 px — dyadic-exact means, x20's
    * discipline) and each frame contributes 4 cell rows: the signature is
    * a joint spatio-TEMPORAL contrast map. Frames are complete BMP files
    * inside '00db' chunks ([[Multimodal.aviPayload]]) so every frame byte
    * sits at a fixed, SQL-sliceable offset. The extra edge row (vs
    * x20/x21's flat/null/corrupt trio) is a MIXED-DIMENSIONS AVI — the
    * strict per-frame decode refuses it ("frames disagree"), pinning that
    * path under the hash via the undecodable −1 indicator. */
  val VidFrames = 4
  val NVideos = 30

  def videoPayload(id: Long): Array[Byte] =
    if (id < NVideos)
      Multimodal.aviPayload((0 until VidFrames).map(f =>
        Multimodal.bmp24(ImgW, ImgH, (x, y) => (
          ((id * 37 + f * 53 + y * 11 + x * 7) % 256).toInt,
          ((id * 23 + f * 29 + y * 5 + x * 13) % 256).toInt,
          ((id * 41 + f * 61 + y * 3 + x * 17) % 256).toInt))))
    else if (id == NVideos.toLong) // flat frames → zero signature
      Multimodal.aviPayload(Seq.fill(VidFrames)(
        Multimodal.bmp24(ImgW, ImgH, (_, _) => (77, 77, 77))))
    else if (id == NVideos + 1L) null
    else if (id == NVideos + 2L) Array[Byte](1, 2, 3, 4) // corrupt short
    else // frames disagree on dimensions → strict decode refuses
      Multimodal.aviPayload(Seq(
        Multimodal.bmp24(ImgW, ImgH, (x, y) => (x * 16, y * 16, 0)),
        Multimodal.bmp24(8, 8, (x, y) => (x * 32, y * 32, 0))))

  def images(spark: SparkSession): DataFrame = corpus(spark, NImages + 3, imagePayload)
  def audio(spark: SparkSession): DataFrame = corpus(spark, NAudio + 3, audioPayload)
  def videos(spark: SparkSession): DataFrame = corpus(spark, NVideos + 4, videoPayload)

  private def corpus(spark: SparkSession, n: Int,
                     payload: Long => Array[Byte]): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, payload(i.toLong))).toDF("media_id", "payload")
  }

  /** Regenerate the committed fixtures (single tiny file each). */
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.session(cores = 2)
    images(spark).coalesce(1).write.mode("overwrite").parquet(imagesPath)
    audio(spark).coalesce(1).write.mode("overwrite").parquet(audioPath)
    videos(spark).coalesce(1).write.mode("overwrite").parquet(videosPath)
    println(s"[media-fixture] wrote $imagesPath, $audioPath and $videosPath")
    spark.stop()
  }
}
