package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String) = s"/root/testdata/$dir"

  /** Deterministic in-memory grayscale PNG: fill(x, y) → 0–255 luma,
    * rendered through javax.imageio — the REAL decode path. Shared by the
    * image-block and engine specs so they can never drift onto different
    * fixture conventions. */
  protected def png(w: Int, h: Int)(fill: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = fill(x, y) & 0xff
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Run `body` with the given session confs set, restoring the old
    * values afterwards. */
  protected def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Hex md5 of a UTF-8 string — the driver-side twin of Spark/DuckDB
    * `md5(text)` used wherever a spec pins a rewritten text by hash. */
  protected def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}

object SparkSpec {
  lazy val session: SparkSession = LocalSpark.session(
    cores = 4, conf = Seq("spark.app.name" -> "graft-test"), logLevel = "ERROR")
}
