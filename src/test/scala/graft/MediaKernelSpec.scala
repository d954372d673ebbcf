package graft

import graft.operators.Multimodal
import org.scalatest.funsuite.AnyFunSuite

/** Pins the pixel kernel behind `imageAHash`, `imageAHashWide` and
  * `imageLumaGrid`: every output over the generator corpus
  * `encodeTestImage(0 until 256, dimScale ∈ {1, 4})` (PNG and JPEG,
  * gray/RGB/ARGB, every 7th payload corrupt) at every grid each
  * reading admits, so any change to the kernel's arithmetic shows.
  * No oracle reads `imageLumaGrid` directly; this is its only
  * end-to-end pin. */
class MediaKernelSpec extends AnyFunSuite {

  /** One line per (payload, reading, grid): the rendered output. */
  def kernelLines(): Seq[String] = {
    val out = Vector.newBuilder[String]
    for (scale <- Seq(1, 4); i <- 0L until 256L) {
      val b = Multimodal.encodeTestImage(i, scale)
      def opt[T](o: Option[T])(show: T => String) =
        o.fold("none")(show)
      for (g <- 1 to 8)
        out += s"$scale/$i/a$g/" + opt(Multimodal.imageAHash(b, g))(
          _.toString)
      for (g <- 1 to 16) {
        out += s"$scale/$i/w$g/" + opt(Multimodal.imageAHashWide(b, g))(
          _.mkString(","))
        out += s"$scale/$i/l$g/" + opt(Multimodal.imageLumaGrid(b, g))(
          _.mkString(","))
      }
    }
    out.result()
  }

  def sha256(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l =>
      md.update(l.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  test("media kernel: aHash, wide aHash and luma grid over the " +
    "generator corpus match the pinned digest") {
    val lines = kernelLines()
    assert(lines.size == 2 * 256 * (8 + 2 * 16))
    assert(sha256(lines) == MediaKernelSpec.Digest)
  }
}

object MediaKernelSpec {
  val Digest =
    "1c5b79361b8421a2f2e96c5f5649a66bf52c97104e75bcb50c7e6c902662ebda"
}
