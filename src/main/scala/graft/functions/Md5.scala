package graft.functions

/** The one MD5-hex implementation for imperative (non-Catalyst)
  * sites — the multimodal codec passes hash content to the same
  * 32-char lowercase hex as SQL `md5()`, and the discipline (charset,
  * casing) must not drift between them.
  * Thread-local digest: per-row calls reuse one instance per task
  * thread instead of re-allocating.
  */
object Md5 {
  private val local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val HexChars = "0123456789abcdef".toCharArray

  def hex(bytes: Array[Byte]): String = {
    val md = local.get()
    md.reset()
    val d = md.digest(bytes)
    // nibble lookup, not f"%02x": the interpolation allocates a
    // java.util.Formatter per byte — 16 per hash on per-row paths
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      val b = d(i) & 0xff
      out(i * 2) = HexChars(b >>> 4)
      out(i * 2 + 1) = HexChars(b & 0xf)
      i += 1
    }
    new String(out)
  }

  def hex(s: String): String =
    hex(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
