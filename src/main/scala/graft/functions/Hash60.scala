package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** The shared 60-bit hash, JVM side: the first 60 bits of MD5, i.e.
  * `conv(substr(md5(s),1,15),16,10)` — operators.Text.hash60's Column
  * spelling and the oracle's h60 — computed straight from the digest
  * bytes with no hex-string detour. The one kernel behind the streaming
  * sketches (TextStreams.hash60) and the codegen'd `min_gram_hash60` /
  * `span_hashes60` expressions.
  */
object Hash60 {

  /** One MessageDigest per thread, reused across rows: `digest()` resets
    * the instance, and `getInstance` per row is provider-lookup overhead
    * in every hot loop that hashes.
    */
  private val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** This thread's MD5 instance. Callers must leave it reset: finish
    * with `digest` (which resets) or call `reset()`.
    */
  def md5(): MessageDigest = mdLocal.get()

  /** First 15 hex chars of md5 = bytes 0..6 plus the high nibble of
    * byte 7 — exactly conv(substr(md5_hex,1,15),16,10), in [0, 2^60).
    */
  def fold60(d: Array[Byte]): Long = {
    var v = 0L
    var b = 0
    while (b < 7) { v = (v << 8) | (d(b) & 0xFF); b += 1 }
    (v << 4) | ((d(7) & 0xFF) >>> 4)
  }

  /** hash60 of the string's UTF-8 bytes. */
  def of(s: String): Long = fold60(md5().digest(s.getBytes(UTF_8)))
}
