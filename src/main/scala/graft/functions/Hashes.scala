package graft.functions

/** Hash primitives used across the engine. Static-forwarder friendly for
  * Catalyst codegen.
  *
  * - FNV-1a 32: the partition-mapping hash
  *   (`/root/reference/message/routines.go:88-90`).
  * - CRC64-ECMA: the per-stream running checksum of the stream-sum
  *   example (`/root/reference/examples/stream-sum/stream_sum.go:100-112`),
  *   matching Go's `hash/crc64` ECMA polynomial (reflected).
  */
object Hashes {

  final val FnvOffset32: Int = 0x811c9dc5 // 2166136261
  final val FnvPrime32: Int = 16777619

  /** FNV-1a 32-bit over raw bytes; returned as unsigned in a long. */
  def fnv1a32(bytes: Array[Byte]): Long = {
    var h = FnvOffset32
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xff)
      h *= FnvPrime32
      i += 1
    }
    h & 0xffffffffL
  }

  /** CRC64 with the ECMA polynomial, reflected (Go hash/crc64 semantics). */
  private val Ecma: Long = 0xC96C5795D7870F42L

  private val table: Array[Long] = {
    val t = new Array[Long](256)
    var i = 0
    while (i < 256) {
      var crc = i.toLong
      var j = 0
      while (j < 8) {
        crc = if ((crc & 1L) == 1L) (crc >>> 1) ^ Ecma else crc >>> 1
        j += 1
      }
      t(i) = crc
      i += 1
    }
    t
  }

  /** One-shot CRC64-ECMA of `bytes`. */
  def crc64(bytes: Array[Byte]): Long = crc64Update(0L, bytes)

  /** Running update: crc64Update(prev, chunk) == crc64(prevBytes ++ chunk). */
  def crc64Update(prev: Long, bytes: Array[Byte]): Long = {
    var crc = ~prev
    var i = 0
    while (i < bytes.length) {
      crc = table(((crc ^ (bytes(i) & 0xffL)) & 0xff).toInt) ^ (crc >>> 8)
      i += 1
    }
    ~crc
  }
}
