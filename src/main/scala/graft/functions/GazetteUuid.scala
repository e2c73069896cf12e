package graft.functions

/** RFC-4122 v1 UUID scheme with producer/clock/flags semantics.
  *
  * Semantics derived from the reference implementation
  * (`/root/reference/message/uuid.go:31-163`):
  *  - bytes [10,16) : ProducerID (6 random bytes, multicast bit set)
  *  - a 64-bit Clock = 60-bit count of 100ns ticks since the RFC-4122
  *    epoch (15 Oct 1582), in the upper bits, followed by a 4-bit
  *    sequence counter in the low nibble
  *  - 10 low bits of the clock-sequence field are Flags
  *    (0x0 OUTSIDE_TXN, 0x1 CONTINUE_TXN, 0x2 ACK_TXN)
  *
  * All methods are static-forwarder friendly (top-level object) so the
  * Catalyst expressions in [[UuidExpressions]] can call them from
  * generated Java code.
  */
object GazetteUuid {

  /** 100ns intervals between 15 Oct 1582 (RFC 4122) and the Unix epoch. */
  val G1582NS100: Long = 122192928000000000L

  /** Pack (producer, clock, flags) into a 16-byte v1 UUID. */
  def build(producer: Array[Byte], clock: Long, flags: Int): Array[Byte] = {
    require(producer.length == 6, s"producer must be 6 bytes, got ${producer.length}")
    require((flags & ~0x3ff) == 0, "only 10 low bits may be used for flags")
    val out = new Array[Byte](16)
    val clockLow = (clock >>> 4).toInt                 // 32 low timestamp bits
    out(0) = (clockLow >>> 24).toByte
    out(1) = (clockLow >>> 16).toByte
    out(2) = (clockLow >>> 8).toByte
    out(3) = clockLow.toByte
    val clockMid = ((clock >>> 36) & 0xffff).toInt     // 16 middle bits
    out(4) = (clockMid >>> 8).toByte
    out(5) = clockMid.toByte
    val clockHi = ((clock >>> 52) & 0x0fff).toInt | 0x1000 // 12 high bits + version 1
    out(6) = (clockHi >>> 8).toByte
    out(7) = clockHi.toByte
    // clock sequence (4 bits) + flags (10 bits) + variant 1 (10xx xxxx).
    val seq = (((clock << 10) & 0x3c00) | (flags & 0x3ff) | 0x8000).toInt
    out(8) = (seq >>> 8).toByte
    out(9) = seq.toByte
    System.arraycopy(producer, 0, out, 10, 6)
    out
  }

  /** Extract the 64-bit Clock (60-bit timestamp + 4-bit sequence). */
  def clockOf(uuid: Array[Byte]): Long = {
    var t = (be32(uuid, 0) & 0xffffffffL) << 4          // low bits
    t |= (be16(uuid, 4) & 0xffffL) << 36                // middle bits
    t |= (be16(uuid, 6) & 0x0fffL) << 52                // high bits (version masked)
    t |= ((uuid(8) >> 2) & 0xf).toLong                  // sequence
    t
  }

  /** Extract the 10 flag bits. */
  def flagsOf(uuid: Array[Byte]): Int = be16(uuid, 8) & 0x3ff

  /** Extract the 6-byte producer. */
  def producerOf(uuid: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](6)
    System.arraycopy(uuid, 10, out, 0, 6)
    out
  }

  /** Clock → microseconds since the Unix epoch (truncating 100ns digits). */
  def clockToMicros(clock: Long): Long =
    Math.floorDiv((clock >>> 4) - G1582NS100, 10L)

  /** Microseconds since the Unix epoch → Clock (sequence bits zero). */
  def microsToClock(micros: Long): Long = ((micros * 10L) + G1582NS100) << 4

  /** Nanoseconds since the Unix epoch → Clock (sequence bits zero). */
  def nanosToClock(nanos: Long): Long = ((nanos / 100L) + G1582NS100) << 4

  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
}
