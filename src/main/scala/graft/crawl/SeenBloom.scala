package graft.crawl

/** A plain Bloom filter over strings: FNV-1a base hash, double hashing,
  * `Long`-word bitset. No false negatives by construction. It is the
  * per-shard filter of [[ShardedBloom]] (A9), which builds, writes and
  * probes one per url-hash shard; the driver never holds the set.
  */
final class Bloom(val bits: Array[Long], val numHashes: Int) extends Serializable {

  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d9eecb0b2b6e3bL
    z ^ (z >>> 31)
  }

  private def baseHash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bs = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bs.length) { h ^= (bs(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  private def numBits: Long = bits.length.toLong * 64

  def add(s: String): Unit = {
    val h1 = baseHash(s)
    val h2 = mix(h1)
    var i = 0
    while (i < numHashes) {
      val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, numBits)
      bits((bit >>> 6).toInt) |= (1L << (bit & 63))
      i += 1
    }
  }

  def mightContain(s: String): Boolean = {
    val h1 = baseHash(s)
    val h2 = mix(h1)
    var i = 0
    while (i < numHashes) {
      val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, numBits)
      if ((bits((bit >>> 6).toInt) & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** in-place bitwise OR merge; filters must share geometry. */
  def mergeInPlace(o: Bloom): Bloom = {
    require(o.bits.length == bits.length && o.numHashes == numHashes,
      "bloom geometry mismatch")
    var i = 0
    while (i < bits.length) { bits(i) |= o.bits(i); i += 1 }
    this
  }

  def serialize: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + bits.length * 8)
    bb.putInt(numHashes).putInt(bits.length)
    bits.foreach(bb.putLong)
    bb.array()
  }
}

object Bloom {
  def create(expectedItems: Long, fpp: Double = 0.01): Bloom = {
    val n = math.max(expectedItems, 64L)
    val m = math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val k = math.max(1, math.round(m.toDouble / n * math.log(2)).toInt)
    new Bloom(new Array[Long](((m + 63) / 64).toInt), k)
  }

  def deserialize(bytes: Array[Byte]): Bloom = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val k = bb.getInt
    val len = bb.getInt
    val bits = new Array[Long](len)
    var i = 0
    while (i < len) { bits(i) = bb.getLong; i += 1 }
    new Bloom(bits, k)
  }
}
