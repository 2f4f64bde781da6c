package graft.core.sketch

/**
 * Dense HyperLogLog over 64-bit hashes. Standard-error 1.04/sqrt(m),
 * m = 2^p registers (byte-per-register dense layout).
 *
 * Role in the engine: the first build pass's per-bin distinct-hash counter
 * (the reference counts exact distinct minimizers per target to size bins —
 * ganon src/ganon-build/GanonBuild.cpp:184-249; at 10^12-file scale the
 * exact set does not fit, so sizing runs on a mergeable HLL instead).
 *
 * Merge = element-wise register max (associative, commutative, idempotent).
 * Estimator: classic alpha_m bias-corrected harmonic mean with
 * linear-counting fallback for the small range (Flajolet et al. 2007); with
 * 64-bit hashes no large-range correction is needed.
 *
 * Serialized layout: [p: Int][registers: Byte * 2^p].
 */
final class Hll(val p: Int, val registers: Array[Byte])
    extends HashSketch[Hll] with Serializable {
  require(p >= 4 && p <= 18, s"p=$p out of [4,18]")
  val m: Int = 1 << p
  require(registers.length == m)

  def add(hash: Long): Unit = {
    val idx = (hash >>> (64 - p)).toInt
    val w = hash << p
    // rank = leading zeros of the remaining 64-p bits, +1; w==0 -> max rank
    val rank = if (w == 0L) (64 - p + 1) else java.lang.Long.numberOfLeadingZeros(w) + 1
    val r = math.min(rank, 64 - p + 1).toByte
    if (r > registers(idx)) registers(idx) = r
  }

  def addAll(hashes: Array[Long]): Unit = {
    var i = 0
    while (i < hashes.length) { add(hashes(i)); i += 1 }
  }

  def merge(other: Hll): Hll = {
    require(other.p == p, s"incompatible HLL precision $p vs ${other.p}")
    var i = 0
    while (i < m) {
      if (other.registers(i) > registers(i)) registers(i) = other.registers(i)
      i += 1
    }
    this
  }

  def estimate: Long = {
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      val r = registers(i)
      sum += java.lang.Double.longBitsToDouble((1023L - r) << 52) // 2^-r exactly
      if (r == 0) zeros += 1
      i += 1
    }
    val e = alpha * m.toDouble * m.toDouble / sum
    val est =
      if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) // linear counting
      else e
    math.round(est)
  }

  /** Published relative standard error bound for this precision. */
  def stdError: Double = 1.04 / math.sqrt(m.toDouble)

  def toBytes: Array[Byte] = {
    val out = new Array[Byte](4 + m)
    out(0) = (p >>> 24).toByte; out(1) = (p >>> 16).toByte
    out(2) = (p >>> 8).toByte; out(3) = p.toByte
    System.arraycopy(registers, 0, out, 4, m)
    out
  }
}

object Hll {
  def empty(p: Int = 14): Hll = new Hll(p, new Array[Byte](1 << p))

  def fromBytes(bytes: Array[Byte]): Hll = {
    val p = ((bytes(0) & 0xFF) << 24) | ((bytes(1) & 0xFF) << 16) |
      ((bytes(2) & 0xFF) << 8) | (bytes(3) & 0xFF)
    val m = 1 << p
    val regs = new Array[Byte](m)
    System.arraycopy(bytes, 4, regs, 0, m)
    new Hll(p, regs)
  }
}
