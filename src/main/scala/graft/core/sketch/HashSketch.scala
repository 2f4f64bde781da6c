package graft.core.sketch

/**
 * A sketch fed one 64-bit hash at a time whose `merge` is associative and
 * commutative (HLL register max, Bloom bit OR, count-min counter sum): any
 * split of a hash multiset, folded part by part and merged in any order,
 * gives the same sketch and the same `toBytes` as one fold of the whole.
 * The Spark sketch aggregate relies on exactly this to keep hashes pending
 * in a list and fold them into the sketch later.
 */
trait HashSketch[S <: HashSketch[S]] {
  def add(hash: Long): Unit
  /** In-place merge of `other` into this sketch; returns this. */
  def merge(other: S): S
  def toBytes: Array[Byte]
}
