package graft.functions

import org.apache.spark.sql.Column

/** Bit-level kernels. `hamming_distance` compares two 64-bit SimHash
  * fingerprints: `bitCount(a ^ b)`, which the JIT compiles to two
  * intrinsics. Spark can express it as `bit_count(a ^ b)` from built-ins;
  * the named kernel keeps SimHash plans reading as what they are.
  */
object BitOps {
  def hammingKernel(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  def hammingDistance(a: Column, b: Column): Column = Kernels.HammingDistance(a, b)
}
