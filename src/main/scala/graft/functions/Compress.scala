package graft.functions

import java.util.zip.Deflater

import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Compression-ratio text-quality signal: deflate(text).length /
  * utf8(text).length. A classic pretraining heuristic (used alongside the
  * Gopher rules): natural prose lands in a mid band, while templated spam
  * and repeated boilerplate compress far below it and random/encoded noise
  * sits near (or above) 1.0 — both tails are drop candidates.
  *
  * Deterministic: zlib DEFLATE at a fixed level with a fixed strategy is a
  * pure function of the input bytes. Implemented as a codegen'd unary
  * kernel (one static call per row, Deflater instance reused per thread) so
  * the scan stays inside whole-stage codegen with no UDF serialization.
  */
object Compress {

  private val deflaters: ThreadLocal[Deflater] =
    ThreadLocal.withInitial(() => new Deflater(6, false))

  /** deflated size / raw size; empty input → 1.0. */
  def deflateRatioKernel(s: UTF8String): Double = {
    val raw = s.getBytes
    if (raw.length == 0) return 1.0
    val d = deflaters.get()
    d.reset()
    d.setInput(raw)
    d.finish()
    var compressed = 0L
    val out = new Array[Byte](8192)
    while (!d.finished()) compressed += d.deflate(out)
    compressed.toDouble / raw.length.toDouble
  }

  def deflateRatio(c: Column): Column = Kernels.DeflateRatio(c)
}
