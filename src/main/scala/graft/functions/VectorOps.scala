package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.Sketches

/** Dense-vector math over `array<double>` columns as pure column expressions
  * (`zip_with`/`aggregate` — codegen'd, no UDF). Embeddings arrive as
  * `array<float>` in parquet; cast once at the edge with
  * `col.cast("array<double>")` so all accumulation is double-precision. */
object VectorOps {

  /** Left-to-right dot product (deterministic summation order); codegen'd
    * kernel, same FP order as `aggregate(zip_with(a, b, _*_), 0.0, _+_)`. */
  def dot(a: Column, b: Column): Column = Sketches.dotProduct(a, b)

  def norm2(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  /** Cosine similarity; null on zero-norm input rather than dividing by 0.
    * Backed by the codegen'd `cosine_sim` kernel (Sketches.cosineKernel) —
    * the `aggregate(zip_with(...))` formulation is CodegenFallback
    * (interpreted per element) and was the hot path of every similarity
    * join. Summation order is identical, so results are bit-equal. */
  def cosine(a: Column, b: Column): Column =
    nanvl(Sketches.cosineSim(a, b), lit(null).cast("double"))

  /** Pre-normalized variant: when one side is L2-normalized ahead of a join,
    * cosine degenerates to a dot product — at 100 TB, normalizing the corpus
    * once and storing unit vectors halves the per-pair flops and avoids
    * recomputing norms inside the join. */
  def l2Normalize(a: Column): Column = {
    val n = norm2(a)
    when(n > 0, transform(a, x => x / n))
  }
}
