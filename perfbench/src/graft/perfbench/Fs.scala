package graft.perfbench

import java.io.File

/** Local-filesystem helpers for sizing what the program stored. */
object Fs {
  def children(f: File): Seq[File] = Option(f.listFiles).map(_.toSeq).getOrElse(Nil)

  /** Every regular file under `f`. */
  def tree(f: File): Seq[File] = if (f.isDirectory) children(f).flatMap(tree) else Seq(f)

  /** Data bytes under `f`: hidden checksum files and `_`-prefixed markers excluded. */
  def bytes(f: File): Long =
    tree(f).filterNot(x => x.getName.startsWith(".") || x.getName.startsWith("_")).map(_.length).sum

  def parquet(dir: File): Seq[File] = children(dir).filter(_.getName.endsWith(".parquet"))
}
