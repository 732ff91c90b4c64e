package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a codegen'd kernel (`nfc_normalize`).
  *
  * The VnText parsers (graft.expr.VnText) match Vietnamese prefixes and unit
  * words ("Đường ", "tỷ", " lầu") byte-exactly — correct for NFC input, and
  * silent misses for NFD-encoded input ("Quận" typed as Q-u-ậ‍-n with
  * combining diacritics), which real crawled HTML does contain. The
  * reference has the same latent bug (alonhadat.py:112-123 string-matches
  * composed forms only). The engine's contract: every raw text field is
  * NFC-normalized AT INGEST (Normalize.fromSiteText), so all downstream
  * matching is over composed forms. Already-NFC input takes the
  * `isNormalized` fast path — one scan, no allocation beyond the
  * UTF8String→String bridge, and the common all-ASCII case short-circuits
  * inside that scan.
  */
object UnicodeNorm {

  def nfcKernel(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  def nfc(c: Column): Column = Kernels.NfcNormalize(c)
}
