package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** IDN host decoding — RFC 3492 Punycode, from spec, for the
  * internationalized `xn--` labels real crawl frontiers are full of.
  * Canonicalizing the Unicode form matters twice in curation: per-host
  * aggregation (xn--mnchen-3ya.example and münchen.example are the
  * same host) and HOMOGLYPH SPOOF detection — the famous
  * xn--80ak6aa92e is all-Cyrillic "apple", invisible until decoded
  * and confusable-folded ([[graft.ops.TextOps.confusableSkeleton]]).
  *
  * `idn_decode(host)` lowercases, splits on dots, decodes every
  * `xn--` label and passes ASCII labels through. Whole-or-refuse: an
  * invalid Punycode label (bad digit, overflow, truncated variable-
  * length integer, out-of-range code point) nulls the WHOLE host —
  * a half-decoded hostname is a spoof vector, not a value.
  *
  * Scale shape: pure scalar expression (codegen via the static
  * helper), scan-side, no allocation beyond the decoded label.
  */
object Punycode {

  private final val Base = 36
  private final val TMin = 1
  private final val TMax = 26
  private final val Skew = 38
  private final val Damp = 700
  private final val InitialBias = 72
  private final val InitialN = 128

  private def adapt(delta0: Int, numPoints: Int, firstTime: Boolean): Int = {
    var delta = if (firstTime) delta0 / Damp else delta0 / 2
    delta += delta / numPoints
    var k = 0
    while (delta > ((Base - TMin) * TMax) / 2) {
      delta /= Base - TMin
      k += Base
    }
    k + ((Base - TMin + 1) * delta) / (delta + Skew)
  }

  private def digit(c: Char): Int =
    if (c >= 'a' && c <= 'z') c - 'a'
    else if (c >= 'A' && c <= 'Z') c - 'A'
    else if (c >= '0' && c <= '9') c - '0' + 26
    else -1

  /** RFC 3492 §6.2 decode of the part after `xn--`; null on any
    * malformation.
    */
  def decodeLabel(s: String): String = {
    val lastDelim = s.lastIndexOf('-')
    val sb = new java.lang.StringBuilder()
    if (lastDelim > 0) {
      var j = 0
      while (j < lastDelim) {
        val c = s.charAt(j)
        if (c >= 128) return null // basic code points must be ASCII
        sb.append(c)
        j += 1
      }
    }
    val out = new java.util.ArrayList[Int]()
    var j = 0
    while (j < sb.length) { out.add(sb.charAt(j).toInt); j += 1 }
    var n = InitialN
    var i = 0
    var bias = InitialBias
    var p = if (lastDelim > 0) lastDelim + 1 else 0
    while (p < s.length) {
      val oldi = i
      var w = 1
      var k = Base
      var done = false
      while (!done) {
        if (p >= s.length) return null // truncated
        val d = digit(s.charAt(p))
        p += 1
        if (d < 0) return null
        if (d > (Int.MaxValue - i) / w) return null // overflow
        i += d * w
        val t = if (k <= bias) TMin else if (k >= bias + TMax) TMax else k - bias
        if (d < t) done = true
        else {
          if (w > Int.MaxValue / (Base - t)) return null
          w *= Base - t
          k += Base
        }
      }
      val np = out.size + 1
      bias = adapt(i - oldi, np, oldi == 0)
      if (i / np > 0x10ffff - n) return null // RFC 3492 §6.2 overflow
      n += i / np
      if (n > 0x10ffff || (n >= 0xd800 && n <= 0xdfff)) return null
      i %= np
      out.add(i, n)
      i += 1
    }
    val r = new java.lang.StringBuilder(out.size + 8)
    var q = 0
    while (q < out.size) { r.appendCodePoint(out.get(q)); q += 1 }
    r.toString
  }

  /** Lowercased host with every `xn--` label decoded; null if any
    * label refuses.
    */
  def decodeHost(host: String): String = {
    val labels = host.toLowerCase(java.util.Locale.ROOT).split("\\.", -1)
    val out = new Array[String](labels.length)
    var i = 0
    while (i < labels.length) {
      val l = labels(i)
      if (l.startsWith("xn--")) {
        val d = decodeLabel(l.substring(4))
        if (d == null || d.isEmpty) return null
        out(i) = d
      } else out(i) = l
      i += 1
    }
    out.mkString(".")
  }

  /** `idn_decode(host: string) → string` — see [[Punycode]].
    *
    * Codegen entry point. */
  def eval(host: UTF8String): UTF8String = {
    val d = decodeHost(host.toString)
    if (d == null) null else UTF8String.fromString(d)
  }
}
