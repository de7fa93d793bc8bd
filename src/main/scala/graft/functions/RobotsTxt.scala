package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** robots.txt (RFC 9309) as scan-side expressions — the politeness gate
  * of a crawl-curation pipeline: before a fetched URL enters the corpus
  * (or a recrawl list), the pipeline checks it against its host's
  * robots rules.
  *
  * Two pieces, split so the expensive part runs once per HOST and the
  * per-URL part is a cheap match:
  *
  *  - `robots_rules(txt)` → `array<struct<agent, allow, path>>`: one
  *    linear parse of the file into its rule list. Line-based; group
  *    structure (consecutive `User-agent:` lines share the following
  *    rule block, RFC 9309 §2.2.1) is flattened to one row per
  *    (agent, rule). Directives are case-insensitive; comments (`#`)
  *    and unknown directives (crawl-delay, sitemap) are ignored; an
  *    empty-path `Disallow:` (allow-all idiom) is dropped.
  *  - `robots_match_len(pattern, path)` → the pattern's SPECIFICITY
  *    (its length) when it matches the path, else -1 — the RFC's
  *    longest-match-wins needs the length, not just a boolean. `*`
  *    matches any char run (greedy with backtracking), `$` at
  *    pattern-end anchors; both per RFC 9309 §2.2.3.
  *
  * Scale shape: rules tables are HOSTS-sized (robots files are small
  * and one per host), so parse output stays tiny next to the URL
  * corpus; the per-URL work is one codegen'd match call per candidate
  * rule of its own host's group.
  */
object RobotsTxt {

  val ruleSchema: StructType = StructType(Seq(
    StructField("agent", StringType, nullable = false),
    StructField("allow", BooleanType, nullable = false),
    StructField("path", StringType, nullable = false)))

  val schema: DataType = ArrayType(ruleSchema, containsNull = false)

  /** `robots_crawl_delay(txt, agent)` → whole seconds or -1 (none).
    *
    * `Crawl-delay:` for one agent — the de-facto politeness-interval
    * extension (not in RFC 9309 but honored by most large crawlers):
    * group selection matches the RULES parser exactly (consecutive
    * User-agent lines share the following block; an exact-agent group
    * DISCARDS `*`), the delay is whole seconds (non-negative integer
    * values only — fractional or junk values are ignored lines), the
    * LAST matching directive in the selected group wins. Returns -1
    * when the selected group carries none (caller applies its default
    * politeness window).
    */
  def crawlDelay(txt: UTF8String, agent: UTF8String): Int = {
    val want = agent.toString.toLowerCase(java.util.Locale.ROOT)
    var agents = List.empty[String]
    var inRules = false
    var exactDelay = -1
    var starDelay = -1
    var exactSeen = false
    var starSeen = false
    txt.toString.split("\r?\n").foreach { raw =>
      val line = raw.indexOf('#') match {
        case -1 => raw.trim
        case i => raw.substring(0, i).trim
      }
      if (line.nonEmpty) {
        val colon = line.indexOf(':')
        if (colon > 0) {
          val directive = line.substring(0, colon).trim
            .toLowerCase(java.util.Locale.ROOT)
          val value = line.substring(colon + 1).trim
          directive match {
            case "user-agent" =>
              if (inRules) { agents = Nil; inRules = false }
              agents = value.toLowerCase(java.util.Locale.ROOT) :: agents
            case "allow" | "disallow" => inRules = true
            case "crawl-delay" =>
              inRules = true
              if (value.nonEmpty && value.forall(_.isDigit) &&
                value.length <= 7) {
                val d = value.toInt
                if (agents.contains(want)) { exactDelay = d; exactSeen = true }
                if (agents.contains("*")) { starDelay = d; starSeen = true }
              }
            case _ => ()
          }
          // group membership for delay accounting mirrors rule groups:
          // an exact-agent group existing anywhere discards `*`
          if (directive == "user-agent" && value
            .toLowerCase(java.util.Locale.ROOT) == want) exactSeen = true
        }
      }
    }
    if (exactSeen && exactDelay >= 0) exactDelay
    else if (exactSeen) -1 // exact group exists but carries no delay
    else if (starSeen) starDelay
    else -1
  }

  /** `robots_sitemaps(string)` → Sitemap-directive URLs in file order.
    *
    * `Sitemap:` directive extraction — the standard frontier-seeding
    * discovery channel (sitemaps.org protocol; RFC 9309 treats it as
    * an other-record line): group-INDEPENDENT per the de-facto
    * standard (a Sitemap line applies regardless of surrounding
    * User-agent groups), case-insensitive directive, absolute-URL
    * values kept verbatim, comments stripped, non-http(s) values and
    * empties dropped. Order preserved, duplicates kept (the caller
    * canonicalizes + dedups in the frontier, where that logic lives).
    */
  def sitemaps(txt: UTF8String): GenericArrayData = {
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    txt.toString.split("\r?\n").foreach { raw =>
      val line = raw.indexOf('#') match {
        case -1 => raw.trim
        case i => raw.substring(0, i).trim
      }
      val colon = line.indexOf(':')
      if (colon > 0 &&
        line.substring(0, colon).trim
          .toLowerCase(java.util.Locale.ROOT) == "sitemap") {
        val v = line.substring(colon + 1).trim
        if (v.startsWith("http://") || v.startsWith("https://"))
          out += UTF8String.fromString(v)
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** `robots_rules(string)` → flattened (agent, allow, path) rule rows. */
  def parse(txt: UTF8String): GenericArrayData = {
    val out = new scala.collection.mutable.ArrayBuffer[GenericInternalRow]
    var agents = List.empty[String]
    var inRules = false // false while collecting consecutive User-agent lines
    txt.toString.split("\r?\n").foreach { raw =>
      val line = raw.indexOf('#') match {
        case -1 => raw.trim
        case i => raw.substring(0, i).trim
      }
      if (line.nonEmpty) {
        val colon = line.indexOf(':')
        if (colon > 0) {
          val directive = line.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
          val value = line.substring(colon + 1).trim
          directive match {
            case "user-agent" =>
              if (inRules) { agents = Nil; inRules = false } // new group starts
              agents = value.toLowerCase(java.util.Locale.ROOT) :: agents
            case "allow" | "disallow" =>
              inRules = true
              val allow = directive == "allow"
              // empty Disallow = allow-everything idiom → no rule;
              // empty Allow is meaningless → no rule
              if (value.nonEmpty)
                agents.reverse.foreach { a =>
                  out += new GenericInternalRow(Array[Any](
                    UTF8String.fromString(a), allow, UTF8String.fromString(value)))
                }
            case _ => () // crawl-delay, sitemap, unknown — ignored
          }
        }
      }
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** `robots_match_len(pattern, path)` → specificity or -1.
    *
    * Specificity (pattern length) when `pattern` matches `path` per RFC
    * 9309 wildcard semantics, else -1. Patterns are PREFIX matches
    * unless `$`-anchored; `*` spans any characters.
    *
    * Backtracking is budgeted: a hostile robots file can craft a
    * pattern of alternating `*a` pairs whose naive match is exponential
    * in the path length, and the matcher runs once per (rule, URL) pair
    * across the whole crawl — a budget overrun counts as NO MATCH (the
    * fail-open direction robots semantics already give unmatched
    * paths), never a hung executor.
    */
  def matchLen(pattern: UTF8String, path: UTF8String): Int = {
    val p = pattern.toString
    val s = path.toString
    val anchored = p.endsWith("$")
    val pat = if (anchored) p.substring(0, p.length - 1) else p
    val budget = new Array[Int](1)
    budget(0) = 100000
    if (wildMatch(pat, 0, s, 0, anchored, budget)) p.length else -1
  }

  /** Greedy `*` with budgeted backtracking; prefix semantics unless
    * anchored.
    */
  private def wildMatch(pat: String, pi: Int, s: String, si: Int,
                        anchored: Boolean, budget: Array[Int]): Boolean = {
    budget(0) -= 1
    if (budget(0) <= 0) return false
    if (pi == pat.length) return if (anchored) si == s.length else true
    pat.charAt(pi) match {
      case '*' =>
        var k = si
        while (k <= s.length) {
          if (wildMatch(pat, pi + 1, s, k, anchored, budget)) return true
          if (budget(0) <= 0) return false
          k += 1
        }
        false
      case c =>
        si < s.length && s.charAt(si) == c &&
          wildMatch(pat, pi + 1, s, si + 1, anchored, budget)
    }
  }
}
