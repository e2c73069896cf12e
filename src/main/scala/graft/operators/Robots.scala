package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Crawl compliance — robots.txt (RFC 9309) and sitemaps: the two
  * control files a lawful large-scale crawl pipeline must evaluate
  * BEFORE content enters a corpus, completing the web front
  * (WARC → HTML → URL canonicalization → compliance). Both are
  * implemented from the published specs.
  *
  * robots.txt evaluation follows RFC 9309 exactly where it is
  * prescriptive:
  *  - groups: consecutive `User-agent` lines share the following
  *    rules; the group whose product token is the LONGEST
  *    case-insensitive match of the caller's agent wins; `*` is the
  *    fallback group (§2.2.1);
  *  - rules: `Allow`/`Disallow` path patterns with `*` wildcards and
  *    the `$` end anchor (§2.2.2-2.2.3);
  *  - decision: the MOST SPECIFIC (longest-pattern) matching rule
  *    wins; on a tie, Allow wins; no matching rule or no matching
  *    group → allowed (§2.2.2);
  *  - an empty `Disallow:` matches nothing; unknown directives are
  *    ignored; `#` comments strip; `Crawl-delay` (de-facto standard)
  *    and `Sitemap` lines surface as metadata.
  *
  * Sitemap parsing covers both document kinds (sitemaps.org schema):
  * `<urlset>` entries (loc + optional lastmod) and `<sitemapindex>`
  * child sitemap locs, via the hardened StAX path (DTD/XXE off).
  *
  * Scale shape: both are narrow per-row kernels; the allowed-check is
  * pure function (robots bytes, agent, path) so a crawl joins its URL
  * stream against per-host robots with a broadcast or co-partitioned
  * join upstream.
  */
object Robots {

  final case class Rule(allow: Boolean, pattern: String)
  final case class Group(agents: Vector[String], rules: Vector[Rule],
      crawlDelay: Option[Double])
  final case class RobotsFile(groups: Vector[Group],
      sitemaps: Vector[String])

  def parse(txt0: String): RobotsFile = {
    if (txt0 == null) return RobotsFile(Vector.empty, Vector.empty)
    // Many servers emit a UTF-8 BOM; without stripping it the first
    // directive's key reads "﻿user-agent" and the whole first
    // group silently drops — the compliance kernel must not fail open
    // on that.
    val txt = if (txt0.startsWith("﻿")) txt0.substring(1) else txt0
    val groups = Vector.newBuilder[Group]
    val sitemaps = Vector.newBuilder[String]
    var agents = Vector.empty[String]
    var rules = Vector.newBuilder[Rule]
    var delay: Option[Double] = None
    var haveGroup = false
    var rulesSeen = false
    def flush(): Unit = {
      if (haveGroup) groups += Group(agents, rules.result(), delay)
      agents = Vector.empty
      rules = Vector.newBuilder[Rule]
      delay = None
      haveGroup = false
      rulesSeen = false
    }
    txt.linesIterator.foreach { line0 =>
      val line = {
        val h = line0.indexOf('#')
        (if (h >= 0) line0.substring(0, h) else line0).trim
      }
      val colon = line.indexOf(':')
      if (colon > 0) {
        val key = line.substring(0, colon).trim.toLowerCase
        val value = line.substring(colon + 1).trim
        key match {
          case "user-agent" =>
            // A user-agent line AFTER rules starts a NEW group;
            // consecutive user-agent lines stack onto one group. An
            // EMPTY product token is invalid per RFC 9309 and must not
            // create a matchable agent (`contains("")` is true for
            // every agent — it would shadow the `*` fallback).
            if (rulesSeen) flush()
            if (value.nonEmpty) {
              agents :+= value.toLowerCase
              haveGroup = true
            }
          case "allow" =>
            if (haveGroup && value.nonEmpty) rules += Rule(true, value)
            rulesSeen = true
          case "disallow" =>
            // Empty Disallow matches nothing (explicitly legal).
            if (haveGroup && value.nonEmpty) rules += Rule(false, value)
            rulesSeen = true
          case "crawl-delay" =>
            if (haveGroup) delay = value.toDoubleOption
            rulesSeen = true
          case "sitemap" => if (value.nonEmpty) sitemaps += value
          case _ => () // unknown directives are ignored (RFC 9309 §2.2.4)
        }
      }
    }
    flush()
    RobotsFile(groups.result(), sitemaps.result())
  }

  /** Pattern match per RFC 9309 §2.2.3: literal octets, `*` matches
    * any run (including empty), `$` at pattern end anchors; patterns
    * match PREFIXES of the path otherwise. ITERATIVE greedy wildcard
    * matching (single backtrack point), O(|pattern|·|path|) worst and
    * linear in practice — robots files are third-party input, so a
    * pathological star-heavy rule must not send a recursive matcher
    * exponential (an executor would hang minutes per row). Prefix
    * semantics reduce to full-match of the pattern with a star
    * appended.
    */
  private[operators] def patternMatches(pattern: String,
      path: String): Boolean = {
    val anchored = pattern.endsWith("$")
    val p = if (anchored) pattern.dropRight(1) else pattern + "*"
    var i = 0; var j = 0
    var star = -1; var mark = 0
    while (j < path.length) {
      if (i < p.length && p.charAt(i) == '*') { star = i; mark = j; i += 1 }
      else if (i < p.length && p.charAt(i) == path.charAt(j)) { i += 1; j += 1 }
      else if (star >= 0) { i = star + 1; mark += 1; j = mark }
      else return false
    }
    while (i < p.length && p.charAt(i) == '*') i += 1
    i == p.length
  }

  /** The rules that apply to `agent` per RFC 9309 §2.2.1: pick the
    * MOST SPECIFIC (longest) matching user-agent token — `*` is the
    * fallback — then MERGE the rules of EVERY group carrying a token
    * of that specificity (multiple groups naming the same agent are
    * one logical group; `find`-first would silently ignore the later
    * ones). Crawl-delay takes the first defined value among them.
    */
  private def groupFor(r: RobotsFile, agent: String): Option[Group] = {
    val a = agent.toLowerCase
    var bestLen = -1
    r.groups.foreach { g =>
      g.agents.foreach { tok =>
        if (tok != "*" && a.contains(tok) && tok.length > bestLen)
          bestLen = tok.length
      }
    }
    val matched =
      if (bestLen > 0)
        r.groups.filter(_.agents.exists(t =>
          t != "*" && t.length == bestLen && a.contains(t)))
      else r.groups.filter(_.agents.contains("*"))
    if (matched.isEmpty) None
    else Some(Group(matched.flatMap(_.agents),
      matched.flatMap(_.rules),
      matched.flatMap(_.crawlDelay).headOption))
  }

  /** Effective pattern LENGTH for specificity (§2.2.2: "most octets";
    * the `$` anchor does not count as a path octet).
    */
  private def spec(p: String): Int =
    if (p.endsWith("$")) p.length - 1 else p.length

  /** The RFC 9309 decision for (robots bytes, agent, path). */
  def isAllowed(r: RobotsFile, agent: String, path: String): Boolean =
    groupFor(r, agent) match {
      case None => true
      case Some(g) =>
        var bestLen = -1
        var bestAllow = true
        g.rules.foreach { rule =>
          if (patternMatches(rule.pattern, path)) {
            val l = spec(rule.pattern)
            if (l > bestLen) { bestLen = l; bestAllow = rule.allow }
            else if (l == bestLen && rule.allow) bestAllow = true // tie
          }
        }
        if (bestLen < 0) true else bestAllow
    }

  /** Crawl-delay for the agent's group, if any. */
  def crawlDelay(r: RobotsFile, agent: String): Option[Double] =
    groupFor(r, agent).flatMap(_.crawlDelay)

  // ---- sitemaps ------------------------------------------------------

  final case class SitemapEntry(loc: String, lastmod: Option[String],
      isIndex: Boolean)

  /** urlset entries and/or sitemapindex children, document order.
    * None = not parseable XML / not a sitemap root.
    */
  def sitemap(xml: Array[Byte]): Option[Seq[SitemapEntry]] =
    try sitemapStrict(xml)
    catch { case scala.util.control.NonFatal(_) => None }

  private def sitemapStrict(xml: Array[Byte]): Option[Seq[SitemapEntry]] = {
    if (xml == null || xml.length == 0) return None
    // The shared hardened per-thread factory (OfficeDoc) — the
    // newInstance() service lookup is a per-row cost here (q201).
    val r = OfficeDoc.safeFactory()
      .createXMLStreamReader(new java.io.ByteArrayInputStream(xml))
    try {
      val out = Vector.newBuilder[SitemapEntry]
      var rootOk = false
      var inEntry = false
      var entryIsIndex = false
      var inLoc = false
      var inMod = false
      val loc = new StringBuilder
      val mod = new StringBuilder
      var depth = 0
      while (r.hasNext) {
        r.next() match {
          case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
            depth += 1
            val ln = r.getLocalName
            if (depth == 1) {
              if (ln == "urlset" || ln == "sitemapindex") rootOk = true
              else return None
            } else if (depth == 2 && (ln == "url" || ln == "sitemap")) {
              inEntry = true; entryIsIndex = ln == "sitemap"
              loc.clear(); mod.clear()
            } else if (inEntry && ln == "loc") inLoc = true
            else if (inEntry && ln == "lastmod") inMod = true
          case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
            val ln = r.getLocalName
            if (depth == 2 && inEntry && (ln == "url" || ln == "sitemap")) {
              if (loc.nonEmpty)
                out += SitemapEntry(loc.result().trim,
                  Some(mod.result().trim).filter(_.nonEmpty), entryIsIndex)
              inEntry = false
            } else if (ln == "loc") inLoc = false
            else if (ln == "lastmod") inMod = false
            depth -= 1
          case javax.xml.stream.XMLStreamConstants.CHARACTERS |
              javax.xml.stream.XMLStreamConstants.CDATA =>
            if (inLoc) loc.append(r.getText)
            else if (inMod) mod.append(r.getText)
          case _ => ()
        }
      }
      if (!rootOk) None else Some(out.result())
    } finally r.close()
  }

  /** Column form: array of (loc, lastmod, is_index); null = not a
    * sitemap.
    */
  def sitemapEntries(blob: Column): Column = {
    val f = udf { b: Array[Byte] =>
      sitemap(b).map(_.map(e => (e.loc, e.lastmod.orNull, e.isIndex)))
    }
    f(blob).cast("array<struct<loc:string,lastmod:string,is_index:boolean>>")
  }
}
