package graft.core

/** robots.txt admission with longest-prefix-match semantics
  * (SURVEY.md §2.8 U1). Pure function; shared between engine and
  * simulator (admission *content* rule, not scheduling).
  *
  * Semantics (Google robots RFC 9309 style): among all rules whose
  * prefix matches the path, the longest prefix wins; ties prefer allow;
  * no matching rule ⇒ allowed.
  */
object RobotsMatcher {

  def allows(rules: Seq[RobotsRule], path: String): Boolean = {
    var bestLen = -1
    var bestAllow = true
    rules.foreach { r =>
      if (path.startsWith(r.prefix)) {
        val len = r.prefix.length
        if (len > bestLen || (len == bestLen && r.allow && !bestAllow)) {
          bestLen = len
          bestAllow = r.allow
        }
      }
    }
    bestAllow
  }

  /** The admission content rule for seeds, discovered links and
    * `Crawler.direct`: canonicalize `raw` and keep it only if its host's
    * robots rules allow its path. Returns (canonical URL, host). */
  def admit(web: SyntheticWeb, raw: String): Option[(String, String)] =
    UrlCanonicalizer.canonicalize(raw).flatMap { canon =>
      val host = UrlCanonicalizer.hostOf(canon)
      if (allows(web.policy(host).rules, UrlCanonicalizer.pathOf(canon)))
        Some((canon, host))
      else None
    }

  /** A host's parsed robots policy: admission rules for the selected
    * agent group, plus its Crawl-delay (milliseconds) when present —
    * the robots-supplied politeness budget that feeds
    * `HostPolicy.crawl_delay_ms` in a real deployment (the north rule's
    * "per-host politeness buckets enforcing crawl-delay budgets"). */
  final case class RobotsPolicy(rules: Seq[RobotsRule],
      crawlDelayMs: Option[Long])

  /** Group-aware robots.txt parse (RFC 9309 grouping + the de-facto
    * Crawl-delay extension): consecutive `User-agent` lines open a
    * group; the group chosen is the one naming `agent` (case-
    * insensitive product-token match), falling back to the `*` group;
    * no group ⇒ allow-all. Crawl-delay is seconds (fractional ok). */
  def parsePolicy(text: String, agent: String = "*"): RobotsPolicy = {
    final case class Group(agents: Seq[String], rules: Seq[RobotsRule],
        delayMs: Option[Long])
    val groups = scala.collection.mutable.ArrayBuffer.empty[Group]
    var curAgents = List.empty[String]
    var curRules = List.empty[RobotsRule]
    var curDelay: Option[Long] = None
    var inDirectives = false
    def flush(): Unit = {
      if (curAgents.nonEmpty)
        groups += Group(curAgents.reverse, curRules.reverse, curDelay)
      curAgents = Nil; curRules = Nil; curDelay = None; inDirectives = false
    }
    text.linesIterator.foreach { line0 =>
      val line = line0.takeWhile(_ != '#').trim
      val i = line.indexOf(':')
      if (i >= 0) {
        val key = line.substring(0, i).trim.toLowerCase
        val value = line.substring(i + 1).trim
        key match {
          case "user-agent" =>
            if (inDirectives) flush() // a new group starts
            curAgents ::= value.toLowerCase
          case "allow" =>
            inDirectives = true
            if (value.nonEmpty) curRules ::= RobotsRule(allow = true, value)
          case "disallow" =>
            inDirectives = true
            if (value.nonEmpty) curRules ::= RobotsRule(allow = false, value)
          case "crawl-delay" =>
            inDirectives = true
            curDelay = scala.util.Try(value.toDouble).toOption
              .filter(d => d >= 0 && d.isFinite)
              .map(d => (d * 1000).toLong)
          case _ => if (curAgents.nonEmpty) inDirectives = true // sitemap etc.
        }
      }
    }
    flush()
    val a = agent.toLowerCase
    val chosen = groups.find(_.agents.exists(g => g != "*" && a.contains(g)))
      .orElse(groups.find(_.agents.contains("*")))
    chosen.map(g => RobotsPolicy(g.rules, g.delayMs))
      .getOrElse(RobotsPolicy(Nil, None))
  }

  /** Parse a minimal robots.txt (single `User-agent: *` group with
    * Allow/Disallow lines) into rules. Empty Disallow value = allow all
    * (per the original REP). */
  def parse(text: String): Seq[RobotsRule] = {
    text.linesIterator.flatMap { line0 =>
      val line = line0.takeWhile(_ != '#').trim
      val i = line.indexOf(':')
      if (i < 0) None
      else {
        val key = line.substring(0, i).trim.toLowerCase
        val value = line.substring(i + 1).trim
        key match {
          case "allow" if value.nonEmpty    => Some(RobotsRule(allow = true, value))
          case "disallow" if value.nonEmpty => Some(RobotsRule(allow = false, value))
          case _                            => None
        }
      }
    }.toSeq
  }
}
