package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.kernel.ExpressionShim.{column, expression}

import graft.expressions.RobotsGlobMatch

/** Robots Exclusion Protocol (RFC 9309) for crawl-corpus curation:
  * parse per-host `robots.txt` into a rules table once, then decide
  * every URL relationally — the politeness filter a Common Crawl
  * pipeline applies before a page may enter the corpus (alongside the
  * [[TextOps.domainBlocklistFilter]] policy layer).
  *
  * Semantics implemented (the RFC's matching core):
  *  - group selection: groups whose `User-agent` token equals ours
  *    (case-insensitive) win; the `*` groups apply only when no
  *    specific group exists;
  *  - rule match: case-sensitive path patterns with `*` wildcards and
  *    an optional `$` end anchor;
  *  - decision: the LONGEST matching pattern wins; at equal length
  *    Allow beats Disallow; no matching rule (or no robots.txt at
  *    all) ⇒ allowed; empty-value `Disallow:` disallows nothing.
  *
  * Scale shape: parsing is a mapPartitions kernel over the
  * domain-cardinality robots table (tiny next to the corpus); the
  * decision is one host-keyed join (rules-per-host fan-out, tens of
  * rows) + a per-URL `max_by(struct(len, allow))` aggregation — both
  * partial-aggregable, no products, no UDF in the match. Wildcard
  * rules are matched by the linear-time [[graft.expressions.GlobMatchOps]]
  * kernel, NOT a translated regex: robots.txt is untrusted input, and
  * a hostile many-wildcard rule against a backtracking regex engine
  * stalls an executor core.
  */
object Robots {

  /** One parsed rule; `patLen` is the RFC specificity (raw pattern
    * length). `isPrefix` marks rules with no wildcard and no end
    * anchor — the overwhelming majority of real robots rules — whose
    * match is a plain `startswith` codegen string op; the rest route
    * through the linear glob kernel (also codegen, no per-row
    * compilation). */
  final case class RobotsRule(host: String, ruleIdx: Int, pattern: String,
                              allow: Boolean, patLen: Int,
                              isPrefix: Boolean)

  /** Max robots.txt CHARS honored (RFC 9309 §2.5 lets parsers impose a
    * limit and requires honoring at least 500 KiB; capping UTF-16
    * units honors ≥ the byte floor for ASCII and MORE for multibyte
    * content — over-honoring is compliant, the floor is a minimum).
    * Content past the cap is ignored, and the trailing PARTIAL line is
    * dropped with it: a mid-line cut inside
    * `Disallow: /private-area/…` would otherwise synthesize a
    * far-broader `/p` prefix rule. Exception: a file with NO line
    * break (LF or CR) inside the cap keeps the capped prefix
    * (parseRules) — dropping it would silently default the whole
    * host to allowed, and a single giant line cannot synthesize a
    * truncated rule (no group forms without a UA line break). */
  val MaxRobotsChars: Int = 512 * 1024

  /** Max pattern length per rule and max rules per host: a hostile
    * robots.txt is untrusted input, and the linear glob match is
    * O(path·pattern) — a megabyte-long rule line (or a million rules
    * fanning out of the decision join) turns "linear" into a stall.
    * Overlong rules are DROPPED (conservative toward allowed=true, the
    * RFC's no-rule default); rules beyond the count cap are ignored in
    * file order, mirroring the byte-cap truncation semantics. */
  val MaxPatternChars: Int = 4096
  val MaxRulesPerHost: Int = 5000

  /** Max TOTAL WILDCARD-pattern chars honored per host. The per-rule
    * and per-count caps alone still leave an 8 KiB path x 4 KiB
    * pattern x 5000 rules ~ 1.7e11 char-op worst case per URL against
    * a fully hostile host (the glob kernel is linear per
    * (path, pattern) pair but the PRODUCT over a host's rule list is
    * what an executor pays). Only patterns CONTAINING '*' can cost
    * path x pattern — star-free prefix rules match via O(pattern)
    * startswith — so the budget charges wildcard patterns only:
    * a legitimate file with thousands of long literal Disallow paths
    * (which can legitimately sum past 64 KiB) keeps every rule, while
    * a hostile wildcard flood is capped at path x 64 KiB ~ 5e8 char
    * ops — milliseconds, not a stall. Wildcard rules past the budget
    * drop in file order, mirroring the other caps. */
  val MaxPatternCharsPerHost: Int = 64 * 1024

  /** Parse one robots.txt for one user-agent: group selection per the
    * RFC (specific groups beat `*`; a `User-agent` line after rules
    * starts a new group; several adjacent UA lines share a group;
    * comments stripped; keys case-insensitive). Hostile-input caps
    * documented on [[MaxRobotsChars]]/[[MaxPatternChars]]/
    * [[MaxRulesPerHost]]. */
  def parseRules(txt: String, userAgent: String): Seq[(String, Boolean)] = {
    val ua = userAgent.toLowerCase
    // accumulate (agents, rules) groups
    val groups = scala.collection.mutable.ArrayBuffer
      .empty[(scala.collection.mutable.ArrayBuffer[String],
        scala.collection.mutable.ArrayBuffer[(String, Boolean)])]
    var inAgents = false
    val bounded = {
      val t = if (txt == null) "" else txt
      if (t.length <= MaxRobotsChars) t
      else {
        // drop the truncated partial line (see MaxRobotsChars). The
        // search INCLUDES index MaxRobotsChars: a newline sitting
        // exactly at the cap means the final line's content is
        // entirely within it — dropping that complete rule would
        // un-disallow a page over an off-by-one.
        // '\r' counts as a cut point too: a CR-only legacy file has
        // perfectly good line boundaries, and cutting at one drops
        // its trailing partial line exactly like the LF case. (A
        // truncated partial line must never survive — a partial
        // `Allow: /private/t…` would OUT-RANK `Disallow: /private`
        // under longest-match precedence and un-gate paths the full
        // file disallows.)
        val cut = math.max(t.lastIndexOf('\n', MaxRobotsChars),
          t.lastIndexOf('\r', MaxRobotsChars))
        // a file with NO line break inside the cap at all keeps the
        // capped prefix rather than discarding everything (which
        // would default the host to allowed): a single giant line
        // cannot form a user-agent group AND a rule, so the kept
        // prefix parses to at most an agent group — never a
        // truncated rule
        t.substring(0, if (cut >= 0) cut else MaxRobotsChars)
      }
    }
    // liberal line endings: CRLF, LF, or bare CR (legacy files). Bare
    // CR is also what makes the no-newline cap fallback useful — a
    // CR-only oversized file has no '\n' inside the cap, and the kept
    // prefix still parses into its rules here.
    bounded.split("\r\n|\r|\n").foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      val c = line.indexOf(':')
      if (c > 0) {
        val key = line.substring(0, c).trim.toLowerCase
        val value = line.substring(c + 1).trim
        key match {
          case "user-agent" =>
            if (!inAgents || groups.isEmpty) {
              groups += ((scala.collection.mutable.ArrayBuffer.empty,
                scala.collection.mutable.ArrayBuffer.empty))
              inAgents = true
            }
            groups.last._1 += value.toLowerCase
          case "allow" | "disallow" =>
            inAgents = false
            if (groups.nonEmpty && value.nonEmpty &&
              value.length <= MaxPatternChars)
              groups.last._2 += ((value, key == "allow"))
            // empty value: "Disallow:" disallows nothing; "Allow:"
            // allows nothing — both are no-ops. Overlong patterns
            // drop (hostile-input cap, see MaxPatternChars).
          case _ => inAgents = false // crawl-delay, sitemap, …
        }
      }
    }
    val specific = groups.filter(_._1.contains(ua))
    val chosen = if (specific.nonEmpty) specific
                 else groups.filter(_._1.contains("*"))
    val inOrder = chosen.flatMap(_._2.toSeq).take(MaxRulesPerHost).toSeq
    // per-host WILDCARD budget (see MaxPatternCharsPerHost): star-free
    // prefix rules are O(pattern) startswith and never charge it
    var budget = MaxPatternCharsPerHost
    inOrder.filter { case (p, _) =>
      if (p.indexOf('*') < 0) true
      else { budget -= p.length; budget >= 0 }
    }
  }

  /** Parse a (host, robots_txt) table into the rules table —
    * mapPartitions, domain-cardinality. The host key is normalized
    * (trim + lowercase) to match [[robotsFilter]]'s `extractHost`
    * output — a mixed-case host here would otherwise silently miss
    * the join and default its whole domain to allowed. */
  def rulesTable(robots: DataFrame, userAgent: String,
                 hostCol: String = "host",
                 txtCol: String = "robots_txt"): DataFrame = {
    val spark = robots.sparkSession
    import spark.implicits._
    robots.select(col(hostCol), col(txtCol)).as[(String, String)]
      .flatMap { case (host, txt) =>
        if (host == null) Seq.empty[RobotsRule]
        else parseRules(txt, userAgent).zipWithIndex.map { case ((p, allow), i) =>
          RobotsRule(host.trim.toLowerCase, i, p, allow, p.length,
            isPrefix = !p.contains('*') && !p.endsWith("$"))
        }
      }.toDF()
  }

  /** Decide every URL against the rules table: allowed unless the
    * longest matching rule for its host disallows (ties → Allow).
    * Output: (idCol, url, host, allowed). */
  def robotsFilter(urls: DataFrame, rules: DataFrame,
                   idCol: String = "doc_id",
                   urlCol: String = "url"): DataFrame = {
    val host = TextOps.extractHost(col(urlCol))
    // path = everything from the first '/' after the authority; when
    // no path exists, "/" PLUS any "?query" tail (RFC 9309 matches
    // against path-and-query, so "http://h.test?x=1" is "/?x=1" —
    // dropping the query would let it slip past a "/*?*" rule)
    val afterScheme = regexp_replace(col(urlCol), "^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    val slash = instr(afterScheme, "/")
    val qmark = instr(afterScheme, "?")
    // the '?' branch must win when the query starts BEFORE any '/':
    // "h.test?next=/admin" has a '/' inside the query value, and
    // matching against "/admin" instead of "/?next=/admin" would
    // wrongly disallow the page
    val path = when(qmark > 0 && (slash === 0 || qmark < slash),
        concat(lit("/"), substring_index_expr(afterScheme, qmark)))
      .when(slash > 0, substring_index_expr(afterScheme, slash))
      .otherwise(lit("/"))
    val u = urls.select(col(idCol), col(urlCol), host.as("host"),
      path.as("_path"))
    val joined = u.join(rules, Seq("host"), "left")
      .withColumn("_m",
        col("pattern").isNotNull &&
          when(col("isPrefix"), col("_path").startsWith(col("pattern")))
            .otherwise(column(RobotsGlobMatch(
              expression(col("_path")), expression(col("pattern"))))))
    joined
      .groupBy(col(idCol))
      .agg(
        first(col(urlCol)).as(urlCol),
        first(col("host")).as("host"),
        coalesce(
          max_by(col("allow"),
            when(col("_m"), struct(col("patLen"), col("allow").cast("int")))),
          lit(true)).as("allowed"))
  }

  // substring from a dynamic 1-based position to the end
  private def substring_index_expr(c: org.apache.spark.sql.Column,
                                   pos: org.apache.spark.sql.Column) =
    substring(c, pos, length(c) - pos + 1)
}
