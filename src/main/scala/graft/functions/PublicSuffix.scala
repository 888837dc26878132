package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Registered-domain (eTLD+1) extraction via the public-suffix-list
  * algorithm (publicsuffix.org — public data) — the key FineWeb-class
  * host-dominance rules, per-domain crawl quotas, and domain
  * blocklists actually group on. Raw host labels get it wrong both
  * ways: a quota keyed on `host` treats `a.example.co.uk` and
  * `b.example.co.uk` as different "domains" while treating `co.uk`
  * as one (the classic eTLD+1 bug — r16 verdict item 3).
  *
  * The ALGORITHM is the PSL's, in full: among all matching rules an
  * exception rule (`!www.ck`) prevails immediately (its public
  * suffix is the rule minus its leftmost label); otherwise the rule
  * with the most labels wins, where `*.ck` matches any one label in
  * its starred position; when nothing matches the implicit rule is
  * `*` (the bare TLD is the public suffix). The registered domain is
  * the public suffix plus exactly one more label — and a host that
  * IS a public suffix has none (returns null; `co.uk` must never be
  * a quota key).
  *
  * The RULE SET is the FULL public-suffix list, bundled as a
  * resource snapshot (~9.5k rules of public data from
  * publicsuffix.org, ICANN + private sections; IDN rules registered
  * in both U-label and `xn--` A-label form). A newer list swaps in
  * by passing custom rules to [[PublicSuffix.parse]] — every entry
  * point takes the rules as a parameter, the snapshot is only the
  * default.
  *
  * Scale posture: a pure per-row label walk over an O(10k)-entry
  * hash set baked into the expression (parsed once per executor
  * JVM) — map-only, real codegen, no join (the q336 suffix-explode
  * stays the right mechanism when the list is a DataFrame; this is
  * the expression form for when it is list data). Null/invalid (empty
  * labels, IP literals) → null, never a throw. SQL name
  * `registered_domain`. */
case class RegisteredDomain(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "registered_domain"
  // a public-suffix host yields NULL even from a non-null input —
  // without this override the inherited child.nullable would declare
  // the column non-nullable and the parquet writer would corrupt the
  // file on the first suffix row
  override def nullable: Boolean = true

  def domainOf(input: UTF8String): UTF8String = {
    val d = PublicSuffix.registeredDomain(input.toString)
    if (d == null) null else UTF8String.fromString(d)
  }

  override def nullSafeEval(input: Any): Any =
    domainOf(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("registeredDomain", this,
      classOf[RegisteredDomain].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.domainOf($c);
      ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object RegisteredDomain {
  def apply(host: Column): Column =
    ColumnBridge.column(RegisteredDomain(ColumnBridge.expression(host)))
}

/** The public suffix itself (the eTLD a host registers UNDER —
  * `co.uk` for `a.example.co.uk`): the diagnostic sibling of
  * [[RegisteredDomain]], same PSL walk, same snapshot, same codegen
  * posture. Null only for invalid hosts/IP literals (a valid host
  * always has a suffix via the implicit `*` rule). SQL name
  * `public_suffix`. */
case class PublicSuffixOf(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "public_suffix"
  // invalid hosts/IP literals yield NULL even from non-null input
  override def nullable: Boolean = true

  def suffixOf(input: UTF8String): UTF8String = {
    val s = PublicSuffix.publicSuffix(input.toString)
    if (s == null) null else UTF8String.fromString(s)
  }

  override def nullSafeEval(input: Any): Any =
    suffixOf(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("publicSuffixOf", this,
      classOf[PublicSuffixOf].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.suffixOf($c);
      ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object PublicSuffixOf {
  def apply(host: Column): Column =
    ColumnBridge.column(PublicSuffixOf(ColumnBridge.expression(host)))
}

object PublicSuffix {

  /** Parsed rule set: exact rules, wildcard stems (the labels after
    * the `*.`), and exception rules (without their `!`). */
  final case class Rules(exact: Set[String], wildcardStem: Set[String],
                         exception: Set[String])

  /** PSL-format lines → [[Rules]] (comments `//` and blanks skipped,
    * the section markers too — rules fold to lower-case). Rules with
    * non-ASCII labels (the list publishes IDN rules in U-label form:
    * `公司.cn`) are ALSO registered under their `xn--` A-label form
    * via `java.net.IDN`, so hosts arriving punycoded — the form
    * [[graft.functions.CanonicalUrl]] folds to — match the same
    * rule. */
  def parse(lines: Seq[String]): Rules = {
    val exact = Set.newBuilder[String]
    val wild = Set.newBuilder[String]
    val exc = Set.newBuilder[String]
    def add(b: scala.collection.mutable.Builder[String, Set[String]],
            rule: String): Unit = {
      b += rule
      if (rule.exists(_ >= 0x80))
        try b += java.net.IDN.toASCII(rule)
        catch { case _: Exception => () } // unconvertible rule: U-form only
    }
    lines.foreach { raw =>
      val l = raw.trim.toLowerCase(java.util.Locale.ROOT)
      if (l.nonEmpty && !l.startsWith("//")) {
        if (l.startsWith("!")) add(exc, l.substring(1))
        else if (l.startsWith("*.")) add(wild, l.substring(2))
        else if (l != "*") add(exact, l)
      }
    }
    Rules(exact.result(), wild.result(), exc.result())
  }

  /** The FULL public-suffix list snapshot, bundled as a resource
    * (public data from publicsuffix.org, ~9.5k rules, ICANN +
    * private sections — r17 verdict item 6 retired the hand-picked
    * subset: hosts under un-bundled multi-label suffixes, most
    * private-section platforms especially, mis-keyed as registered
    * domains). Parsed once per JVM. A missing resource is an error:
    * every eTLD+1 key depends on the list. */
  def loadBundledList(): Seq[String] = {
    val name = "/graft/public_suffix_list.dat"
    val in = getClass.getResourceAsStream(name)
    if (in == null)
      throw new IllegalStateException(s"bundled resource $name is missing")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    finally in.close()
  }

  lazy val Default: Rules = parse(loadBundledList())

  private def labelsOf(host: String): Array[String] = {
    if (host == null) return null
    var h = host.trim.toLowerCase(java.util.Locale.ROOT)
    if (h.endsWith(".")) h = h.substring(0, h.length - 1) // FQDN dot
    if (h.isEmpty || h.startsWith("[") || h.indexOf(':') >= 0) return null // IPv6/port
    val ls = h.split("\\.", -1)
    if (ls.exists(_.isEmpty)) return null // empty label → invalid host
    if (ls.forall(_.forall(_.isDigit))) return null // IPv4 literal
    ls
  }

  /** Number of labels in the prevailing public suffix of `labels`
    * (the PSL algorithm; ≥ 1 via the implicit `*` rule). */
  private def suffixLen(labels: Array[String], rules: Rules): Int = {
    var best = 1 // implicit rule "*": the bare TLD
    var k = 1
    var suffix = labels(labels.length - 1)
    while (k <= labels.length) {
      if (rules.exception.contains(suffix))
        return k - 1 // exception prevails immediately: rule minus left label
      if (rules.exact.contains(suffix) && k > best) best = k
      // "*.stem" matches a k-label suffix whose last k-1 labels are stem
      if (k >= 2) {
        val stem = suffix.substring(suffix.indexOf('.') + 1)
        if (rules.wildcardStem.contains(stem) && k > best) best = k
      }
      k += 1
      if (k <= labels.length)
        suffix = labels(labels.length - k) + "." + suffix
    }
    best
  }

  /** The public suffix of a host (never null for a valid host —
    * the implicit `*` rule floors it at the TLD); null on invalid
    * hosts/IP literals. */
  def publicSuffix(host: String, rules: Rules = Default): String = {
    val ls = labelsOf(host)
    if (ls == null) return null
    val n = suffixLen(ls, rules)
    ls.takeRight(math.min(n, ls.length)).mkString(".")
  }

  /** The registered domain (eTLD+1): public suffix + one label;
    * null when the host IS a public suffix (or is invalid) — such a
    * host must never be a quota/blocklist key. */
  def registeredDomain(host: String, rules: Rules = Default): String = {
    val ls = labelsOf(host)
    if (ls == null) return null
    val n = suffixLen(ls, rules)
    if (ls.length <= n) null
    else ls.takeRight(n + 1).mkString(".")
  }
}
