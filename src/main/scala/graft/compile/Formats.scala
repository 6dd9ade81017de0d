package graft.compile

/** `format` keyword predicate library — self-contained regexes (no external
  * dep), behavioral analog of /root/reference/src/format.cr.
  *
  * The reference's runtime only wires `uuid` (validator.cr:370-372); we wire
  * the full table (spec-correct divergence, documented in FIXTURES.md §4).
  * Formats the reference raises "not implemented" on stay unsupported here.
  * Every predicate is a single `\A…\z`-anchored Java regex so the Spark
  * side is a plain `rlike` (codegen'd, find semantics) and the driver side
  * (propertyNames) is `Pattern.matches`; `\z`, unlike `$`, matches before
  * no trailing line terminator, so the two agree on every string.
  */
object Formats {

  // Same shapes as format.cr:3-11,78-84; `email`/`ipv4`/`ipv6`/`uuid`/`uri`
  // delegate to the crystal-validator shard in the reference — standard
  // self-contained regexes here.
  val regexes: Map[String, String] = Map(
    "date-time" -> "\\A\\d{4}-(0[0-9]|1[0-2])-(3[01]|0[1-9]|[12][0-9])[tT ](2[0-4]|[01][0-9]):([0-5][0-9]):(60|[0-5][0-9])(\\.\\d+)?([zZ]|[+-]([0-5][0-9]):(60|[0-5][0-9]))\\z",
    "date" -> "\\A\\d{4}-(0[0-9]|1[0-2])-(3[01]|0[1-9]|[12][0-9])\\z",
    "time" -> "\\A(2[0-4]|[01][0-9]):([0-5][0-9]):(60|[0-5][0-9])\\z",
    "duration" -> "\\AP(T\\d+(H(\\d+M(\\d+S)?)?|M(\\d+S)?|S)|\\d+(D|M(\\d+D)?|Y(\\d+M(\\d+D)?)?)(T\\d+(H(\\d+M(\\d+S)?)?|M(\\d+S)?|S))?|\\d+W)\\z",
    "email" -> "\\A[A-Za-z0-9.!#$%&'*+/=?^_`{|}~-]+@[A-Za-z0-9](?:[A-Za-z0-9-]{0,61}[A-Za-z0-9])?(?:\\.[A-Za-z0-9](?:[A-Za-z0-9-]{0,61}[A-Za-z0-9])?)*\\z",
    "hostname" -> "\\A(?=.{1,255}\\z)[0-9A-Za-z](?:[0-9A-Za-z-]{0,61}[0-9A-Za-z])?(?:\\.[0-9A-Za-z](?:[0-9A-Za-z-]{0,61}[0-9A-Za-z])?)*\\.?\\z",
    "ipv4" -> "\\A((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\z",
    "ipv6" -> "\\A(([0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}|([0-9A-Fa-f]{1,4}:){1,7}:|([0-9A-Fa-f]{1,4}:){1,6}:[0-9A-Fa-f]{1,4}|([0-9A-Fa-f]{1,4}:){1,5}(:[0-9A-Fa-f]{1,4}){1,2}|([0-9A-Fa-f]{1,4}:){1,4}(:[0-9A-Fa-f]{1,4}){1,3}|([0-9A-Fa-f]{1,4}:){1,3}(:[0-9A-Fa-f]{1,4}){1,4}|([0-9A-Fa-f]{1,4}:){1,2}(:[0-9A-Fa-f]{1,4}){1,5}|[0-9A-Fa-f]{1,4}:((:[0-9A-Fa-f]{1,4}){1,6})|:((:[0-9A-Fa-f]{1,4}){1,7}|:))\\z",
    "uuid" -> "\\A[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\\z",
    "uri" -> "\\A[A-Za-z][A-Za-z0-9+.-]*://[^\\s]+\\z",
    "json-pointer" -> "\\A(/([\\x00-\\x2e0-@\\[-}\\x7f]|~[01])*)*\\z",
    "relative-json-pointer" -> "\\A\\d+(#|(/([\\x00-\\x2e0-@\\[-}\\x7f]|~[01])*)*)\\z"
  )

  /** Formats the reference explicitly raises on (format.cr:37-39,45-47,66-76). */
  val unsupported: Set[String] =
    Set("idn-email", "idn-hostname", "uri-reference", "iri", "iri-reference")

  def regexFor(name: String): Option[String] =
    if (name == "regex") None // no regex-shaped regex exists: see regexCompiles
    else regexes.get(name)

  /** format:"regex" data check — validity is "compiles as a regex", which no
    * regex can itself express, so this is the one UDF in the compilers (runs
    * only when a spec uses format:"regex"; never on the generic hot path). */
  val regexCompiles: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (s: String) =>
      if (s == null) false
      else try { java.util.regex.Pattern.compile(s); true }
      catch { case _: Throwable => false }
    }

  /** Driver-side check (for propertyNames and spec validation). */
  def matches(name: String, value: String): Boolean = name match {
    case "regex" =>
      try { java.util.regex.Pattern.compile(value); true }
      catch { case _: Throwable => false }
    case _ => regexes.get(name).exists(value.matches)
  }
}
