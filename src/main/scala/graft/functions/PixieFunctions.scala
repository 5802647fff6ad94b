package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference engine's scalar-function (UDF) surface re-expressed as
  * Catalyst built-ins — every function here compiles to codegen'd Spark
  * expressions, never a Scala closure, so the whole map/filter pipeline
  * stays inside WholeStageCodegen.
  *
  * Reference registrations:
  *   math:    src/carnot/funcs/builtins/math_ops.cc
  *   string:  src/carnot/funcs/builtins/string_ops.cc
  *   regex:   src/carnot/funcs/builtins/regex_ops.cc
  *   json:    src/carnot/funcs/builtins/json_ops.cc
  *   cond:    src/carnot/funcs/builtins/conditionals.cc
  */
object PixieFunctions {

  // ---- math_ops ------------------------------------------------------

  /** px.bin(x, w): floor x to a multiple of w (the tumbling-window engine;
    * reference math_ops registers `bin` via modulo). Integer semantics.
    */
  def bin(x: Column, width: Long): Column =
    (x - pmod(x, lit(width))).cast(LongType)

  /** Exact int64 division. Column./ promotes to double, which silently
    * corrupts epoch-ns values (2^63-scale longs exceed double's 2^53 exact
    * range) — every time computation in the engine goes through this.
    * Truncates toward zero, same as DuckDB's integer `//` — negative
    * numerators stay oracle-exact (the kappa path relies on it).
    */
  def idiv(a: Column, b: Long): Column = idiv(a, lit(b))

  /** Column-divisor overload — the exactness-critical integer division
    * every ppm/share computation uses; one definition, not per-file
    * copies that could drift.
    */
  def idiv(a: Column, b: Column): Column = call_function("div", a, b)

  /** Time bin over an epoch-ns long column (the engine's TIME64NS
    * convention), result = epoch *seconds* of the window start. All window
    * math is exact int64 like the reference.
    */
  def timeBinNs(tsNs: Column, widthSeconds: Long): Column =
    idiv(tsNs, widthSeconds * 1000000000L) * widthSeconds

  /** Exact ns -> µs floor conversion (integer div, no double rounding). */
  def nsToUs(tsNs: Column): Column = idiv(tsNs, 1000L)

  def modulo(x: Column, y: Column): Column = pmod(x, y)

  /** Epoch-ns literal for a UTC date/datetime string — the query-build-time
    * analog of PxL's compile-time time resolution (planner/ir/time.cc).
    */
  def tsNsLit(s: String): Long = {
    val fmt = if (s.length == 10) s + "T00:00:00Z" else s.replace(' ', 'T') + "Z"
    java.time.Instant.parse(fmt).getEpochSecond * 1000000000L
  }

  // ---- time ops (reference: px.now/px.seconds...,
  //      planner/ir/time.cc duration strings) -----------------------

  /** px.parse_duration('-30s') — compile-time in the reference
    * (planner/ir/time.cc:25-44); here a plain Scala helper returning ns.
    */
  def parseDurationNs(s: String): Long = {
    val m = raw"(-?)(\d+)(ns|us|ms|s|m|h|d)".r
    s match {
      case m(sign, n, unit) =>
        val mult = unit match {
          case "ns" => 1L; case "us" => 1000L; case "ms" => 1000000L
          case "s" => 1000000000L; case "m" => 60L * 1000000000L
          case "h" => 3600L * 1000000000L; case "d" => 86400L * 1000000000L
        }
        (if (sign == "-") -1L else 1L) * n.toLong * mult
      case _ => throw new IllegalArgumentException(s"bad duration: $s")
    }
  }

  /** px.strptime(col, fmt) (pixie_module.h:183-247): parse a formatted
    * UTC time string to epoch-ns. fmt uses Java/Spark datetime patterns
    * (the engine-native spelling of the reference's strptime format).
    */
  def strptime(s: Column, fmt: String): Column =
    unix_micros(to_timestamp(s, fmt)) * 1000L

  /** px.parse_time: absolute ('2024-01-02', '2024-01-02 03:04:05') or
    * relative ('-30s', '5m') time to epoch-ns against a reference now.
    * Compile-time resolution like planner/ir/time.cc ParseStringToTime.
    */
  def parseTimeNs(s: String, nowNs: Long): Long =
    if (s.matches(raw"-?\d+(ns|us|ms|s|m|h|d)")) nowNs + parseDurationNs(s)
    else tsNsLit(s)

  /** px.format_duration(ns): compact "1d2h3m4s" rendering (largest-unit
    * first, zero components omitted, "0s" for zero, '-' prefix).
    * Declarative column version so it runs in the row pipeline.
    */
  def formatDuration(ns: Column): Column = {
    val a = abs(ns)
    val d = idiv(a, 86400L * 1000000000L)
    val h = pmod(idiv(a, 3600L * 1000000000L), lit(24L))
    val m = pmod(idiv(a, 60L * 1000000000L), lit(60L))
    val sec = pmod(idiv(a, 1000000000L), lit(60L))
    val body = concat(
      when(d > 0, concat(d.cast(StringType), lit("d"))).otherwise(lit("")),
      when(h > 0, concat(h.cast(StringType), lit("h"))).otherwise(lit("")),
      when(m > 0, concat(m.cast(StringType), lit("m"))).otherwise(lit("")),
      when(sec > 0, concat(sec.cast(StringType), lit("s"))).otherwise(lit("")))
    when(a < 1000000000L, lit("0s"))
      .when(ns < 0, concat(lit("-"), body))
      .otherwise(body)
  }

  // ---- string_ops ----------------------------------------------------

  /** Pixie find: first index of sub, -1 if absent (0-based). */
  def find(s: Column, sub: String): Column = locate(sub, s) - 1
  def stripPrefix(prefix: String, s: Column): Column =
    when(s.startsWith(prefix), s.substr(lit(prefix.length + 1), length(s))).otherwise(s)
  def hexToAscii(h: Column): Column = unhex(h).cast(StringType)
  def bytesToHex(b: Column): Column = hex(b)
  def atoi(s: Column): Column = s.cast(LongType)
  def itoa(x: Column): Column = x.cast(StringType)

  // ---- regex_ops -----------------------------------------------------

  def regexMatch(pattern: String, s: Column): Column = s.rlike(pattern)
  def regexReplace(pattern: String, s: Column, sub: String): Column =
    regexp_replace(s, pattern, sub)

  // ---- json_ops ------------------------------------------------------

  /** pluck: JSON string field -> string (reference json_ops.cc). */
  def pluck(json: Column, key: String): Column =
    get_json_object(json, s"$$.$key")
  /** pluck_int64 (json_ops.h PluckAsInt64UDF): 0 on missing key, bad
    * JSON, null, or a non-int value — Carnot has no nulls, so every
    * failure mode is 0, and amqp_average_stats relies on that for its
    * absent body_size field.
    */
  def pluckInt64(json: Column, key: String): Column =
    coalesce(pluck(json, key).cast(LongType), lit(0L))
  def pluckFloat64(json: Column, key: String): Column =
    pluck(json, key).cast(DoubleType)
  /** pluck_array: element at index of a JSON array, as string. */
  def pluckArray(json: Column, idx: Int): Column =
    get_json_object(json, s"$$[$idx]")

  /** split (json_ops.cc SplitUDF): split on a LITERAL delimiter and
    * return the result as a JSON array *string* (not a Spark array) —
    * byte-parity with the reference's string-in/string-out contract.
    */
  def splitToJson(s: Column, delimiter: String): Column =
    to_json(split(s, java.util.regex.Pattern.quote(delimiter)))

  /** _script_reference (json_ops.cc ScriptReferenceUDF): deep-link cell
    * payload {"label":..,"script":..,"args":{k:v,...}} with
    * struct-declaration key order (deterministic).
    */
  def scriptReference(label: Column, script: Column, args: (String, Column)*): Column =
    to_json(struct(
      label.as("label"), script.as("script"),
      struct(args.map { case (k, v) => v.as(k) }: _*).as("args")))

  /** Parse a flat JSON object of string->string into ordered pairs —
    * the _match_regex_rule rules argument (rule order is match
    * priority, so a Map would lose semantics).
    */
  def parseJsonStringMap(json: String): Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    var i = 0
    val n = json.length
    def str(): String = { // at opening quote
      val sb = new StringBuilder; i += 1
      while (i < n && json(i) != '"') {
        if (json(i) == '\\' && i + 1 < n) { sb += json(i + 1); i += 2 }
        else { sb += json(i); i += 1 }
      }
      i += 1; sb.toString
    }
    while (i < n) {
      if (json(i) == '"') {
        val k = str()
        while (i < n && json(i) != '"') i += 1 // skip ':' and spaces
        if (i < n) out += (k -> str())
      } else i += 1
    }
    out.result()
  }

  /** _match_regex_rule (regex_ops.cc): first rule whose pattern matches
    * wins; default when none do. Codegen'd CASE WHEN rlike chain.
    */
  def matchRegexRule(c: Column, rules: Seq[(String, String)], default: String): Column =
    rules.foldRight(lit(default): Column) { case ((name, pattern), acc) =>
      when(c.rlike(pattern), lit(name)).otherwise(acc)
    }

  // ---- conditionals --------------------------------------------------

  /** select(cond, a, b) (reference conditionals.cc). */
  def select3(cond: Column, ifTrue: Column, ifFalse: Column): Column =
    when(cond, ifTrue).otherwise(ifFalse)

  /** px.equals_any(col, values) — OR-fold of equals (pixie_module.h:120). */
  def equalsAny(c: Column, values: Seq[Any]): Column = c.isin(values: _*)

  // ---- util / protocol decoders (enum -> string lookup tables) --------

  /** Build a codegen'd CASE WHEN chain from a lookup table — the pattern
    * for all protocol_ops decoders (protocol_name, dns_rcode_name, ...).
    */
  def lookupMap(c: Column, m: Map[Long, String], default: String): Column =
    m.foldLeft(lit(default)) { case (acc, (k, v)) => when(c === k, lit(v)).otherwise(acc) }

  /** grpc_status_code_to_str (reference util_ops.cc). */
  val grpcStatusMap: Seq[(Long, String)] = Seq(
    0L -> "OK", 1L -> "Cancelled", 2L -> "Unknown", 3L -> "InvalidArgument",
    4L -> "DeadlineExceeded", 5L -> "NotFound", 6L -> "AlreadyExists",
    7L -> "PermissionDenied", 8L -> "ResourceExhausted", 9L -> "FailedPrecondition",
    10L -> "Aborted", 11L -> "OutOfRange", 12L -> "Unimplemented", 13L -> "Internal",
    14L -> "Unavailable", 15L -> "DataLoss", 16L -> "Unauthenticated")
  def grpcStatusCodeToStr(c: Column): Column =
    lookupMap(c, grpcStatusMap.toMap, "Unknown")
  def grpcStatusCodeToStrSql(expr: String): String =
    grpcStatusMap.map { case (k, v) => s"WHEN $k THEN '$v'" }
      .mkString(s"(CASE $expr ", " ", " ELSE 'Unknown' END)")

  /** EqualsOrArrayContains (reference metadata_ops.h:3081-3096 — the
    * has_service_name / has_service_id predicate core): plain equality,
    * or membership when the stored value is a JSON string array (a pod
    * can belong to several services).
    */
  def equalsOrArrayContains(value: Column, target: Column): Column = {
    val arr = from_json(value, org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType))
    when(value.startsWith("[") && arr.isNotNull,
      coalesce(array_contains(arr, target), lit(false)))
      .otherwise(value === target)
  }

  /** http_resp_message (reference funcs/protocols) — common subset. */
  def httpRespMessage(status: Column): Column = lookupMap(status, Map(
    200L -> "OK", 201L -> "Created", 204L -> "No Content", 301L -> "Moved Permanently",
    302L -> "Found", 304L -> "Not Modified", 400L -> "Bad Request", 401L -> "Unauthorized",
    403L -> "Forbidden", 404L -> "Not Found", 408L -> "Request Timeout",
    429L -> "Too Many Requests", 500L -> "Internal Server Error", 502L -> "Bad Gateway",
    503L -> "Service Unavailable", 504L -> "Gateway Timeout"), "Unknown")
}
