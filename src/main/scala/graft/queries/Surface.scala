package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.PixieFunctions._
import graft.functions.{NetOps, PiiOps, ProtocolOps, SqlNormalize, UriOps}
import Q._

/** SURVEY §2.5 long-tail scalar surface: protocol enum decoders, URI
  * parse/recompose, PII redaction, CIDR math, SQL normalization, JSON
  * split / script_reference / multi-rule regex matching. Oracles are
  * either dual-emitted from the same rule tables (protocols, PII, CIDR)
  * or constructed-output checks on synthesized inputs (URI, SQL-norm) —
  * both styles validate values exactly, row by row.
  */
object Surface extends Gates {

  private val uriSparkExpr = (dir: String) => concat(
    lit("https://u"), pmod(col("p_partkey"), lit(5)), lit("@shop"),
    pmod(col("p_partkey"), lit(20)), lit(".example.com:"),
    (lit(8000) + pmod(col("p_partkey"), lit(3))), lit("/parts/"), col("p_partkey"),
    lit("/detail?size="), col("p_size"), lit("#frag"), pmod(col("p_partkey"), lit(7)))

  private val uriSqlExpr =
    "'https://u' || (p_partkey%5) || '@shop' || (p_partkey%20) || '.example.com:' || " +
      "(8000 + p_partkey%3) || '/parts/' || p_partkey || '/detail?size=' || p_size || " +
      "'#frag' || (p_partkey%7)"

  lazy val gates: Seq[Gate] = Seq(
    // Protocol decoders (funcs/protocols/*): every table, full domain
    // sweep including out-of-table codes exercising each default kind.
    Gate("q40_protocols", (s, dir) => {
      val e = spreadIfNarrow(s, t(s, dir, "events").select(col("event_id")),
        s"$dir/events.parquet")
      e.select(
        col("event_id"),
        ProtocolOps.protocolName.column(pmod(col("event_id"), lit(15))).as("proto"),
        ProtocolOps.httpRespMessage.column(lit(100) + pmod(col("event_id"), lit(460))).as("http_msg"),
        ProtocolOps.kafkaApiKeyName.column(pmod(col("event_id"), lit(70))).as("kafka_api"),
        ProtocolOps.mysqlCommandName.column(pmod(col("event_id"), lit(40))).as("mysql_cmd"),
        ProtocolOps.cqlOpcodeName.column(pmod(col("event_id"), lit(20))).as("cql_op"),
        ProtocolOps.dnsRcodeName.column(pmod(col("event_id"), lit(30))).as("dns_rcode"),
        ProtocolOps.muxFrameTypeName.column(pmod(col("event_id"), lit(260)) - 130).as("mux_frame"),
        ProtocolOps.amqpFrameTypeName.column(pmod(col("event_id"), lit(10))).as("amqp_frame"),
        ProtocolOps.amqpMethodName(
          pmod(col("event_id"), lit(100)), pmod(col("event_id"), lit(120))).as("amqp_method"),
        grpcStatusCodeToStr(pmod(col("event_id"), lit(20))).as("grpc_status")
      ).orderBy("event_id")
    }, oracle = (
      "SELECT event_id, " +
        ProtocolOps.protocolName.sql("(event_id % 15)") + " AS proto, " +
        ProtocolOps.httpRespMessage.sql("(100 + event_id % 460)") + " AS http_msg, " +
        ProtocolOps.kafkaApiKeyName.sql("(event_id % 70)") + " AS kafka_api, " +
        ProtocolOps.mysqlCommandName.sql("(event_id % 40)") + " AS mysql_cmd, " +
        ProtocolOps.cqlOpcodeName.sql("(event_id % 20)") + " AS cql_op, " +
        ProtocolOps.dnsRcodeName.sql("(event_id % 30)") + " AS dns_rcode, " +
        ProtocolOps.muxFrameTypeName.sql("(event_id % 260 - 130)") + " AS mux_frame, " +
        ProtocolOps.amqpFrameTypeName.sql("(event_id % 10)") + " AS amqp_frame, " +
        ProtocolOps.amqpMethodNameSql("(event_id % 100)", "(event_id % 120)") + " AS amqp_method, " +
        graft.functions.PixieFunctions.grpcStatusCodeToStrSql("(event_id % 20)") + " AS grpc_status " +
        "FROM events ORDER BY event_id")),

    // uri_parse component JSON + uri_recompose round-trip on fully
    // populated synthesized URIs.
    Gate("q41_uri", (s, dir) => {
      val withUri = t(s, dir, "part").withColumn("uri", uriSparkExpr(dir))
      withUri.select(
        col("p_partkey"),
        col("uri"),
        UriOps.uriParse(col("uri")).as("parsed"),
        (UriOps.uriRecompose(
          UriOps.scheme(col("uri")), UriOps.userInfo(col("uri")),
          UriOps.host(col("uri")), UriOps.port(col("uri")).cast("long"),
          UriOps.path(col("uri")), UriOps.query(col("uri")),
          UriOps.fragment(col("uri"))) === col("uri")).as("roundtrip")
      ).orderBy("p_partkey")
    }, oracle = (
      s"""WITH u AS (SELECT p_partkey, p_size, $uriSqlExpr AS uri FROM part)
         |SELECT p_partkey, uri,
         |  '{"scheme":"https","userInfo":"u' || (p_partkey%5) ||
         |  '","host":"shop' || (p_partkey%20) || '.example.com","port":' || (8000 + p_partkey%3) ||
         |  ',"path":"parts/' || p_partkey || '/detail","query":"size=' || p_size ||
         |  '","fragment":"frag' || (p_partkey%7) || '"}' AS parsed,
         |  true AS roundtrip
         |FROM u ORDER BY p_partkey""".stripMargin)),

    // redact_pii_best_effort: email/MAC/IPv6/IPv4/SSN/CC/IMEI battery,
    // both engines running the same rule chain on the same text.
    Gate("q42_pii", (s, dir) => {
      val txt = concat(
        lit("user "), col("user_id"), lit(" <u"), col("user_id"), lit("@mail"),
        pmod(col("user_id"), lit(10)), lit(".com> from 10."),
        pmod(col("user_id"), lit(200)), lit(".3."), pmod(col("event_id"), lit(250)),
        lit(" gw fe80::1 mac aa:bb:cc:dd:ee:0f card 4111 2222 3333 "),
        (lit(4000) + pmod(col("event_id"), lit(1000))),
        lit(" ssn 123-45-6789 imei 490154203237518"))
      spreadIfNarrow(s, t(s, dir, "events"), s"$dir/events.parquet")
        .select(col("event_id"), PiiOps.redactPii(txt).as("redacted"))
        .orderBy("event_id")
    }, oracle = (
      "SELECT event_id, " + PiiOps.redactPiiSql(
        "('user ' || user_id || ' <u' || user_id || '@mail' || (user_id%10) || " +
          "'.com> from 10.' || (user_id%200) || '.3.' || (event_id%250) || " +
          "' gw fe80::1 mac aa:bb:cc:dd:ee:0f card 4111 2222 3333 ' || " +
          "(4000 + event_id%1000) || ' ssn 123-45-6789 imei 490154203237518')") +
        " AS redacted FROM events ORDER BY event_id")),

    // cidrs_contain_ip + single-CIDR containment (net_ops).
    Gate("q43_cidr", (s, dir) => {
      val ip = concat(lit("10."), col("n_nationkey"), lit(".7.5"))
      t(s, dir, "nation").select(
        col("n_nationkey"),
        ip.as("ip"),
        NetOps.cidrContainsIp(lit("10.0.0.0/8"), ip).as("in_10_8"),
        NetOps.cidrContainsIp(
          concat(lit("10."), col("n_nationkey"), lit(".0.0/16")), ip).as("in_own_16"),
        NetOps.cidrContainsIp(lit("192.168.0.0/16"), ip).as("in_192"),
        NetOps.cidrsContainIp(lit("""["10.3.0.0/16","10.7.0.0/16"]"""), ip).as("in_list")
      ).orderBy("n_nationkey")
    }, oracle = (
      "WITH n AS (SELECT n_nationkey, '10.' || n_nationkey || '.7.5' AS ip FROM nation) " +
        "SELECT n_nationkey, ip, " +
        NetOps.cidrContainsIpSql("'10.0.0.0/8'", "ip") + " AS in_10_8, " +
        NetOps.cidrContainsIpSql("('10.' || n_nationkey || '.0.0/16')", "ip") + " AS in_own_16, " +
        NetOps.cidrContainsIpSql("'192.168.0.0/16'", "ip") + " AS in_192, (" +
        NetOps.cidrContainsIpSql("'10.3.0.0/16'", "ip") + " OR " +
        NetOps.cidrContainsIpSql("'10.7.0.0/16'", "ip") + ") AS in_list " +
        "FROM n ORDER BY n_nationkey")),

    // normalize_pgsql ($N placeholders) + normalize_mysql (?) — the
    // oracle constructs the expected {query, params} JSON directly.
    Gate("q44_sql_normalize", (s, dir) => {
      val pgIn = concat(
        lit("SELECT * FROM parts WHERE size = "), col("p_size"),
        lit(" AND brand = '"), col("p_brand"), lit("' LIMIT 7"))
      val myIn = concat(
        lit("INSERT INTO parts VALUES ("), col("p_partkey"),
        lit(", '"), col("p_brand"), lit("', 3.14)"))
      t(s, dir, "part").select(
        col("p_partkey"),
        SqlNormalize.normalizePgsql(pgIn).as("pg_norm"),
        SqlNormalize.normalizeMysql(myIn).as("my_norm")
      ).orderBy("p_partkey")
    }, oracle = (
      """SELECT p_partkey,
        |  '{"query":"SELECT * FROM parts WHERE size = $1 AND brand = $2 LIMIT $3","params":["'
        |    || p_size || '","' || '''' || p_brand || '''' || '","7"]}' AS pg_norm,
        |  '{"query":"INSERT INTO parts VALUES (?, ?, ?)","params":["'
        |    || p_partkey || '","' || '''' || p_brand || '''' || '","3.14"]}' AS my_norm
        |FROM part ORDER BY p_partkey""".stripMargin)),

    // json_ops split (JSON array string) + _script_reference payload +
    // regex_ops _match_regex_rule chain + the string/json orphans
    // (hex_to_ascii, bytes_to_hex, itoa, pluck_array).
    Gate("q45_split_scriptref", (s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        splitToJson(col("p_name"), " ").as("name_toks"),
        scriptReference(
          lit("View part"), lit("px/part"),
          "part" -> col("p_partkey").cast("string")).as("ref"),
        matchRegexRule(col("p_name"),
          Seq("widget_rule" -> "widget$", "blue_rule" -> "^blue ",
              "bolt_rule" -> "bolt"), "other").as("rule"),
        lower(bytesToHex(col("p_name").cast("binary"))).as("name_hex"),
        (hexToAscii(bytesToHex(col("p_name").cast("binary")))
          === col("p_name")).as("hex_rt"),
        itoa(col("p_partkey")).as("key_str"),
        pluckArray(splitToJson(col("p_name"), " "), 1).as("second_tok")
      ).orderBy("p_partkey")
    }, oracle = (
      """SELECT p_partkey,
        |  to_json(string_split(p_name, ' ')) AS name_toks,
        |  '{"label":"View part","script":"px/part","args":{"part":"' || p_partkey || '"}}' AS ref,
        |  CASE WHEN regexp_matches(p_name, 'widget$') THEN 'widget_rule'
        |       WHEN regexp_matches(p_name, '^blue ') THEN 'blue_rule'
        |       WHEN regexp_matches(p_name, 'bolt') THEN 'bolt_rule'
        |       ELSE 'other' END AS rule,
        |  lower(hex(p_name)) AS name_hex,
        |  (decode(unhex(hex(p_name))) = p_name) AS hex_rt,
        |  CAST(p_partkey AS VARCHAR) AS key_str,
        |  string_split(p_name, ' ')[2] AS second_tok
        |FROM part ORDER BY p_partkey""".stripMargin)))
}
