package graft.pxl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PixieFunctions
import graft.operators.PxTable
import scala.collection.mutable

/** Minimal PxL front-end — evaluator half. Executes the parsed statement
  * list against the PxTable operator surface, so a user's existing PxL
  * script (px.DataFrame / ctx / groupby.agg / merge / head / display, the
  * px.* scalar+agg module) runs unmodified on the Spark engine.
  *
  * Reference semantics sources: objects/dataframe.h (operator surface),
  * objects/pixie_module.h + pixie_module.cc:438-479 (px.* module,
  * compile-time time resolution), planner/ir/time.cc (relative time
  * strings), compiler/ast_visitor.h (evaluation order: flat statements,
  * assignments rebind, attribute/subscript column assignment).
  *
  * Resolvable px.* surface: 102 directly-bound builtin names (scalars,
  * time/duration constructors, semantic-type casts, protocol decoders,
  * 14 UDTF sources, display/debug sinks), PLUS the 81 metadata lookup
  * bindings injected through [[PxlEnv.metaFns]]
  * (graft.meta.MetadataOps.bindings) and 10 aggregate functions (count,
  * mean, sum, max, min, any, quantiles, sample, pprof, _kmeans) — every
  * name the 67 bundled scripts reference resolves (PxlSpec sweeps).
  *
  * Engine policy notes:
  * - `px.quantiles` has two mappings selected by [[PxlEnv.sketchQuantiles]]:
  *   the mergeable t-digest sketch (graft.functions.Aggregators
  *   .QuantilesAgg, the reference's own choice — math_sketches.h:42-129)
  *   whose per-group state is O(compression) regardless of group size —
  *   this is the DEFAULT (graft.queries.Pxl.defaultSketchQuantiles) — or
  *   exact interpolated percentiles reported as the same ST_QUANTILES
  *   JSON. Exact buffers every group value (an OOM risk for hot groups at
  *   scale) and exists for the DuckDB-hash gate (invariant: Spark
  *   `percentile` == DuckDB `quantile_cont`); Verify opts into it.
  * - `px.now()` / relative start_time strings resolve against
  *   [[PxlEnv.nowNs]] at script-build time, exactly like the reference
  *   planner folds px.now() into literals before execution.
  */
object PxlRunner {
  import PxlParser._

  /** Execution environment: the deterministic "now", the table catalog,
    * the ctx metadata resolver ((df, property, outName) => df with the
    * resolved column attached), and the metadata scalar-call surface
    * (px.ip_to_pod_id(col) style — joins under the hood, so they resolve
    * through a callback: (df, fnName, inCol, outCol) => df'). `modules`
    * maps an importable module name to a thunk yielding its PxL source;
    * the thunk runs only when a script executes `import <name>`, so
    * building an env reads no module file.
    */
  final case class PxlEnv(
      nowNs: Long,
      tables: String => DataFrame,
      ctx: (DataFrame, String, String) => DataFrame,
      metaFns: Set[String] = Set.empty,
      meta: (DataFrame, String, String, String) => DataFrame =
        (_, fn, _, _) => throw new PxlError(s"metadata fn $fn: no resolver bound"),
      modules: Map[String, () => String] = Map.empty,
      sketchQuantiles: Boolean = false,
      /** UDTF sources (`px.GetAgentStatus()` style): name + stringified
        * args -> relation. Bound to graft.sources.CatalogUdtfs.
        */
      udtfs: (String, Seq[String]) => DataFrame =
        (n, _) => throw new PxlError(s"UDTF $n: no resolver bound"))

  // ---- value domain --------------------------------------------------
  private sealed trait V
  private case class VTab(t: PxTable) extends V
  private case class VGrouped(t: PxTable, keys: Seq[String]) extends V
  private case class VCol(c: Column) extends V
  private case class VInt(v: Long) extends V
  private case class VFloat(v: Double) extends V
  private case class VStr(v: String) extends V
  private case class VBool(v: Boolean) extends V
  private case class VList(xs: Seq[V]) extends V
  private case class VDict(entries: Seq[(V, V)]) extends V
  private case class VBuiltin(name: String) extends V
  private case class VMethod(recv: V, name: String) extends V
  private case class VCtxObj(t: PxTable) extends V
  private case class VCtx(property: String) extends V
  /** A string-TYPED column (concat chains): `+` on it means concat, not
    * numeric add — PxL's `"topic" + "/" + df.topic_name` idiom.
    */
  private case class VSCol(c: Column) extends V
  private case class VFunc(params: Seq[String], paramTypes: Seq[Option[String]],
      body: Seq[PxlParser.Stmt], closure: mutable.Map[String, V]) extends V
  private case class VModule(scope: mutable.Map[String, V]) extends V
  /** A deferred metadata-fn application (expands to a join at column
    * assignment, like ConvertMetadataRule's UDF-to-join expansion).
    */
  private case class VMetaCall(fn: String, arg: V) extends V
  /** A column expression with pending ctx/metadata JOINS inside it —
    * lets ctx properties and metadata calls appear anywhere a column
    * can (`df[df.ctx['namespace'] == ns]`,
    * `px.select(cond, df.pod, px.pod_id_to_pod_name(...))`): each
    * pending join materializes into a temp column when the enclosing
    * filter/assignment executes, exactly like ConvertMetadataRule
    * expanding metadata refs in-place.
    */
  private sealed trait Pend
  private case class PendCtx(prop: String) extends Pend
  private case class PendMeta(fn: String, arg: V) extends Pend
  private case class VDeferred(pends: Seq[Pend], build: Seq[Column] => Column)
      extends V

  private val TableMethods = Set("groupby", "agg", "merge", "head", "drop", "append")

  final class PxlError(msg: String) extends RuntimeException(msg)
  private final class ReturnSignal(val value: V) extends RuntimeException

  /** Parse + execute top-level; returns displayed tables (name -> DataFrame). */
  def run(script: String, env: PxlEnv): Map[String, DataFrame] =
    exec(script, env, None)._1

  /** ExecuteScript-with-exec_funcs (SURVEY §3 entry point 2 —
    * compiler.cc ProcessExecFuncs): run the module, then invoke `fn`
    * with string args and return its DataFrame result.
    */
  def runFunction(script: String, env: PxlEnv, fn: String,
                  args: Seq[String]): DataFrame =
    exec(script, env, Some((fn, args)))._2.getOrElse(
      throw new PxlError(s"$fn did not return a DataFrame"))

  private def exec(script: String, env: PxlEnv,
                   call: Option[(String, Seq[String])])
      : (Map[String, DataFrame], Option[DataFrame]) = {
    val stmts = PxlParser.parse(script)
    // Scope chain: function locals shadow module globals (defs close
    // over the module scope — the subset has no nested defs).
    val moduleScope = mutable.LinkedHashMap[String, V]()
    var scopes: List[mutable.Map[String, V]] = List(moduleScope)
    def lookupVar(n: String): Option[V] =
      scopes.collectFirst { case s if s.contains(n) => s(n) }
    def vars = scopes.head
    val results = mutable.LinkedHashMap[String, DataFrame]()

    // Quote a column name for functions.col (names like "latency(p50)").
    def c(name: String): Column =
      if (name.forall(ch => ch.isLetterOrDigit || ch == '_')) col(name)
      else col(s"`$name`")

    /** Column read off a table, typed from the SCHEMA dtype — Carnot's
      * registry resolves overloads from column types, so `+` on two
      * string columns concats (and on string+int fails) without any
      * literal in the expression. Columns absent from the schema (never
      * the case for bundled scripts) stay untyped.
      */
    def readCol(t: PxTable, name: String): V =
      if (t.df.schema.fields.exists(f => f.name == name &&
          f.dataType == org.apache.spark.sql.types.StringType)) VSCol(c(name))
      else VCol(c(name))

    def asCol(v: V): Column = v match {
      case VCol(x) => x
      case VSCol(x) => x
      case VInt(x) => lit(x)
      case VFloat(x) => lit(x)
      case VStr(x) => lit(x)
      case VBool(x) => lit(x)
      case other => throw new PxlError(s"expected a column/literal, got $other")
    }

    def asStrings(v: V): Seq[String] = v match {
      case VStr(s) => Seq(s)
      case VList(xs) => xs.map { case VStr(s) => s
        case o => throw new PxlError(s"expected string, got $o") }
      case other => throw new PxlError(s"expected column name(s), got $other")
    }

    def asLongV(v: V): Long = v match {
      case VInt(x) => x
      case VFloat(x) => x.toLong
      // exec_funcs args arrive as strings and are coerced by the
      // function's declared type (compiler.cc ProcessExecFuncs)
      case VStr(x) if x.matches("-?[0-9]+") => x.toLong
      case other => throw new PxlError(s"expected a number, got $other")
    }

    def asDoubleV(v: V): Double = v match {
      case VFloat(x) => x
      case VInt(x) => x.toDouble
      case VStr(x) if x.matches("-?[0-9]+(\\.[0-9]+)?([eE][+-]?[0-9]+)?") => x.toDouble
      case other => throw new PxlError(s"expected a number, got $other")
    }

    def binop(op: String, l: V, r: V): V = (l, r) match {
      case (VInt(a), VInt(b)) => op match {
        case "+" => VInt(a + b); case "-" => VInt(a - b); case "*" => VInt(a * b)
        case "/" => VFloat(a.toDouble / b); case "//" => VInt(Math.floorDiv(a, b))
        case "%" => VInt(Math.floorMod(a, b))
        case "==" => VBool(a == b); case "!=" => VBool(a != b)
        case ">=" => VBool(a >= b); case "<=" => VBool(a <= b)
        case ">" => VBool(a > b); case "<" => VBool(a < b)
        case o => throw new PxlError(s"int op $o")
      }
      // ctx properties and metadata-fn results are STRING-typed by
      // construction (all k8s names/ids); a `+` mixing one with a string
      // side concats through the deferred-join machinery.
      case _ if needsJoin(l) || needsJoin(r) =>
        val cc: (Column, Column) => Column =
          if (op == "+" && (isStringy(l) || isStringy(r))) concat(_, _)
          else binopCol(op, _, _)
        colCombine(Seq(l, r)) { case Seq(a, b) => cc(a, b) }
      // `+` with a string-typed side: concat when BOTH sides are string-
      // typed (schema-typed column reads, string-returning builtins, or
      // literals), a type error otherwise — Carnot's typed registry has
      // no string+numeric `add` overload (funcs/builtins/math_ops.cc),
      // so a script typo fails here like it fails in the reference
      // instead of silently double-casting to nulls.
      // two string LITERALS fold at compile time (scripts build column
      // names this way, e.g. drop(entity + '_x')) — never a column.
      case (VStr(a), VStr(b)) if op == "+" => VStr(a + b)
      case _ if op == "+" && (isStringy(l) || isStringy(r)) =>
        if (isStringy(l) && isStringy(r)) VSCol(concat(asCol(l), asCol(r)))
        else throw new PxlError(
          s"cannot add string and non-string operands: $l + $r")
      case _ if l.isInstanceOf[VCol] || r.isInstanceOf[VCol] ||
          l.isInstanceOf[VSCol] || r.isInstanceOf[VSCol] =>
        VCol(binopCol(op, asCol(l), asCol(r)))
      // At least one side is VFloat (pure-int pairs matched above):
      // evaluate as doubles like the reference's Python-float semantics.
      case (VFloat(_) | VInt(_), VFloat(_) | VInt(_)) =>
        val (a, b) = (asDoubleV(l), asDoubleV(r))
        op match {
          case "+" => VFloat(a + b); case "-" => VFloat(a - b)
          case "*" => VFloat(a * b); case "/" => VFloat(a / b)
          case "//" => VFloat(Math.floor(a / b))
          case "%" => VFloat(a - b * Math.floor(a / b))
          case "==" => VBool(a == b); case "!=" => VBool(a != b)
          case ">=" => VBool(a >= b); case "<=" => VBool(a <= b)
          case ">" => VBool(a > b); case "<" => VBool(a < b)
          case o => throw new PxlError(s"float op $o")
        }
      case (VStr(a), VStr(b)) => op match {
        case "+" => VStr(a + b); case "==" => VBool(a == b)
        case "!=" => VBool(a != b)
        case o => throw new PxlError(s"string op $o")
      }
      case other => throw new PxlError(s"binop $op on $other")
    }

    /** Values whose column form requires a join first. */
    def needsJoin(v: V): Boolean = v match {
      case _: VCtx | _: VMetaCall | _: VDeferred => true
      case _ => false
    }

    /** Known string-TYPED values: literals, schema/builtin-typed columns,
      * ctx properties and metadata-fn results (k8s names/ids are all
      * strings in the reference's registry, metadata_ops.h).
      */
    def isStringy(v: V): Boolean = v match {
      case _: VStr | _: VSCol | _: VCtx | _: VMetaCall => true
      case _ => false
    }

    /** Lift a value into either a deferred column or a pure one. */
    def liftDef(v: V): Either[VDeferred, Column] = v match {
      case VCtx(p) => Left(VDeferred(Seq(PendCtx(p)), cs => cs.head))
      case VMetaCall(fn, arg) =>
        Left(VDeferred(Seq(PendMeta(fn, arg)), cs => cs.head))
      case d: VDeferred => Left(d)
      case other => Right(asCol(other))
    }

    /** Combine argument values with a pure column function, deferring
      * the whole expression if any argument carries pending joins.
      */
    def colCombine(args: Seq[V])(f: Seq[Column] => Column): V = {
      val lifted = args.map(liftDef)
      if (lifted.forall(_.isRight))
        VCol(f(lifted.collect { case Right(cc) => cc }))
      else {
        val pends = Seq.newBuilder[Pend]
        var idx = 0
        val getters: Seq[Seq[Column] => Column] = lifted.map {
          case Right(cc) => (_: Seq[Column]) => cc
          case Left(VDeferred(ps, build)) =>
            val start = idx; idx += ps.length; pends ++= ps
            (cs: Seq[Column]) => build(cs.slice(start, start + ps.length))
        }
        VDeferred(pends.result(), cs => f(getters.map(_(cs))))
      }
    }

    def binopCol(op: String, a: Column, b: Column): Column = op match {
      case "+" => a + b; case "-" => a - b; case "*" => a * b
      case "/" => a / b; case "%" => pmod(a, b)
      case "==" => a === b; case "!=" => a =!= b
      case ">=" => a >= b; case "<=" => a <= b
      case ">" => a > b; case "<" => a < b
      case "and" => a && b; case "or" => a || b
      case o => throw new PxlError(s"column op $o")
    }

    /** out=(column, px.aggfn) tuples -> named Spark aggregate exprs.
      * Boolean inputs to numeric aggs follow the reference's implicit
      * bool->int coercion (`num_errors=('failure', px.sum)` counts
      * failures); Spark's sum/max reject BooleanType outright.
      */
    def aggExpr(fn: String, colName: String,
                schema: org.apache.spark.sql.types.StructType): Column = {
      def cc: Column = {
        val base = c(colName)
        if (schema.exists(f => f.name == colName &&
            f.dataType == org.apache.spark.sql.types.BooleanType))
          base.cast("long")
        else base
      }
      fn match {
      case "count" => count(c(colName))
      case "mean" => avg(cc.cast("double"))
      case "sum" => sum(cc)
      case "max" => max(cc)
      case "min" => min(cc)
      case "any" => any_value(c(colName))
      // sample: deterministic distinct-value bottom-k (Aggregators.scala
      // contract, q23); pprof: folded stack profile with weight 1/row
      case "sample" => graft.functions.Aggregators.sampleK(cc, 10)
      case "pprof" =>
        graft.functions.MlAggregators.pprof(c(colName), lit(1L))
      case "_build_request_path_clusters" =>
        graft.ops.RequestPathClustering.fitAgg(c(colName))
      case "_kmeans" => graft.functions.MlAggregators.kmeans(c(colName), 2)
      case "quantiles" if env.sketchQuantiles =>
        // Scale mode: mergeable t-digest, O(compression) per-group state.
        graft.functions.Aggregators.quantiles(c(colName).cast("double"))
      case "quantiles" =>
        val ps = Seq("p01" -> 0.01, "p10" -> 0.10, "p25" -> 0.25, "p50" -> 0.50,
          "p75" -> 0.75, "p90" -> 0.90, "p99" -> 0.99)
        to_json(struct(ps.map { case (k, q) =>
          call_function("percentile", c(colName), lit(q)).as(k) }: _*))
      case other => throw new PxlError(s"unknown aggregate px.$other")
    } }

    // Builtins whose return is STRING-typed in the reference registry
    // (string_ops.cc, json_ops.cc, protocol_ops.cc, sql_ops, net_ops,
    // metadata_ops constants) — their results participate in `+` as
    // concatenation, matching Carnot's type-resolved overloads.
    val StringBuiltins: Set[String] = Set(
      "pluck", "pluck_array", "split", "itoa", "hex_to_ascii",
      "bytes_to_hex", "trim", "strip_prefix", "substring", "tolower",
      "toupper", "replace", "_match_regex_rule", "format_duration",
      "normalize_mysql", "normalize_pgsql", "redact_pii_best_effort",
      "nslookup", "shared_libraries", "grpc_status_code_to_str", "upid_to_string",
      "script_reference", "protocol_name", "http_resp_message",
      "mysql_command_name", "kafka_api_key_name", "dns_rcode_name",
      "cql_opcode_name", "mux_frame_type_name", "amqp_frame_type_name",
      "amqp_class_name", "amqp_method_name", "_exec_hostname",
      "vizier_id", "vizier_name", "vizier_namespace")

    def callBuiltin(name: String, args: Seq[V], kwargs: Seq[(String, V)]): V = {
      val kw = kwargs.toMap
      val res = callBuiltin0(name, args, kw, kwargs)
      res match {
        case VCol(cc) if StringBuiltins(name) => VSCol(cc)
        // px.select with two string-typed branches yields a string
        case VCol(cc) if name == "select" && args.length == 3 &&
            isStringy(args(1)) && isStringy(args(2)) => VSCol(cc)
        case v => v
      }
    }

    def callBuiltin0(name: String, args: Seq[V], kw: Map[String, V],
                     kwargs: Seq[(String, V)]): V = {
      name match {
      case "DataFrame" =>
        val table = kw.get("table").orElse(args.headOption) match {
          case Some(VStr(s)) => s
          case other => throw new PxlError(s"DataFrame(table=?): $other")
        }
        var t = PxTable(env.tables(table))
        kw.get("select").foreach(sel => t = t.keep(asStrings(sel): _*))
        // MemorySource scans [start_time, stop_time]; stop defaults to
        // "now" (plan.proto:156-175) — without the upper bound a -30s
        // window would leak future rows when now is pinned mid-fixture.
        kw.get("start_time").foreach { v =>
          // px.now() - px.minutes(N) arrives as an absolute-ns VInt;
          // only strings go through relative/duration parsing (mirrors
          // the end_time branch below).
          val startNs = v match {
            case VStr(s) => PixieFunctions.parseTimeNs(s, env.nowNs)
            case o => asLongV(o)
          }
          t = t.where(col("time_") >= lit(startNs))
        }
        kw.get("end_time") match {
          case Some(v) =>
            val endNs = v match {
              case VStr(str) => PixieFunctions.parseTimeNs(str, env.nowNs)
              case o => asLongV(o) // absolute ns (px.now())
            }
            t = t.where(col("time_") < lit(endNs))
          case None if kw.contains("start_time") =>
            // Strict bound: with µs-granular oracle views of the ns
            // column, only exclusive bounds at multiples of 1000 compare
            // identically across engines.
            t = t.where(col("time_") < lit(env.nowNs))
          case None =>
        }
        VTab(t)
      case "display" =>
        val df = args.head match {
          case VTab(t) => t.df
          case o => throw new PxlError(s"display: $o")
        }
        val nm = args.lift(1) match { case Some(VStr(s)) => s case _ => "output" }
        results(nm) = df
        VBool(true)
      case "now" => VInt(env.nowNs)
      case "seconds" => VInt(asLongV(args.head) * 1000000000L)
      case "minutes" => VInt(asLongV(args.head) * 60L * 1000000000L)
      case "hours" => VInt(asLongV(args.head) * 3600L * 1000000000L)
      case "days" => VInt(asLongV(args.head) * 86400L * 1000000000L)
      case "millis" | "ms" => VInt(asLongV(args.head) * 1000000L)
      case "micros" | "us" => VInt(asLongV(args.head) * 1000L)
      case "nanos" | "ns" => VInt(asLongV(args.head))
      // semantic-type wrappers (ST_* annotations — value-transparent)
      case "DurationNanos" | "Percent" | "Bytes" | "Pod" | "Service" |
           "Namespace" | "Node" | "UPID" => args.head
      case "bin" =>
        VCol(PixieFunctions.bin(asCol(args.head), asLongV(args(1))))
      case "floor" => VCol(floor(asCol(args.head)))
      case "abs" => VCol(abs(asCol(args.head)))
      case "pluck" =>
        VCol(get_json_object(asCol(args.head),
          "$." + asStrings(args(1)).head))
      case "pluck_int64" =>
        // 0 on every failure mode (json_ops.h PluckAsInt64UDF) — Carnot
        // has no nulls; amqp_average_stats plucks an absent body_size.
        VCol(PixieFunctions.pluckInt64(asCol(args.head),
          asStrings(args(1)).head))
      case "pluck_float64" =>
        VCol(get_json_object(asCol(args.head),
          "$." + asStrings(args(1)).head).cast("double"))
      case "select" =>
        colCombine(Seq(args.head, args(1), args(2))) { case Seq(p, a, b) =>
          when(p, a).otherwise(b) }
      case "parse_duration" => args.head match {
        case VStr(d) => VInt(PixieFunctions.parseDurationNs(d))
        case o => throw new PxlError(s"parse_duration($o)")
      }
      case "parse_time" => args.head match {
        case VStr(t) => VInt(PixieFunctions.parseTimeNs(t, env.nowNs))
        case VInt(ns) => VInt(ns) // already an absolute ns value (px.now())
        case o => throw new PxlError(s"parse_time($o)")
      }
      case "greaterThanEqual" =>
        VCol(asCol(args.head) >= asCol(args(1)))
      case "lessThanEqual" =>
        VCol(asCol(args.head) <= asCol(args(1)))
      case "_exec_hostname" | "_exec_host_num_cpus" | "vizier_id" |
           "vizier_name" | "vizier_namespace" =>
        VCol(graft.meta.MetadataOps.constants(name))
      case "format_duration" =>
        VCol(PixieFunctions.formatDuration(asCol(args.head)))
      case "strptime" => (args.head, args(1)) match {
        case (c, VStr(fmt)) =>
          VCol(PixieFunctions.strptime(asCol(c),
            fmt.replace("%Y", "yyyy").replace("%m", "MM").replace("%d", "dd")
              .replace("%H", "HH").replace("%M", "mm").replace("%S", "ss")))
        case o => throw new PxlError(s"strptime$o")
      }
      case "pluck_array" => (asCol(args.head), args(1)) match {
        case (c, VInt(i)) => VCol(get_json_object(c, s"$$[$i]"))
        case o => throw new PxlError(s"pluck_array$o")
      }
      case "find" => args(1) match {
        case VStr(sub) => VCol(PixieFunctions.find(asCol(args.head), sub))
        case o => throw new PxlError(s"find($o)")
      }
      // string_ops tail (funcs/builtins/string_ops.cc); the 2-arg form
      // substitutes the default where the parse fails (string_ops atoi
      // default-value overload)
      case "atoi" =>
        val parsed = PixieFunctions.atoi(asCol(args.head))
        if (args.length > 1) VCol(coalesce(parsed, asCol(args(1))))
        else VCol(parsed)
      case "itoa" => VCol(PixieFunctions.itoa(asCol(args.head)))
      case "hex_to_ascii" => VCol(PixieFunctions.hexToAscii(asCol(args.head)))
      case "bytes_to_hex" => VCol(PixieFunctions.bytesToHex(asCol(args.head)))
      case "trim" => VCol(trim(asCol(args.head)))
      case "strip_prefix" => args.head match {
        case VStr(p) => VCol(PixieFunctions.stripPrefix(p, asCol(args(1))))
        case o => throw new PxlError(s"strip_prefix($o)")
      }
      // json_ops split: literal delimiter -> JSON array STRING
      case "split" => args(1) match {
        case VStr(d) => VCol(PixieFunctions.splitToJson(asCol(args.head), d))
        case o => throw new PxlError(s"split($o)")
      }
      // math_ops tail
      case "negate" => VCol(-asCol(args.head))
      case "modulo" => VCol(pmod(asCol(args.head), asCol(args(1))))
      case "time_to_int64" | "int64_to_time" =>
        VCol(asCol(args.head).cast("long")) // time IS int64 ns (SURVEY §1.2)
      // regex_ops _match_regex_rule: JSON dict of name->pattern, first
      // full match wins, '' when none (regex_ops.h:120-148)
      case "_match_regex_rule" => args.head match {
        case VStr(rulesJson) =>
          VCol(PixieFunctions.matchRegexRule(asCol(args(1)),
            PixieFunctions.parseJsonStringMap(rulesJson)
              .map { case (k, p) => k -> s"^(?:$p)$$" }, ""))
        case o => throw new PxlError(s"_match_regex_rule($o)")
      }
      // protocol_ops decoder tail
      case "mux_frame_type_name" =>
        VCol(graft.functions.ProtocolOps.muxFrameTypeName.column(asCol(args.head)))
      case "amqp_frame_type_name" =>
        VCol(graft.functions.ProtocolOps.amqpFrameTypeName.column(asCol(args.head)))
      case "amqp_class_name" =>
        VCol(graft.functions.ProtocolOps.amqpClassName.column(asCol(args.head)))
      case "amqp_method_name" =>
        VCol(graft.functions.ProtocolOps.amqpMethodName(
          asCol(args.head), asCol(args(1))))
      // UDTF sources (md_udtfs.cc registry + internal _HeapGrowthStacks)
      case "GetTables" | "GetSchemas" | "GetUDFList" | "GetUDAList" |
           "GetUDTFList" | "GetAgentStatus" | "GetProfilerSamplingPeriodMS" |
           "GetLinuxHeadersStatus" | "GetTracepointStatus" |
           "GetCronScriptHistory" | "_DebugMDState" | "_DebugMDGetWithPrefix" |
           "_DebugTableInfo" | "_HeapGrowthStacks" =>
        VTab(PxTable(env.udtfs(name, args.map {
          case VStr(s) => s
          case VInt(i) => i.toString
          case VBool(b) => b.toString
          case o => throw new PxlError(s"$name arg: $o")
        })))
      // px.debug(df[, name]): like display, under a '_'-prefixed table
      // name (compiler.cc debug sink convention)
      case "debug" =>
        val df = args.head match {
          case VTab(t) => t.df
          case o => throw new PxlError(s"debug: $o")
        }
        val nm = args.lift(1) match { case Some(VStr(s)) => s case _ => "output" }
        results("_" + nm) = df
        VBool(true)
      case "substring" =>
        VCol(asCol(args.head).substr(asCol(args(1)) + 1, asCol(args(2))))
      case "length" => VCol(length(asCol(args.head)))
      case "tolower" => VCol(lower(asCol(args.head)))
      case "toupper" => VCol(upper(asCol(args.head)))
      case "regex_match" => args.head match {
        case VStr(pat) => VCol(asCol(args(1)).rlike(pat))
        case o => throw new PxlError(s"regex_match($o)")
      }
      case "replace" => (args.head, args(2)) match {
        case (VStr(pat), VStr(sub)) =>
          // RE2's Rewrite uses \N group references (regex_ops.cc); Java's
          // replaceAll uses $N — translate so reference scripts' \1 works.
          val javaSub = """\\(\d)""".r.replaceAllIn(sub, m => "\\$" + m.group(1))
          VCol(regexp_replace(asCol(args(1)), pat, javaSub))
        case o => throw new PxlError(s"replace$o")
      }
      // util_ops equality scalar (scripts use it where == would collide
      // with a compile-time string comparison)
      case "equal" =>
        VCol(asCol(args.head) === asCol(args(1)))
      // 1- or 2-arg form: the reference's second (command) arg selects
      // the statement-vs-prepared parse path (sql_ops.h); the literal
      // scanner normalizes both identically, so it is accepted and
      // ignored here.
      case "normalize_mysql" =>
        VCol(graft.functions.SqlNormalize.normalizeMysql(asCol(args.head)))
      case "normalize_pgsql" =>
        VCol(graft.functions.SqlNormalize.normalizePgsql(asCol(args.head)))
      case "redact_pii_best_effort" =>
        VCol(graft.functions.PiiOps.redactPii(asCol(args.head)))
      case "nslookup" =>
        VCol(graft.functions.NetOps.nslookup(asCol(args.head)))
      case "shared_libraries" =>
        VCol(graft.functions.ProcessOps.sharedLibraries(asCol(args.head)))
      case "cidrs_contain_ip" =>
        VCol(graft.functions.NetOps.cidrsContainIp(asCol(args.head), asCol(args(1))))
      // get_cidrs (metadata_ops.cc): the cluster pod/service CIDR set as
      // a constant JSON-array string (the reference UDF's string-out
      // contract — cidrs_contain_ip parses it back).
      case "get_cidrs" =>
        VCol(lit(graft.meta.K8sMetadata.getCidrs
          .mkString("[\"", "\",\"", "\"]")))
      case "grpc_status_code_to_str" =>
        VCol(PixieFunctions.grpcStatusCodeToStr(asCol(args.head)))
      case "uint128" => VCol(graft.types.Upid.uint128(asCol(args.head)))
      case "upid_to_asid" => VCol(graft.types.Upid.upidToAsid(asCol(args.head)))
      case "upid_to_pid" => VCol(graft.types.Upid.upidToPid(asCol(args.head)))
      case "upid_to_start_ts" =>
        VCol(graft.types.Upid.upidToStartTs(asCol(args.head)))
      case "upid_to_string" =>
        VCol(graft.types.Upid.upidToString(asCol(args.head)))
      case "contains" =>
        VCol(asCol(args.head).contains(asCol(args(1))))
      case "script_reference" =>
        val pairs = args(2) match {
          case VDict(entries) => entries.map {
            case (VStr(k), v) => k -> asCol(v)
            case (k, _) => throw new PxlError(s"script_reference key $k")
          }
          case other => throw new PxlError(s"script_reference args: $other")
        }
        VCol(PixieFunctions.scriptReference(
          asCol(args.head), asCol(args(1)), pairs: _*))
      // has_service_name / has_service_id (metadata_ops.h:3081-3121):
      // equality, or membership when the value is a JSON string array.
      // Works on plain columns and directly on ctx properties
      // (`px.has_service_name(df.ctx['service'], svc)`).
      // request_path_ops scalars (service_endpoint(s).pxl): predict an
      // endpoint template from the fitted clustering; match a path
      // against a '*'-wildcarded template.
      case "_predict_request_path_cluster" =>
        colCombine(Seq(args.head, args(1))) { case Seq(p, m) =>
          graft.ops.RequestPathClustering.predictUdf(p, m) }
      case "_match_endpoint" =>
        colCombine(Seq(args.head, args(1))) { case Seq(p, ep) =>
          graft.ops.RequestPathClustering.matchUdf(p, ep) }
      case "has_service_name" | "has_service_id" =>
        colCombine(Seq(args.head, args(1))) { case Seq(a, b) =>
          PixieFunctions.equalsOrArrayContains(a, b) }
      case mfn if env.metaFns(mfn) => VMetaCall(mfn, args.head)
      // protocol_ops decoders (funcs/protocols/protocol_ops.cc)
      case "protocol_name" =>
        VCol(graft.functions.ProtocolOps.protocolName.column(asCol(args.head)))
      case "http_resp_message" =>
        VCol(graft.functions.ProtocolOps.httpRespMessage.column(asCol(args.head)))
      case "mysql_command_name" =>
        VCol(graft.functions.ProtocolOps.mysqlCommandName.column(asCol(args.head)))
      case "kafka_api_key_name" =>
        VCol(graft.functions.ProtocolOps.kafkaApiKeyName.column(asCol(args.head)))
      case "dns_rcode_name" =>
        VCol(graft.functions.ProtocolOps.dnsRcodeName.column(asCol(args.head)))
      case "cql_opcode_name" =>
        VCol(graft.functions.ProtocolOps.cqlOpcodeName.column(asCol(args.head)))
      case "equals_any" =>
        VCol(asCol(args.head).isin(args(1).asInstanceOf[VList].xs.map {
          case VStr(s) => s: Any
          case VInt(i) => i: Any
          case o => throw new PxlError(s"equals_any: $o")
        }: _*))
      case "upid_to_service_name" | "upid_to_pod_name" => // common ctx aliases
        throw new PxlError(s"px.$name: use df.ctx[...] (resolved via the dimension join)")
      case other => throw new PxlError(s"unknown builtin px.$other")
    } }

    def callMethod(recv: V, name: String, args: Seq[V],
                   kwargs: Seq[(String, V)]): V = { val kw = kwargs.toMap
      (recv, name) match {
      case (VTab(t), "groupby") =>
        VGrouped(t, asStrings(args.head))
      // df.agg(...) without groupby: global one-row aggregate
      // (dataframe.h:230-248 with empty groups — net_flow_graph's
      // time_window, kafka_overview's get_time_window).
      case (VTab(t), "agg") =>
        val aggs = kwargs.map {
          case (out, VList(Seq(VStr(colName), VBuiltin(fn)))) =>
            out -> aggExpr(fn, colName, t.df.schema).as(out)
          case (out, other) => throw new PxlError(s"agg $out=$other")
        }
        if (aggs.isEmpty) throw new PxlError("global agg with no aggregates")
        VTab(PxTable(t.df.groupBy().agg(aggs.head._2, aggs.tail.map(_._2): _*)))
      case (VGrouped(t, keys), "agg") =>
        val aggs = kwargs.map {
          case (out, VList(Seq(VStr(colName), VBuiltin(fn)))) =>
            out -> aggExpr(fn, colName, t.df.schema)
          case (out, other) => throw new PxlError(s"agg $out=$other")
        }
        if (aggs.isEmpty) VTab(t.distinctGroups(keys: _*))
        else VTab(t.groupbyAgg(keys, aggs: _*))
      case (VTab(t), "merge") =>
        val right = args.head match {
          case VTab(r) => r
          case o => throw new PxlError(s"merge: $o")
        }
        val how = kw.get("how") match {
          case Some(VStr(s)) => s case _ => "inner"
        }
        val leftOn = asStrings(kw("left_on"))
        val rightOn = asStrings(kw("right_on"))
        val sfx = kw.get("suffixes") match {
          case Some(VList(Seq(VStr(a), VStr(b)))) => (a, b)
          case _ => ("_x", "_y")
        }
        val merged = t.merge(right, how, leftOn, rightOn, sfx)
        // Carnot's join emits BOTH key columns suffixed and fills misses
        // with '' (dataframe.h merge + default-value columns); scripts
        // then coalesce manually (`px.select(df.k != '', df.k, df.k_x)`,
        // e.g. pxviews connection_throughput_stats) or read `df.k_x`
        // directly after an inner join (collect_agent_heaps). Our merge
        // collapses same-named keys pandas-style, so alias the resolved
        // key under the suffixed names — and when NEITHER suffix is
        // empty, drop the bare collapsed key afterwards: Carnot's output
        // has only k_x/k_y then (net_flow_graph relies on exactly that,
        // dropping both suffixed join_keys to end with no key column).
        val out = leftOn.zip(rightOn).filter { case (a, b) => a == b }
          .foldLeft(merged) { case (acc, (k, _)) =>
            val aliased = Seq(k + sfx._1, k + sfx._2).foldLeft(acc) { (a, sk) =>
              if (a.df.columns.contains(sk)) a else a.withCol(sk, c(k))
            }
            if (sfx._1.nonEmpty && sfx._2.nonEmpty) aliased.dropCols(k)
            else aliased
          }
        VTab(out)
      case (VTab(t), "head") =>
        // positional or keyword form: df.head(100) / df.head(n=100)
        VTab(t.head(args.headOption.orElse(kw.get("n"))
          .map(asLongV).getOrElse(5L).toInt))
      case (VTab(t), "drop") =>
        // both df.drop(['a']) and df.drop(columns=['a']) (dataframe.py
        // accepts the pandas-style keyword form)
        VTab(t.dropCols(asStrings(
          args.headOption.orElse(kw.get("columns")).getOrElse(
            throw new PxlError("drop: no columns"))): _*))
      case (VTab(t), "append") =>
        VTab(t.append(args.map { case VTab(o) => o
          case o => throw new PxlError(s"append: $o") }: _*))
      case other => throw new PxlError(s"unknown method $name on $other")
    } }

    def eval(e: Expr): V = e match {
      case Str(s) => VStr(s)
      case IntLit(v) => VInt(v)
      case FloatLit(v) => VFloat(v)
      case BoolLit(v) => VBool(v)
      case ListE(xs) => VList(xs.map(eval))
      case DictE(entries) =>
        VDict(entries.map { case (k, v) => eval(k) -> eval(v) })
      case NameE("px") => VBuiltin("__module__")
      case NameE(n) =>
        lookupVar(n).getOrElse(throw new PxlError(s"undefined variable $n"))
      case AttrE(base, name) => eval(base) match {
        case VBuiltin("__module__") => VBuiltin(name)
        case VModule(scope) =>
          scope.getOrElse(name, throw new PxlError(s"module has no member $name"))
        case v @ VTab(t) =>
          if (TableMethods(name)) VMethod(v, name)
          else if (name == "ctx") VCtxObj(t)
          else readCol(t, name)
        case v @ VGrouped(_, _) => VMethod(v, name)
        case other => throw new PxlError(s"attribute $name on $other")
      }
      case SubE(base, idx) => eval(base) match {
        case VCtxObj(_) => eval(idx) match {
          case VStr(p) => VCtx(p)
          case o => throw new PxlError(s"ctx[$o]")
        }
        case VTab(t) => eval(idx) match {
          case VList(xs) => VTab(t.keep(xs.map {
            case VStr(s) => s
            case o => throw new PxlError(s"projection: $o") }: _*))
          case VCol(cond) => VTab(t.where(cond))
          // deferred predicate (ctx/metadata joins inside the filter):
          // materialize into temp columns, filter, drop them
          case d: VDeferred =>
            val (wide, cond, tmps) = materializeDeferred(t, d)
            VTab(wide.where(cond).dropCols(tmps: _*))
          case VStr(s) => readCol(t, s)
          case o => throw new PxlError(s"df[$o]")
        }
        case other => throw new PxlError(s"subscript on $other")
      }
      case CallE(fn, args, kwargs) =>
        val a = args.map(eval)
        val k = kwargs.map { case (n, ex) => n -> eval(ex) }
        eval(fn) match {
          case VBuiltin(name) => callBuiltin(name, a, k)
          case VMethod(recv, name) => callMethod(recv, name, a, k)
          case VFunc(params, ptypes, body, closure) =>
            callUserFunction(params, ptypes, body, closure, a, k)
          case other => throw new PxlError(s"not callable: $other")
        }
      case BinE(op, l, r) => binop(op, eval(l), eval(r))
      case UnaryE("-", x) => eval(x) match {
        case VInt(v) => VInt(-v)
        case VFloat(v) => VFloat(-v)
        case VCol(cc) => VCol(-cc)
        case o => throw new PxlError(s"unary - on $o")
      }
      case UnaryE("not", x) => eval(x) match {
        case VBool(v) => VBool(!v)
        case VCol(cc) => VCol(!cc)
        case o => throw new PxlError(s"not on $o")
      }
      case UnaryE(op, _) => throw new PxlError(s"unary $op")
    }

    /** Execute a user function body in a fresh scope over the module
      * scope; `return` unwinds via ReturnSignal. String args are coerced
      * by the param's declared annotation (int/float) — exec_funcs args
      * arrive as strings and the reference coerces by declared type
      * (compiler.cc ProcessExecFuncs).
      */
    def callUserFunction(params: Seq[String], paramTypes: Seq[Option[String]],
                         body: Seq[PxlParser.Stmt],
                         closure: mutable.Map[String, V],
                         args: Seq[V], kwargs: Seq[(String, V)]): V = {
      val declared: Map[String, String] =
        params.zip(paramTypes).collect { case (p, Some(t)) => p -> t }.toMap
      // Fork detection for table-valued PARAMS (same MergeNodesRule
      // analog as module-level assigns, see execStmts): a param read by
      // 2+ statements in the body before being rebound is a fork —
      // json_unnest_first5's 5-way append, nested twice in
      // unnest_topics_and_partitions, otherwise duplicates the caller's
      // whole subplan 25x, and every later withColumn re-analyzes all 25
      // copies (kafka_overview producers: ~20 s of pure Catalyst
      // analysis at ANY data size). Truncate at entry; skip leaves (a
      // raw scan is never materialized wholesale, and an already-
      // checkpointed frame isn't re-copied).
      def forkParam(v: V, pn: String): V = v match {
        case VTab(t) if forkCount(pn, body) >= 2 &&
            t.df.queryExecution.logical.children.nonEmpty =>
          VTab(graft.operators.PxTable(t.df.localCheckpoint(false)))
        case other => other
      }
      def coerce(pn: String, v: V): V = (declared.get(pn), v) match {
        case (Some("int"), VStr(s)) if s.matches("-?[0-9]+") => VInt(s.toLong)
        case (Some("float"), VStr(s))
            if s.matches("-?[0-9]+(\\.[0-9]+)?([eE][+-]?[0-9]+)?") =>
          VFloat(s.toDouble)
        case (Some("bool"), VStr(s)) if s == "true" || s == "True" =>
          VBool(true)
        case (Some("bool"), VStr(s)) if s == "false" || s == "False" =>
          VBool(false)
        // The reference FAILS exec-arg parsing on a malformed numeric
        // (compiler.cc ProcessExecFuncs) — surface the error at the call
        // site instead of a confusing binop failure downstream.
        case (Some("int" | "float" | "bool"), VStr(s)) =>
          throw new PxlError(
            s"arg $pn: '$s' is not a valid ${declared(pn)}")
        case _ => v
      }
      val local = mutable.LinkedHashMap[String, V]()
      params.zip(args).foreach { case (pn, v) =>
        local(pn) = forkParam(coerce(pn, v), pn) }
      kwargs.foreach { case (k, v) =>
        if (!params.contains(k)) throw new PxlError(s"unknown kwarg $k")
        local(k) = forkParam(coerce(k, v), k)
      }
      val missing = params.filterNot(local.contains)
      if (missing.nonEmpty) throw new PxlError(s"missing args: $missing")
      val saved = scopes
      scopes = local :: List(closure)
      try { execStmts(body); VBool(true) }
      catch { case r: ReturnSignal => r.value }
      finally { scopes = saved }
    }

    /** Attach `outName` by expanding (possibly nested) metadata calls
      * into their joins, innermost first.
      */
    def materializeMeta(t: PxTable, fn: String, arg: V, outName: String): PxTable =
      arg match {
        case VSCol(c) =>
          PxTable(env.meta(t.withCol("__meta_in", c).df, fn, "__meta_in", outName))
            .dropCols("__meta_in")
        case VCol(c) =>
          PxTable(env.meta(t.withCol("__meta_in", c).df, fn, "__meta_in", outName))
            .dropCols("__meta_in")
        // literal argument (ip.pxl's ip_info resolves a plain exec-arg
        // string: px.ip_to_pod_id(ip)) — lift to a constant column
        case VStr(_) | VInt(_) | VFloat(_) | VBool(_) =>
          PxTable(env.meta(t.withCol("__meta_in", asCol(arg)).df, fn,
            "__meta_in", outName)).dropCols("__meta_in")
        case VMetaCall(innerFn, innerArg) =>
          val mid = materializeMeta(t, innerFn, innerArg, "__meta_mid")
          PxTable(env.meta(mid.df, fn, "__meta_mid", outName)).dropCols("__meta_mid")
        case other => throw new PxlError(s"metadata fn $fn on $other")
      }

    /** Materialize a deferred expression's pending joins as temp columns
      * on `t`: returns the widened table, the built column, and the temp
      * names for the caller to drop.
      */
    def materializeDeferred(t: PxTable, d: VDeferred)
        : (PxTable, Column, Seq[String]) = {
      var cur = t
      val cols = d.pends.zipWithIndex.map { case (p, i) =>
        val tmp = s"__defer_$i"
        p match {
          case PendCtx(prop) => cur = PxTable(env.ctx(cur.df, prop, tmp))
          case PendMeta(fn, arg) => cur = materializeMeta(cur, fn, arg, tmp)
        }
        c(tmp)
      }
      (cur, d.build(cols), d.pends.indices.map(i => s"__defer_$i"))
    }

    /** Column assignment (t.x = e / t['x'] = e) rebinds the table var in
      * the scope where it lives — the ast_visitor's subscript/attribute-
      * assign semantics.
      */
    def assignColumn(varName: String, colName: String, value: V): Unit = {
      val scope = scopes.find(_.contains(varName)).getOrElse(
        throw new PxlError(s"undefined variable $varName"))
      val t0 = scope(varName) match {
        case VTab(x) => x
        case other => throw new PxlError(s"column assign on $other")
      }
      // Reassigning an existing column through a ctx/metadata JOIN must
      // overwrite, like the ast_visitor's column assign (plain withCol
      // overwrites natively; the join paths would append a duplicate).
      def dropped(v: V): PxTable = v match {
        case VCol(_) | VSCol(_) | VInt(_) | VFloat(_) | VStr(_) | VBool(_) => t0
        case _ if !t0.df.columns.contains(colName) => t0
        case _ => t0.dropCols(colName)
      }
      val updated = value match {
        case VCtx(prop) => PxTable(env.ctx(dropped(value).df, prop, colName))
        case d: VDeferred =>
          val (wide, cc, tmps) = materializeDeferred(dropped(value), d)
          wide.withCol(colName, cc).dropCols(tmps: _*)
        case VMetaCall(fn, arg) => materializeMeta(dropped(value), fn, arg, colName)
        case v => t0.withCol(colName, asCol(v))
      }
      scope(varName) = VTab(updated)
    }

    // ---- shared-subplan materialization (MergeNodesRule analog) ------
    // Carnot's planner merges identical operator subtrees so a forked
    // dataframe executes once (merge_nodes_rule.h; its executor also
    // materializes every operator's output batches). Spark recomputes
    // forked lineage by default, which turns an N-way script fork into N
    // full rescans (kafka_overview's producer_df feeds 3 aggregates =
    // ~30 rescans of the unnest chain). When a table variable is READ by
    // 2+ later statements before being rebound, localCheckpoint it
    // eagerly: the fork computes ONCE (Carnot materializes every
    // operator's output) into executor-local MEMORY_AND_DISK blocks
    // (spills, never OOMs) and the lineage is TRUNCATED, so every
    // consuming branch plans against a leaf — an N-branch fan-in carries
    // N small plans, not N copies of the fork's whole subtree. Unlike
    // Dataset.persist there is no CacheManager entry to release: the
    // blocks are dropped by the ContextCleaner as soon as the script's
    // result frames become unreachable, so repeated runs in a long-lived
    // session cannot accumulate pinned storage (PxlSpec pins the
    // empty-cache contract). Linear `df.x = ...` / `df = df[...]` chains
    // rebind immediately and are never checkpointed, so a raw scan is
    // never materialized wholesale.
    def readsOf(e: Expr, n: String): Int = e match {
      case NameE(`n`) => 1
      case NameE(_) | Str(_) | IntLit(_) | FloatLit(_) | BoolLit(_) => 0
      case AttrE(b, _) => readsOf(b, n)
      case SubE(b, ix) => readsOf(b, n) + readsOf(ix, n)
      case CallE(f, a, k) => readsOf(f, n) + a.map(readsOf(_, n)).sum +
        k.map(kv => readsOf(kv._2, n)).sum
      case ListE(xs) => xs.map(readsOf(_, n)).sum
      case DictE(es) => es.map { case (a, b) => readsOf(a, n) + readsOf(b, n) }.sum
      case BinE(_, l, r) => readsOf(l, n) + readsOf(r, n)
      case UnaryE(_, x) => readsOf(x, n)
    }
    def forkCount(n: String, rest: Seq[PxlParser.Stmt]): Int = {
      var count = 0
      rest.foreach {
        // any rebinding of n ends the sharing window (a self-referencing
        // rebind is a linear chain, not a fork)
        case Assign(NameE(`n`), _) => return count
        case Assign(AttrE(NameE(`n`), _), _) => return count
        case Assign(SubE(NameE(`n`), _), _) => return count
        case Assign(_, rhs) => count += readsOf(rhs, n)
        case ExprStmt(e) => count += readsOf(e, n)
        case ReturnS(e) => count += readsOf(e, n)
        case _ =>
      }
      count
    }

    def execStmts(body: Seq[PxlParser.Stmt]): Unit =
      body.zipWithIndex.foreach { case (stmt, i) => stmt match {
      case ImportS("px") => // the px module is ambient
      case ImportS(m) if env.modules.contains(m) =>
        // execute the module's defs into its own scope (its functions
        // close over that scope, not the importer's)
        val modScope = mutable.LinkedHashMap[String, V]()
        val saved = scopes
        scopes = List(modScope)
        try execStmts(PxlParser.parse(env.modules(m)()))
        finally scopes = saved
        moduleScope(m) = VModule(modScope)
      case ImportS(m) => throw new PxlError(s"unknown module $m")
      case DefS(name, params, ptypes, fnBody) =>
        vars(name) = VFunc(params, ptypes, fnBody, scopes.head)
      case ReturnS(e) => throw new ReturnSignal(eval(e))
      // `px.Node = str`-style module type aliases (jvm_stats et al.)
      // configure the exec-arg parser in the reference; arguments reach
      // us pre-coerced, so the alias is a no-op.
      case Assign(AttrE(NameE("px"), _), _) =>
      case Assign(NameE(n), rhs) =>
        vars(n) = eval(rhs) match {
          case VTab(t) if forkCount(n, body.drop(i + 1)) >= 2 =>
            // eager=false: the plan is truncated immediately (the Dataset
            // wraps the physical RDD), but the blocks materialize inside
            // the caller's FIRST action — branches share the partition-
            // level cache without paying one blocking job per fork, and a
            // fork feeding only un-consumed outputs costs nothing.
            VTab(PxTable(t.df.localCheckpoint(false)))
          case v => v
        }
      case Assign(AttrE(NameE(n), attr), rhs) => assignColumn(n, attr, eval(rhs))
      case Assign(SubE(NameE(n), Str(colName)), rhs) =>
        assignColumn(n, colName, eval(rhs))
      case Assign(SubE(NameE(n), idx), rhs) =>
        eval(idx) match {
          case VStr(colName) => assignColumn(n, colName, eval(rhs))
          case other => throw new PxlError(s"subscript assign with $other")
        }
      case Assign(tgt, _) => throw new PxlError(s"unsupported assign target $tgt")
      case ExprStmt(e) => eval(e)
    } }

    execStmts(stmts)
    val fnResult = call.map { case (fn, args) =>
      moduleScope.get(fn) match {
        case Some(VFunc(params, ptypes, body, closure)) =>
          callUserFunction(params, ptypes, body, closure, args.map(VStr(_)), Nil) match {
            case VTab(t) => t.df
            case other => throw new PxlError(s"$fn returned $other")
          }
        case _ => throw new PxlError(s"no function $fn in script")
      }
    }
    (results.toMap, fnResult)
  }
}
