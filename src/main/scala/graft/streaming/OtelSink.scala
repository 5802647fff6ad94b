package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}

/** OTelExportSink analog (SURVEY §2.1 #13; reference
  * exec/otel_export_sink_node.cc + plan.proto:363-549): map each result
  * row to an OpenTelemetry signal via declarative column bindings and
  * hand batches to a transport. In Spark this is a foreachBatch sink —
  * each micro-batch is mapped row->signal and exported; exactly-once per
  * batch id is the streaming contract.
  *
  * The wire transport (OTLP/HTTP protobuf POST) is intentionally behind
  * the [[Transport]] trait — no network egress in this environment — with
  * an in-memory transport for tests.
  */
object OtelSink {

  /** Column bindings for a Gauge metric (plan.proto OTelMetricGauge). */
  case class GaugeSpec(name: String, valueCol: String, timeNsCol: String,
                       attributeCols: Seq[String])

  case class MetricRecord(name: String, timeNs: Long, value: Double,
                          attributes: Map[String, String])

  trait Transport extends Serializable {
    def send(batch: Seq[MetricRecord]): Unit
  }

  /** Span-capable transports ([[OtlpHttpTransport]] over the wire,
    * [[OtlpWireCapture]] capturing the identical bytes). */
  trait SpanTransport extends Serializable {
    def sendSpans(batch: Seq[SpanRecord]): Unit
  }

  trait SummaryTransport extends Serializable {
    def sendSummaries(batch: Seq[SummaryRecord]): Unit
  }

  trait LogTransport extends Serializable {
    def sendLogs(batch: Seq[LogRecord]): Unit
  }

  /** Test/collector transport. The instance is serialized into executor
    * tasks, so the accumulation buffer lives in a JVM-static store keyed
    * by transport id (valid in local/test mode; a production OTLP
    * transport is stateless per partition and needs no store).
    */
  object InMemoryTransport {
    private[OtelSink] val store = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.ConcurrentLinkedQueue[MetricRecord]]()
  }
  class InMemoryTransport extends Transport {
    private val id = java.util.UUID.randomUUID().toString
    def sent: java.util.concurrent.ConcurrentLinkedQueue[MetricRecord] =
      InMemoryTransport.store.computeIfAbsent(id,
        _ => new java.util.concurrent.ConcurrentLinkedQueue[MetricRecord]())
    def send(batch: Seq[MetricRecord]): Unit = batch.foreach(sent.add)
    /** Drop this instance's JVM-static queue (call from test teardown —
      * otherwise every transport leaks its buffer for the JVM lifetime).
      */
    def close(): Unit = InMemoryTransport.store.remove(id)
  }

  def rowToGauge(spec: GaugeSpec)(r: Row): MetricRecord = MetricRecord(
    spec.name,
    r.getAs[Long](spec.timeNsCol),
    r.getAs[Double](spec.valueCol),
    spec.attributeCols.map(c => c -> String.valueOf(r.getAs[Any](c))).toMap)

  /** Batch export: rows map to signals and ship FROM THE EXECUTORS
    * (foreachPartition), like the reference's per-node export
    * (exec/otel_export_sink_node.cc) — the driver only aggregates the
    * exported-row count. No result collect: at 100 TB the export path
    * must scale with partitions, not driver memory.
    */
  def exportGauges(df: DataFrame, spec: GaugeSpec, transport: Transport): Long = {
    val acc = df.sparkSession.sparkContext.longAccumulator("otel_gauges_exported")
    df.foreachPartition { it: Iterator[Row] =>
      val batch = it.map(rowToGauge(spec)).toSeq
      if (batch.nonEmpty) transport.send(batch)
      acc.add(batch.size)
    }
    acc.value
  }

  // ---- Summary / Span / Log signals (plan.proto OTelMetricSummary
  //      :430-460, OTelSpan :470-520, OTelLog :380-420) ----------------

  /** Summary: quantile-valued metric; quantileCols maps q -> column. */
  case class SummarySpec(name: String, timeNsCol: String, countCol: String,
                         quantileCols: Map[Double, String],
                         attributeCols: Seq[String])

  case class SummaryRecord(name: String, timeNs: Long, count: Long,
                           quantiles: Map[Double, Double],
                           attributes: Map[String, String])

  /** Span: trace/span ids are generated from the row when not bound —
    * the reference generates ids when columns are absent
    * (otel_export_sink_node.cc span id handling).
    */
  case class SpanSpec(nameCol: String, startNsCol: String, endNsCol: String,
                      traceIdCol: Option[String], spanIdCol: Option[String],
                      attributeCols: Seq[String])

  case class SpanRecord(name: String, startNs: Long, endNs: Long,
                        traceId: String, spanId: String,
                        attributes: Map[String, String])

  case class LogSpec(timeNsCol: String, severityCol: String, bodyCol: String,
                     attributeCols: Seq[String])

  case class LogRecord(timeNs: Long, severity: String, body: String,
                       attributes: Map[String, String])

  private def attrs(cols: Seq[String], r: Row): Map[String, String] =
    cols.map(c => c -> String.valueOf(r.getAs[Any](c))).toMap

  def rowToSummary(spec: SummarySpec)(r: Row): SummaryRecord = SummaryRecord(
    spec.name, r.getAs[Long](spec.timeNsCol), r.getAs[Long](spec.countCol),
    spec.quantileCols.map { case (q, c) => q -> r.getAs[Double](c) },
    attrs(spec.attributeCols, r))

  def rowToSpan(spec: SpanSpec)(r: Row): SpanRecord = {
    def gen(bits: Int): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(r.mkString("|").getBytes("UTF-8"))
      h.take(bits / 8).map("%02x".format(_)).mkString
    }
    SpanRecord(
      r.getAs[String](spec.nameCol),
      r.getAs[Long](spec.startNsCol), r.getAs[Long](spec.endNsCol),
      spec.traceIdCol.map(r.getAs[String]).getOrElse(gen(128)),
      spec.spanIdCol.map(r.getAs[String]).getOrElse(gen(64)),
      attrs(spec.attributeCols, r))
  }

  def rowToLog(spec: LogSpec)(r: Row): LogRecord = LogRecord(
    r.getAs[Long](spec.timeNsCol), r.getAs[String](spec.severityCol),
    r.getAs[String](spec.bodyCol), attrs(spec.attributeCols, r))

  /** Executor-side span export over the wire transport — same
    * per-partition shape as [[exportGauges]] (each partition POSTs its
    * own OTLP batch; the driver aggregates only the count).
    */
  def exportSpans(df: DataFrame, spec: SpanSpec, transport: SpanTransport): Long = {
    val acc = df.sparkSession.sparkContext.longAccumulator("otel_spans_exported")
    df.foreachPartition { it: Iterator[Row] =>
      val batch = it.map(rowToSpan(spec)).toSeq
      if (batch.nonEmpty) transport.sendSpans(batch)
      acc.add(batch.size)
    }
    acc.value
  }

  /** Executor-side summary export — the [[exportGauges]] shape for the
    * Summary signal (plan.proto OTelMetricSummary :430-460).
    */
  def exportSummaries(df: DataFrame, spec: SummarySpec,
                      transport: SummaryTransport): Long = {
    val acc = df.sparkSession.sparkContext
      .longAccumulator("otel_summaries_exported")
    df.foreachPartition { it: Iterator[Row] =>
      val batch = it.map(rowToSummary(spec)).toSeq
      if (batch.nonEmpty) transport.sendSummaries(batch)
      acc.add(batch.size)
    }
    acc.value
  }

  /** Executor-side log export (plan.proto OTelLog :380-420). */
  def exportLogs(df: DataFrame, spec: LogSpec,
                 transport: LogTransport): Long = {
    val acc = df.sparkSession.sparkContext
      .longAccumulator("otel_logs_exported")
    df.foreachPartition { it: Iterator[Row] =>
      val batch = it.map(rowToLog(spec)).toSeq
      if (batch.nonEmpty) transport.sendLogs(batch)
      acc.add(batch.size)
    }
    acc.value
  }

  /** Generic collector for any signal type mapped by `f` — same
    * executor-side export shape as [[exportGauges]] (JVM-static buffer
    * for local/test mode).
    */
  object SignalCollector {
    private[OtelSink] val store = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.ConcurrentLinkedQueue[Any]]()
  }
  class SignalCollector[T] extends Serializable {
    private val id = java.util.UUID.randomUUID().toString
    def sent: java.util.concurrent.ConcurrentLinkedQueue[T] =
      SignalCollector.store.computeIfAbsent(id,
        _ => new java.util.concurrent.ConcurrentLinkedQueue[Any]())
        .asInstanceOf[java.util.concurrent.ConcurrentLinkedQueue[T]]
    def export(df: DataFrame, f: Row => T): Long = {
      val acc = df.sparkSession.sparkContext.longAccumulator("otel_signals_exported")
      df.foreachPartition { it: Iterator[Row] =>
        var n = 0L
        it.foreach { r => sent.add(f(r)); n += 1 }
        acc.add(n)
      }
      acc.value
    }
    /** Drop this instance's JVM-static queue (test teardown). */
    def close(): Unit = SignalCollector.store.remove(id)
  }
}
