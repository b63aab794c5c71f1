package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** TTN MQTT envelope import — SURVEY §2.3 D1 (reference:
  * lib/MyMQTTclient.py:312-418 RecordImport): one text line per telegram
  * (`topic JSON`), V2 (`payload_raw`) and V3
  * (`uplink_message.frm_payload`) auto-detected, gateways extracted with
  * best-gateway selection (D5, MyDatacollector.py:1466-1553: score
  * `10·snr + 0.2·rssi`, argmax).
  *
  * Everything is `from_json` + struct navigation — no UDF; the schema is
  * permissive (missing branches null out) so one parse covers both
  * envelope versions, exactly like the reference's single import path.
  */
object TtnEnvelope {

  val gatewaySchema: StructType = StructType(Seq(
    StructField("gtw_id", StringType), StructField("rssi", DoubleType),
    StructField("snr", DoubleType), StructField("latitude", DoubleType),
    StructField("longitude", DoubleType), StructField("altitude", DoubleType)))

  val envelopeSchema: StructType = StructType(Seq(
    // V2
    StructField("app_id", StringType),
    StructField("dev_id", StringType),
    StructField("port", IntegerType),
    StructField("counter", LongType),
    StructField("payload_raw", StringType),
    StructField("metadata", StructType(Seq(
      StructField("time", StringType),
      StructField("gateways", ArrayType(gatewaySchema)),
      StructField("latitude", DoubleType),
      StructField("longitude", DoubleType)))),
    // V3
    StructField("end_device_ids", StructType(Seq(
      StructField("device_id", StringType),
      StructField("application_ids", StructType(Seq(
        StructField("application_id", StringType))))))),
    StructField("received_at", StringType),
    StructField("uplink_message", StructType(Seq(
      StructField("f_port", IntegerType),
      StructField("f_cnt", LongType),
      StructField("frm_payload", StringType),
      StructField("rx_metadata", ArrayType(StructType(Seq(
        StructField("gateway_ids", StructType(Seq(
          StructField("gateway_id", StringType)))),
        StructField("rssi", DoubleType),
        StructField("snr", DoubleType))))))))))

  /** Gateway score (MyDatacollector.py:1467-1470 GTWstrength). */
  def gatewayScore(snr: Column, rssi: Column): Column =
    snr * 10.0 + rssi * 0.2

  /** Normalized gateway frame element type ([[parse]]'s `gateways`). */
  private val gwFrameType =
    "array<struct<gtw_id:string,rssi:double,snr:double>>"

  /** Parse raw `topic JSON` lines into a normalized envelope frame:
    * (app_id, dev_id, port, counter, payload bytes, event ISO time,
    * gateways[], best_gateway, best_score). Works on a batch or
    * streaming text DataFrame alike.
    *
    * The envelope decode is [[graft.plans.TtnEnvelopeParse]] — a native
    * single-pass byte-level parser ([[TtnFastJson]]) replacing
    * `from_json(envelopeSchema)` + coalesce/arrays_zip navigation: the
    * r9 q76 sf1 stage breakdown priced the Jackson stage at ~9.6 s over
    * 10 M envelopes EVEN with the parse schema pruned to one field
    * (generic tokenization dominates, not schema width); the native scan
    * extracts only the consumed subfields and runs inside whole-stage
    * codegen as one static call. The old composition is kept as
    * [[parseJackson]] and differential-fuzzed against the native path in
    * TtnFastJsonSpec. Best-gateway argmax stays the codegen'd
    * [[graft.plans.BestGateway]] loop. */
  def parse(lines: DataFrame, lineCol: Column): DataFrame = {
    graft.plans.GraftExtensions.register(lines.sparkSession)
    val topic = substring_index(lineCol, " ", 1)
    val json = lineCol.substr(length(topic) + 2, length(lineCol))
    lines.select(
      topic.as("topic"),
      call_function("ttn_parse", json).as("e"))
      .select(
        col("topic"), col("e.app_id").as("app_id"),
        col("e.dev_id").as("dev_id"), col("e.port").as("port"),
        col("e.counter").as("counter"),
        unbase64(col("e.payload_b64")).as("payload"),
        col("e.event_time").as("event_time"),
        col("e.gateways").as("gateways"))
      // D5 best gateway: max (score, id) struct — deterministic argmax,
      // one codegen'd loop (see scaladoc above).
      .withColumn("best", call_function("best_gateway", col("gateways")))
      .withColumn("best_gateway", col("best.gtw_id"))
      .withColumn("best_score", round(col("best.score"), 2))
      .drop("best")
  }

  /** The fused q76 hot path (r12, VERDICT r11 item 2): like [[parse]]
    * but the gateway array is reduced INSIDE the parse —
    * `ttn_parse_best` streams the element count and the D5 argmax per
    * element, so the per-row `array<struct>` never materializes.
    * Output frame: (topic, app_id, dev_id, port, counter, payload,
    * event_time, n_gateways, best_gateway, best_score) — exactly
    * `parse(...)` + `size(gateways)` + `best_gateway(gateways)` except
    * that `n_gateways` is null (not -1) for a null array; parity
    * differential-fuzzed in TtnFastJsonSpec. */
  def parseBest(lines: DataFrame, lineCol: Column): DataFrame = {
    graft.plans.GraftExtensions.register(lines.sparkSession)
    val topic = substring_index(lineCol, " ", 1)
    val json = lineCol.substr(length(topic) + 2, length(lineCol))
    lines.select(
      topic.as("topic"),
      call_function("ttn_parse_best", json).as("e"))
      .select(
        col("topic"), col("e.app_id").as("app_id"),
        col("e.dev_id").as("dev_id"), col("e.port").as("port"),
        col("e.counter").as("counter"),
        unbase64(col("e.payload_b64")).as("payload"),
        col("e.event_time").as("event_time"),
        col("e.n_gateways").as("n_gateways"),
        col("e.best_gtw_id").as("best_gateway"),
        round(col("e.best_score"), 2).as("best_score"))
  }

  /** The original `from_json` + struct-navigation composition — the
    * reference semantics the native [[TtnFastJson]] parser must match;
    * kept as the differential-fuzz oracle (TtnFastJsonSpec) and as the
    * fallback a deployment could pin if it ever hit an envelope shape
    * outside the fuzzed agreement domain. */
  def parseJackson(lines: DataFrame, lineCol: Column): DataFrame = {
    graft.plans.GraftExtensions.register(lines.sparkSession)
    val topic = substring_index(lineCol, " ", 1)
    val json = lineCol.substr(length(topic) + 2, length(lineCol))
    val parsed = lines.select(
      topic.as("topic"),
      from_json(json, envelopeSchema).as("e"))
    val v3 = col("e.uplink_message").isNotNull
    // arrays_zip keeps positions aligned; the cast renames the zipped
    // fields to the normalized (gtw_id, rssi, snr) frame.
    val rx = col("e.uplink_message.rx_metadata")
    val gwsV3 = arrays_zip(
      rx.getField("gateway_ids").getField("gateway_id"),
      rx.getField("rssi"), rx.getField("snr")).cast(gwFrameType)
    val mg = col("e.metadata.gateways")
    val gwsV2 = arrays_zip(
      mg.getField("gtw_id"), mg.getField("rssi"), mg.getField("snr"))
      .cast(gwFrameType)
    val gws = when(v3, gwsV3).otherwise(gwsV2)
    parsed.select(
      col("topic"),
      coalesce(col("e.end_device_ids.application_ids.application_id"),
        col("e.app_id")).as("app_id"),
      coalesce(col("e.end_device_ids.device_id"), col("e.dev_id")).as("dev_id"),
      coalesce(col("e.uplink_message.f_port"), col("e.port")).as("port"),
      coalesce(col("e.uplink_message.f_cnt"), col("e.counter")).as("counter"),
      unbase64(coalesce(col("e.uplink_message.frm_payload"),
        col("e.payload_raw"))).as("payload"),
      coalesce(col("e.metadata.time"), col("e.received_at")).as("event_time"),
      gws.as("gateways"))
      // D5 best gateway: max (score, id) struct — deterministic argmax,
      // one codegen'd loop (see scaladoc above).
      .withColumn("best", call_function("best_gateway", col("gateways")))
      .withColumn("best_gateway", col("best.gtw_id"))
      .withColumn("best_score", round(col("best.score"), 2))
      .drop("best")
  }
}
