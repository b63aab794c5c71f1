package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.streaming.ArchiveSink

/** The benchmark's three workloads: which engine entry points each one
  * calls, in order, and which input tables it reads.
  *
  * Every item returns the DataFrame whose rows are checked against the
  * DuckDB oracle; the harness times the item from the call to the end of
  * writing those rows. Items named after a `SparkEntry.queries` key are
  * checked against that query's oracle; the others name their own oracle
  * in `extraOracles` below.
  */
object Workloads {

  final case class Item(name: String, run: () => DataFrame)

  // Each list is a subset of its query family: on a 4-core box the first
  // pass over a list pays about 1 s of JIT and code generation per item,
  // and a run must fit the benchmark's time budget (README.md, "Sizing").
  // Each keeps the roadmap's target queries.
  val sensorTs: Seq[String] = Seq("q02", "q03", "q04", "q05", "q07", "q08",
    "q09", "q17", "q22", "q23", "q37", "q42", "q53", "q54", "q61", "q64",
    "q69", "q89")

  val neardupDocs: Seq[String] = Seq("q26", "q29", "q46", "q72", "q91",
    "q95", "q102", "q110", "q113")

  /** Decode (q76 over the rendered fixture, q38), four of the six replays,
    * then the archive upsert and an export write. */
  val streamIngest: Seq[String] = Seq("q76", "q38", "q36", "q79", "q94",
    "q101", "archive_upsert", "q82")

  val names: Map[String, Seq[String]] = Map(
    "sensor_ts" -> sensorTs, "neardup_docs" -> neardupDocs,
    "stream_ingest" -> streamIngest)

  /** Input tables of each workload, scanned once by the traced run's
    * `tables.scan_*` probe. */
  val tables: Map[String, Seq[String]] = Map(
    "sensor_ts" -> Seq("events", "lineitem", "orders", "customer",
      "supplier", "part", "nation", "region"),
    "neardup_docs" -> Seq("documents", "embeddings"),
    "stream_ingest" -> Seq("events", "supplier", "customer", "nation"))

  /** Oracles of the items that are not `SparkEntry.queries` entries. */
  val extraOracles: Map[String, String] = Map(
    "archive_upsert" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value,
        |       props FROM events""".stripMargin)

  /** `q02` -> `q02_hourly_agg`; unknown or ambiguous prefixes fail. */
  def fullName(short: String): String =
    if (extraOracles.contains(short)) short
    else SparkEntry.queries.keys.filter(_.startsWith(short + "_")).toSeq match {
      case Seq(one) => one
      case other => throw new IllegalArgumentException(
        s"query prefix $short matches ${other.size} queries: ${other.mkString(", ")}")
    }

  def oracle(name: String): String =
    extraOracles.getOrElse(name, SparkEntry.oracleSql(name))

  /** The q76 telegram fixture: events rendered as TTN V2/V3 lines, written
    * once per set-up so the timed item measures the decode operator. */
  def renderFixture(spark: SparkSession, data: String, path: String): Unit =
    SparkEntry.ttnFixtureLines(Tables.events(spark, data))
      .write.mode("overwrite").parquet(path)

  def items(workload: String, spark: SparkSession, data: String,
            fixture: String, archiveDir: String): Seq[Item] =
    names(workload).map(fullName).map {
      case n @ "q76_ttn_envelope" =>
        Item(n, () => SparkEntry.q76Pipeline(spark.read.parquet(fixture)))
      case n @ "archive_upsert" => Item(n, () => upsertEvents(spark, data, archiveDir))
      case n => Item(n, () => SparkEntry.queries(n)(spark, data))
    }

  /** Two upserts of the events table into a fresh archive: all rows, then
    * every third row again with the same keys, which the last-write-wins
    * merge must collapse. Returns the archive read back. */
  def upsertEvents(spark: SparkSession, data: String, dir: String): DataFrame = {
    deleteRecursively(new java.io.File(dir))
    val events = Tables.events(spark, data)
    ArchiveSink.upsert(events, dir, keys = Seq("event_id"), version = "ts",
      numBuckets = 4)
    ArchiveSink.upsert(events.where(col("event_id") % 3 === 0), dir,
      keys = Seq("event_id"), version = "ts")
    ArchiveSink.read(spark, dir).select(col("event_id"),
      unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("user_id"), col("event_type"),
      col("value"), col("props"))
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}

/** Writes `{"workloads": {workload: [item]}, "oracles": {item: SQL}}` to
  * the file named by the first argument. */
object Oracles {
  def main(args: Array[String]): Unit = {
    val items = Workloads.names.map { case (w, ns) => w -> ns.map(Workloads.fullName) }
    val oracles = items.values.flatten.map(n => n -> Workloads.oracle(n)).toMap
    java.nio.file.Files.write(java.nio.file.Paths.get(args(0)),
      Harness.json.writeValueAsBytes(Map("workloads" -> items, "oracles" -> oracles)))
  }
}
