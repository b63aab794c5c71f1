package graft.perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Tables

/** The benchmark's JVM side: one workload as a closed loop with one client.
  *
  *   java ... graft.perfbench.Harness workload=<name> data=<dir> run=<dir>
  *       seconds=<n> budget=<n> trace=<0|1> setups=<n> cpus=<n> [fail=<item>]
  *
  * Set-up (session build, warm-up, and for stream_ingest the q76 fixture
  * render) runs `setups` times; the last session is kept. Then passes over
  * the workload's items run back to back while the next pass is expected
  * to end within `seconds` (at least one pass). Each item is timed from the engine
  * call to the end of writing its rows to `<run>/out/p<pass>/<item>`,
  * where the caller checks them against the oracle. An item that throws is
  * recorded with its error and left out of every timing.
  *
  * With trace=1 there are three passes: untraced, traced under [[Tracer]],
  * untraced. `fail=<item>` makes that item throw (the
  * benchmark's self-test uses it).
  *
  * `budget` is the JVM's time limit in seconds from its start: a pass that
  * is not required (any after the first untraced one; with trace=1, the
  * last untraced one) starts only if the previous pass says it will end
  * within it, so a run on a busy host ends in time with fewer passes.
  *
  * Writes `<run>/result.json` (and `<run>/spans.json` when traced).
  */
object Harness {

  private val jvmStart = System.nanoTime()

  def main(args: Array[String]): Unit = {
    // exit explicitly: a thread Spark leaves behind must not keep the JVM up
    val status =
      try { run(args.map(_.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap); 0 }
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.exit(status)
  }

  private def run(a: Map[String, String]): Unit = {
    val workload = a("workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val data = a("data")
    val run = a("run")
    val seconds = a("seconds").toDouble
    val budget = a("budget").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    val fixture = s"$run/fixture"

    val setups = (1 to a("setups").toInt).map { i =>
      val c0 = cpuTicks()
      val t0 = System.nanoTime()
      val spark = session(cpus, data, run)
      val t1 = System.nanoTime()
      spark.range(1000000).selectExpr("sum(id % 7)").collect()
      spark.range(1000).toDF("id").groupBy("id").count().count()
      val t2 = System.nanoTime()
      if (workload == "stream_ingest") Workloads.renderFixture(spark, data, fixture)
      val t3 = System.nanoTime()
      if (i < a("setups").toInt) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      Map("build_s" -> sec(t1 - t0), "warmup_s" -> sec(t2 - t1),
        "fixture_s" -> sec(t3 - t2), "total_s" -> sec(t3 - t0), "ticks" -> since(c0))
    }
    val spark = SparkSession.active

    val items = Workloads.items(workload, spark, data, fixture, s"$run/archive")
      .map { it =>
        if (a.get("fail").contains(it.name))
          it.copy(run = () => throw new IllegalStateException(s"injected failure in ${it.name}"))
        else it
      }
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "cpus" -> cpus, "setups" -> setups)

    val root = tracer.map(_.begin("workload", workload))
    tracer.foreach { t =>
      t.attach()
      record("scan") = Workloads.tables(workload).map { name =>
        val t0 = System.nanoTime()
        val (s, stats) = t.counted("scan", name) {
          Tables(spark, data, name).write.format("noop").mode("overwrite").save()
          sec(System.nanoTime() - t0)
        }
        Map("table" -> name, "seconds" -> s,
          "bytes" -> new java.io.File(s"$data/$name.parquet").length, "tasks" -> stats.tasks)
      }
      t.detach()
    }

    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val start = System.nanoTime()
    // Untraced: a pass starts only if it can end within `seconds`, judged
    // by the previous pass, so the pass count does not flip between runs.
    // Traced: untraced (cold), traced, untraced; the last is the overhead
    // baseline. Optional passes must also end within `budget`.
    def lastWall = passes.last("wall_s").asInstanceOf[Double]
    def fits(limit: Double, since: Long) = sec(System.nanoTime() - since) + lastWall <= limit
    def more =
      if (traced) passes.size < 2 || passes.size < 3 && fits(budget, jvmStart)
      else passes.isEmpty || fits(seconds, start) && fits(budget, jvmStart)
    while (more) {
      val p = passes.size
      val passTracer = tracer.filter(_ => p % 2 == 1)
      passTracer.foreach(_.attach())
      val span = passTracer.map(_.begin("pass", s"pass $p"))
      val c0 = cpuTicks()
      val t0 = System.nanoTime()
      val results = items.map { it =>
        val out = s"$run/out/p$p/${it.name}"
        val c0 = cpuTicks()
        def exec(): (Double, Option[String]) = {
          val q0 = System.nanoTime()
          val err =
            try {
              val df = it.run()
              passTracer.foreach(_.noteAnalysis(df.queryExecution))
              df.write.mode("overwrite").parquet(out)
              None
            } catch { case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}") }
          (sec(System.nanoTime() - q0), err)
        }
        val ((s, err), stats) = passTracer match {
          case Some(t) =>
            val (r, st) = t.counted("query", it.name)(exec())
            (r, Some(st.toMap))
          case None => (exec(), None)
        }
        err.foreach(e => System.err.println(s"[perfbench] FAIL ${it.name}: $e"))
        Map("name" -> it.name, "seconds" -> s, "ticks" -> since(c0), "error" -> err,
          "out" -> out) ++ stats.map("trace" -> _)
      }
      passes += Map("pass" -> p, "traced" -> passTracer.isDefined,
        "wall_s" -> sec(System.nanoTime() - t0), "ticks" -> since(c0), "items" -> results)
      for (t <- passTracer; s <- span) { t.end(s); t.detach() }
    }
    record("passes") = passes
    if (workload == "stream_ingest") {
      record("telegrams") = spark.read.parquet(fixture).count()
      val files = walk(new java.io.File(s"$run/archive")).filter(_.getName.endsWith(".parquet"))
      record("archive") = Map("bytes" -> files.map(_.length).sum, "files" -> files.size)
    }
    for (t <- tracer; r <- root) {
      t.end(r)
      write(s"$run/spans.json", t.spanRecords)
    }
    record("vmhwm_kb") = vmHwmKb
    write(s"$run/result.json", record)
    spark.stop()
  }

  /** The session Bench times: same master, partitioning, broadcast,
    * aggregation-fallback and split-size settings, with every local
    * directory placed under the run directory. */
  def session(cpus: Int, data: String, run: String): SparkSession = {
    val dataBytes = walk(new java.io.File(data)).map(_.length).sum
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        math.min(512L, math.max(cpus.toLong, dataBytes / (4L << 20))).toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.files.maxPartitionBytes",
        math.min(128L << 20, math.max(1L << 20, dataBytes / (4 * cpus.toLong))).toString)
      .config("spark.local.dir", s"$run/local")
      .config("spark.sql.warehouse.dir", s"$run/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.experimental.extraOptimizations = Seq(graft.plans.BandedIntervalJoinRule)
    spark
  }

  private def sec(ns: Long): Double = ns / 1e9

  /** Machine-wide CPU ticks from /proc/stat: (busy, stolen by the
    * hypervisor while runnable). */
  private def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    val v = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
    (v(0) + v(1) + v(2) + v(5) + v(6), v(7))
  }

  private def since(c0: (Long, Long)): Seq[Long] = {
    val c1 = cpuTicks()
    Seq(c1._1 - c0._1, c1._2 - c0._2)
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)

  private def vmHwmKb: Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  private def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), Harness.json.writeValueAsBytes(v))

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}
