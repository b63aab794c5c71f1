package graft

import scala.util.{Failure, Success, Try}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    require(new java.io.File(sfDir).isDirectory, s"no SF directory at $sfDir")
    val spark = GraftSession(GraftSession.envCpus(), GraftSession.dirBytes(sfDir))
    // JVM/codegen warmup outside the timings (standard practice: measure
    // the engine, not first-call class loading). Runs the whole-stage
    // codegen + shuffle machinery once on a small synthetic job.
    spark.range(1000000).selectExpr("sum(id % 7)").collect()
    spark.range(1000).toDF("id").groupBy("id").count().count()
    // Dev A/B support (driver contract unchanged — it passes no args):
    // optional args = query-name subset; SPARK_GRAFT_BENCH_RUNS = repeat
    // count (min-of-N). More repeats help isolate this host's multi-
    // minute CPU bursts, which poison any single timing.
    val names = args.toSet
    // A typo'd name would otherwise silently select nothing and print a
    // too-good-to-be-true {"value":0.0} line (ADVICE r4) — fail loudly.
    val unknown = names.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    // min-of-3 default: r4's "regression cluster" and r5's q71 blip were
    // both first-run codegen / CPU bursts leaking through min-of-2 — the
    // third run costs ~40% more bench wall-clock and removes that mode.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => names.isEmpty || names.contains(q._1))
    // q76 fixture-render persistence (VERDICT r9 item 3): ~1/3 of the
    // q76 artifact number was the bench manufacturing its own input JSON
    // (r9 stage split: render alone 2.4 s of 7.2 s at sf1), so the rendered
    // lines are written ONCE per bench run and the timed loop measures
    // the OPERATOR (parse → resolve → argmax) reading them back. The
    // render cost is reported separately in the JSON. The q76 oracle
    // contract is unchanged — Verify still renders inline.
    // Fixture lives in a per-run Scratch.tempDir (ADVICE r13: a raw path
    // under Scratch.root had no exit cleanup and accumulated across runs
    // on RAM-backed /dev/shm).
    val q76Path: Option[String] =
      if (selected.exists(_._1 == "q76_ttn_envelope"))
        Some(graft.Scratch.tempDir("graft_bench_q76_").toString + "/fixture")
      else None
    val q76Render: Option[Double] = q76Path.map { path =>
      val t0 = System.nanoTime()
      SparkEntry.ttnFixtureLines(Tables.events(spark, sfDir))
        .write.mode("overwrite").parquet(path)
      (System.nanoTime() - t0) / 1e9
    }
    val results = selected.map { case (name, fn) =>
      // Steady-state timing: min of `runs` runs per query (this host's CPU
      // is bursty — identical back-to-back totals vary ±60% — and the
      // JIT compiles each query's codegen on first execution). noop sink
      // forces full evaluation of every output column (a count() would
      // let Catalyst prune the projections being measured).
      val timed: () => org.apache.spark.sql.DataFrame =
        if (name == "q76_ttn_envelope") { () =>
          SparkEntry.q76Pipeline(spark.read.parquet(q76Path.get))
        } else { () => fn(spark, sfDir) }
      // A query that throws is recorded as failed, left out of the
      // total, and fails the run — never timed as a fast query.
      name -> Try((1 to runs).map { _ =>
        val t0 = System.nanoTime()
        timed().write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }.min)
    }
    val timings = results.collect { case (k, Success(t)) => k -> t }
    val failed = results.collect { case (k, Failure(e)) => k -> e }
    failed.foreach { case (k, e) =>
      System.err.println(s"[bench] $k failed: $e")
      e.printStackTrace()
    }
    val qs = timings.map { case (k, v) => Json.quote(k) + ":" + v }
      .mkString("{", ",", "}")
    val errs = failed.map { case (k, e) => Json.quote(k) + ":" + Json.quote(e.toString) }
      .mkString("{", ",", "}")
    val total = timings.map(_._2).sum
    val method = s""""method":"min-of-$runs runs per query""""
    val renderField = q76Render
      .map(r => s""","q76_fixture_render_sec":$r""").getOrElse("")
    // metric stays "total" — the driver selects the bench line by that
    // key (SKILL.md contract); the methodology rides in its own field.
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec",$method$renderField,"queries":$qs,"failed":$errs,"sf":"$sfDir"}"""
    println(fullLine)
    // The full line is ~6 KB (113 per-query fields) and the driver's
    // bounded tail capture has truncated it mid-line for two rounds
    // running (VERDICT r13 item 2: PERF per_query empty both rounds).
    // Mitigation, not a contract change: the full line above stays;
    // the per-query map is ALSO written to a file in the working dir,
    // and a compact summary line — short enough to survive any tail
    // capture — is printed as the very last stdout line after
    // spark.stop() (so no engine output can follow it).
    val queriesFile = new java.io.File("bench_queries.json").getAbsoluteFile
    val w = new java.io.PrintWriter(queriesFile, "UTF-8")
    try w.println(fullLine) finally w.close()
    spark.stop()
    println(s"""{"metric":"total","value":$total,"unit":"sec",$method,"failed":${failed.size},"queries_file":"$queriesFile","sf":"$sfDir"}""")
    if (failed.nonEmpty) sys.exit(1)
  }
}
