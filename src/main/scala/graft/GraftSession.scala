package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured. Bench times, Verify
  * hash-checks, Explain prints and the specs run on sessions built here,
  * so the plans that are checked are the plans that are timed.
  *
  * Every setting is derived from the core count and the input volume
  * (`dataBytes`, the on-disk size of the SF directory; 0 for synthetic
  * inputs). A caller adds only the confs it alone needs via `extra`. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, or `default` when unset. */
  def envCpus(default: Int = 4): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  /** Total bytes of the files under `path` (0 for a missing path). */
  def dirBytes(path: String): Long = bytesUnder(new java.io.File(path))

  private def bytesUnder(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(bytesUnder).sum).getOrElse(0L)

  /** One initial shuffle partition per 4 MiB of input, clamped to
    * [floor, 512]. Also the stateful replays' state-partition count. */
  def volumeParts(dataBytes: Long, floor: Long): Int =
    math.min(512L, math.max(floor, dataBytes / (4L << 20))).toInt

  def apply(cpus: Int, dataBytes: Long = 0L,
            extra: Seq[(String, String)] = Nil): SparkSession = {
    // Scan-side split sizing (r12): the MakeScale corpora are ONE
    // heavily-compressed file per table (events sf1 = 15.7 MB for 1 M
    // rows), so the stock 128 MiB maxPartitionBytes put every fact scan
    // in a single task. Aim at ~4 tasks per core over the whole
    // directory, floored at 1 MiB (= MakeScale's row-group size — a
    // split without a row-group midpoint does no work) and capped at the
    // 128 MiB default for big corpora.
    val maxPartBytes =
      math.min(128L << 20, math.max(1L << 20, dataBytes / (4L * cpus)))
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      // The static count stays at the core count: it is what the non-AQE
      // paths (stateful streaming disables AQE) fall back to.
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // Shuffle-partition sizing tracks DATA VOLUME, not core count: at
      // sf10 the cpus-count default leaves >3 M rows per shuffle
      // partition and the wide dedup aggregations spill. r8's flat 512
      // taxed every multi-shuffle sf0.1 query ~1.35× (AQE coalescing
      // does not recover the 512-task launch overhead on tiny map
      // output). 4 MiB of compressed columnar input ≈ the 64 MiB AQE
      // advisory size at the ~16× decompress+explode expansion of the
      // widest shuffles (shingle posting lists), so AQE only ever
      // coalesces DOWN from this start: sf0.1 → cpus, sf1 → 38,
      // sf10 → 369 (measured r8: q27 93.7 s @32 static, 61.9 s @≥256).
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        volumeParts(dataBytes, cpus).toString)
      // collect_list/collect_set aggregations (posting lists, RRD spans,
      // JSON series) hold millions of distinct keys per partition; the
      // stock 128-key ObjectHashAggregate fallback degrades every one of
      // them to sort-based aggregation (measured: q26's posting agg
      // -20 s at sf10 with the raised threshold). Memory caveat for
      // deploys: the MAP-SIDE partial aggregate's hash map is bounded by
      // this threshold itself, not by AQE's advisory size, so per-task
      // map-side memory grows with it on large input splits — a
      // smaller-heap box should lower SPARK_GRAFT_OBJ_AGG_FALLBACK.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        sys.env.getOrElse("SPARK_GRAFT_OBJ_AGG_FALLBACK", "262144"))
      // Size-based (NOT forced) broadcast ceiling sized for the deploy
      // box (128 GiB): mid-size build sides (the shingle inverted index
      // at bench SF) broadcast deterministically instead of AQE flapping
      // between SMJ and BHJ run-to-run; oversized sides still shuffle.
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.files.maxPartitionBytes", maxPartBytes.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // one optimizer config for every query (q54 relies on the rule)
    spark.experimental.extraOptimizations = Seq(graft.plans.BandedIntervalJoinRule)
    graft.plans.GraftExtensions.register(spark)
    spark
  }
}
