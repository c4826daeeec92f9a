package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: min-of-two timed passes per declared query after an
  * sf0.001 warm-up pass, one JSON result line on stdout AND the same
  * JSON written to a file (stdout tail-capture truncated round 3's
  * artifact to 66/93 timings; the file is the complete record).
  *
  * The JSON carries lane subtotals next to the headline total: every
  * `stream_*` query runs a real streaming engine + filesystem sink per
  * call (fixed startup the plain-SQL oracle never pays), so their lane
  * is budgeted separately from the batch lane when comparing against a
  * batch-SQL baseline. `value` remains the honest all-in total.
  */
object Bench {
  // derived from the streaming registries so a new stream op can never
  // land in the batch lane unnoticed (round 8 added stream_dedup and
  // this set — then hand-listed — silently misattributed it)
  private val streamingLane: Set[String] =
    streaming.StreamOps.queries.keySet ++ streaming.StreamIngest.queries.keySet

  private def r4(v: Double): Double = math.rint(v * 10000) / 10000

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // an integer or nothing: it is written into the JSON artifact as a
    // bare number, so a malformed value would make the whole line invalid
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(v => scala.util.Try(v.trim.toInt)
      .getOrElse(sys.error(s"SPARK_GRAFT_CPUS must be an integer, got '$v'")))
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    // parsed BEFORE the session/warm-up so a malformed value fails fast
    // with a NAMED error instead of an anonymous NumberFormatException
    // after minutes of warm-up (min-of-THREE default: single-run sf0.1
    // numbers on this VM swing up to ~2.4× with machine load)
    val passes = math.max(2, sys.env.get("SPARK_GRAFT_BENCH_PASSES") match {
      case None => 3
      case Some(v) => scala.util.Try(v.trim.toInt).getOrElse(
        sys.error(s"SPARK_GRAFT_BENCH_PASSES must be an integer, got '$v'"))
    })
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Split broadcast thresholds by estimate quality. The STATIC
      // planner sees compressed parquet footer sizes (~4× smaller than
      // the in-memory rows) — a generous static threshold makes it
      // broadcast million-row tables through the single-threaded
      // driver-side relation build (measured: 64m static broadcast the
      // whole 26 MB/1.5M-row sf1 orders table in q3/q5 and DOUBLED
      // them vs. the shuffle plan). AQE decides from MEASURED
      // post-shuffle sizes, so IT gets the node-sized 64 MB: a pruned
      // join side (q3/q5's orders⋈customer) still converts to
      // broadcast at runtime, and the estimate can't lie.
      .config("spark.sql.autoBroadcastJoinThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BROADCAST_THRESHOLD", "10m"))
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold",
        sys.env.getOrElse("SPARK_GRAFT_AQE_BROADCAST_THRESHOLD", "64m"))
      // File-split sizing for a fat local node: 16 MB split target and
      // ~zero open cost (NVMe/page cache), so a 32-file scale table
      // scans ~32-wide instead of being packed into 4×128 MB tasks.
      // On a real cluster the same knobs are sized to executor count;
      // the default 128 MB/4 MB assumes remote object-store opens.
      // (The driver's sf0.1 tables are single-row-group files — there
      // splits can't help either engine; this matters for ScaleGen
      // layouts, which write 32 MB row groups.)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "1m")
      // Hash join over sort-merge when a build side exists: at 4 GiB
      // per thread a per-partition hash build of the SMALLER side
      // always fits (and SHJ spills since 3.x if it doesn't), so the
      // two sorts around every big join are pure overhead — measured
      // ~15-20% on q3/q5 at sf3. SMJ remains for non-equi/huge-both-
      // sides cases; AQE skew splitting applies to SHJ the same way.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      // set at construction (not lazily in ensureBucketed) so plan
      // shapes are identical whether or not a bucketed query ran first
      // in this session — see BucketedQueries.ensureBucketed
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      // events.ts is parquet TIMESTAMP(NANOS): read as long nanos
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // events.ts NTZ->TZ normalization (Tables.tsToNanos) is exact only
      // under a pinned UTC session timezone
      .config("spark.sql.session.timeZone", "UTC")
      // fresh warehouse per run: bucketed saves from a previous JVM
      // would otherwise collide (in-memory catalog forgets the table,
      // its location on disk persists -> LOCATION_ALREADY_EXISTS)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_bench_wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // per-query JSON observability lines on stderr (stdout carries the
    // bench protocol line; see ObservabilityListener) AND into a .jsonl
    // next to the bench artifact, so per-query shuffle/spill is part of
    // the evidence chain rather than lost in the log stream
    val obsFile = outFile.stripSuffix(".json") + "_obs.jsonl"
    val obsWriter = new java.io.PrintWriter(
      new java.io.FileWriter(obsFile, /* append = */ false), /* autoFlush = */ true)
    ObservabilityListener.register(spark, line => {
      System.err.println(line)
      obsWriter.synchronized { obsWriter.println(line) }
    })
    // one correlation id threads EVERY obs line of this bench run —
    // warm-up, timed passes, layout builds (withRun's conf stays set
    // for the session; see its non-unset rationale)
    val runId = ObservabilityListener.newRunId()
    ObservabilityListener.withRun(spark, runId)(())
    // Testdata-contract preflight: fail loudly with the drifted
    // table.column named, before burning bench passes on a broken read
    // (mirrors Verify; the reference validates its contract at startup)
    Preflight.check(spark, sfDir) match {
      case drift if drift.nonEmpty =>
        // exit NOW: burning a warm-up plus N timed passes on a broken
        // read produces a plausible-looking artifact over garbage — a
        // drifted contract is a red run, not a measurement
        System.err.println("bench: TESTDATA CONTRACT DRIFT:\n  " + drift.mkString("\n  "))
        obsWriter.close()
        spark.stop()
        sys.exit(2)
      case _ => ()
    }
    // Warm-up: run every query once at the smallest SF so the timed pass
    // below measures steady-state throughput (whole-stage codegen classes
    // compiled, JIT warm) instead of one-time JVM costs — which otherwise
    // dominate and add multi-x run-to-run noise at these data sizes.
    val warmupDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    if (new java.io.File(warmupDir).isDirectory && warmupDir != sfDir) {
      SparkEntry.queries.foreach { case (_, fn) =>
        try { fn(spark, warmupDir).collect() } catch { case _: Throwable => () }
      }
    }
    // Two timed passes, keep the per-query minimum: the first pass at
    // the target SF still pays one-time costs the sf0.001 warm-up can't
    // cover (page cache for the bigger files, size-specific JIT tiers),
    // which otherwise adds multi-x run-to-run noise to individual
    // queries. The min is the steady-state throughput.
    // A failed query records the -1.0 sentinel, NOT its elapsed-until-
    // failure wall time (which reads as a plausible fast result in the
    // artifact); sentinels survive the min-of-two and are excluded
    // from the total, with the failure count reported alongside.
    // Timed action is collect(), NOT count(): count() over a final
    // aggregate/projection lets Catalyst prune every value expression
    // the row count doesn't need, so aggregate sums / per-row scores
    // were never evaluated in a count()-timed pass (found r12 at sf10:
    // q1_agg under count() skipped all six sums). collect() needs all
    // output columns — nothing prunes — and matches the DuckDB
    // baseline's fetchall() exactly.
    def timedQuery(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                   dir: String): (String, Double) = {
      val t0 = System.nanoTime()
      try {
        ObservabilityListener.withTag(spark, name) { fn(spark, dir).collect(): Unit }
        name -> (System.nanoTime() - t0) / 1e9
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"bench: $name FAILED: $e")
        name -> -1.0
      }
    }
    def timedPass(): Map[String, Double] =
      SparkEntry.queries.map { case (name, fn) => timedQuery(name, fn, sfDir) }
    // min-of-THREE: single-run sf0.1 numbers on this VM swing up to
    // ~2.4× with machine load (r9→r10 drifted 40% on identical code);
    // a third pass measurably tightens the min, and the artifact
    // carries loadavg (below) so residual swings are attributable.
    val allPasses = (1 to passes).map(_ => timedPass())
    // Bucketed-layout variants of the big joins: one untimed save, then
    // the same min-of-N protocol — the bench line carries the
    // shuffle-free join time next to its plain-scan twin. Excluded from
    // "total" (they have no oracle twin in the baseline's query set).
    // tag the untimed layout builds so their shuffle volume is not
    // attributed to the last timed query (withTag never unsets)
    ObservabilityListener.withTag(spark, "setup:layout") {
      operators.BucketedQueries.ensureBucketed(spark, sfDir)
      operators.PartitionedLayout.ensurePartitioned(spark, sfDir)
    }
    def bucketedPass(): Map[String, Double] =
      (operators.BucketedQueries.all ++ operators.PartitionedLayout.all)
        .map { case (name, fn) => timedQuery(name, fn, sfDir) }
    val allBucketed = (1 to passes).map(_ => bucketedPass())
    // a sentinel in ANY pass poisons the key: min(-1, t) = -1
    def minOf(ps: Seq[Map[String, Double]]): Map[String, Double] =
      ps.reduce((a, b) => a.map { case (k, v) => k -> math.min(v, b(k)) })
    val results = minOf(allPasses)
    val bucketed = minOf(allBucketed)
    val qs = (results ++ bucketed).toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + r4(v) }
      .mkString("{", ",", "}")
    val ok = results.filter(_._2 >= 0)
    // count failures across BOTH lanes: a failed bucketed query is a
    // -1.0 in the map and must not leave the headline claiming 0
    // failures (totals already exclude bucketed; only the counter
    // widens)
    val nFailed = (results ++ bucketed).count(_._2 < 0)
    val total = if (ok.nonEmpty) ok.values.sum else 0.0
    val streamTotal = ok.collect { case (k, v) if streamingLane(k) => v }.sum
    // machine-load marker: 1-min loadavg at measurement end, so an
    // inflated total is attributable to a busy VM instead of reading as
    // a code regression (the r9/r10 artifacts drifted 40% on identical
    // code with no way to tell)
    val load1 = try {
      java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split("\\s+")(0).toDouble
    } catch { case _: Exception => -1.0 }
    val proto = s""""protocol":{"passes":$passes,"load1":$load1,"run_id":"$runId"}"""
    // "cpus" rides the artifact (ADDITIVE, r20 verdict #2): the bench
    // honors $SPARK_GRAFT_CPUS (master/shuffle partitions above), and
    // carrying it in the JSON lets any consumer assert two runs really
    // came from different core counts instead of inferring it from
    // flat small-SF scaling ratios.
    val json =
      s"""{"metric":"total","value":${r4(total)},"unit":"sec","cpus":$cpus,""" +
      s""""lanes":{"batch":${r4(total - streamTotal)},"streaming":${r4(streamTotal)}},""" +
      s""""n_queries":${results.size},"n_failed":$nFailed,$proto,"queries":$qs,"sf":"$sfDir"}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"bench: could not write $outFile: $e") }
    // Emit the full record FIRST (a harvester reading the whole stream
    // parses this line), then a compact <1 KB summary LAST (a harvester
    // keeping only the final ~2 KB of output still gets a complete JSON
    // line — the full map is ~2.9 KB and cannot fit a 2 KB tail, which
    // is exactly how rounds 4-6 lost their artifact). Same numbers in
    // both; the full per-query map also lives in `outFile`.
    println(json)
    val summary =
      s"""{"metric":"total","value":${r4(total)},"unit":"sec","cpus":$cpus,""" +
      s""""lanes":{"batch":${r4(total - streamTotal)},"streaming":${r4(streamTotal)}},""" +
      s""""n_queries":${results.size},"n_failed":$nFailed,$proto,""" +
      s""""queries_file":"$outFile","sf":"$sfDir"}"""
    println(summary)
    // stop() drains the async listener bus before the writer closes
    spark.stop()
    obsWriter.close()
    // a bench with failed queries is a FAILED bench: exit nonzero so
    // the harness records a red run instead of a plausible-looking
    // total over a partial surface (round 10 shipped rc 0 with
    // n_failed: 17)
    if (nFailed > 0) sys.exit(1)
  }
}
