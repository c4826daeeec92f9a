package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The benchmark's JVM side. `perfbench/run.py` builds it, makes the
  * data and turns the raw samples it writes into metrics.
  *
  * Modes:
  *  - `run`: set up, time whole passes of one workload and write every
  *    sample as JSON to `--out`. `run.py` starts it once per `--part`;
  *    the parts share `--work`. With `--trace 1` the layer collector is
  *    on, and per-op layer records and spans go to `--trace-dir`.
  *  - `hashes`: run each query once on `--data` and write its result
  *    hash (the values `oracle.py record` checks the oracle against).
  *  - `oracle-sql`: write `SparkEntry.oracleSql` for the given queries.
  */
object Main {
  private val json = new ObjectMapper()
  private val Cores = 4

  /** `--key value` pairs, then positional arguments. */
  private def parse(args: Seq[String]): (Map[String, String], Seq[String]) = {
    val n = args.sliding(2, 2).takeWhile(p => p.size == 2 && p.head.startsWith("--")).size
    (args.take(2 * n).grouped(2).map(p => p.head.stripPrefix("--") -> p(1)).toMap, args.drop(2 * n))
  }

  def main(argv: Array[String]): Unit = {
    val mode = argv.head
    val (opt, rest) = parse(argv.toSeq.tail)
    val work = new File(opt("work"))
    work.mkdirs()
    mode match {
      case "run" => run(opt, rest, work)
      case "hashes" => hashes(opt, rest, work)
      case "oracle-sql" =>
        write(opt("out"), rest.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap.asJava)
    }
    // no lingering non-daemon thread may keep the JVM alive
    sys.exit(0)
  }

  private def write(path: String, value: AnyRef): Unit =
    json.writerWithDefaultPrettyPrinter().writeValue(new File(path), value)

  private def expectedHashes(path: String): Map[String, String] =
    json.readTree(new File(path)).properties().asScala
      .map(e => e.getKey -> e.getValue.get("hash").asText).toMap

  private def hashes(opt: Map[String, String], queries: Seq[String], work: File): Unit = {
    val spark = Sessions.build(Cores, new File(work, "hashes"))
    val out = queries.map { q =>
      val df = graft.SparkEntry.queries(q)(spark, opt("data"))
      val rows = df.collect()
      q -> Map("hash" -> Canon.hash(df.columns.toSeq, rows), "rows" -> rows.length).asJava
    }.toMap.asJava
    spark.stop()
    write(opt("out"), out)
  }

  private def run(opt: Map[String, String], queries: Seq[String], work: File): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val seed = opt("seed").toLong
    val traced = opt.getOrElse("trace", "0") == "1"
    val part = opt("part").toInt
    val own = new File(work, s"part-$part")
    val workload: Workload = opt("workload") match {
      case "wod_ingest" => new WodWorkload(own, new File(work, "wod"))
      case _ => new QueryWorkload(queries, opt("data"), opt("warmup"), expectedHashes(opt("expected")))
    }

    // set-up counts from JVM start: class loading, session, warm-up
    val trace = new Trace
    val root = trace.add("run", -1, jvmStart.toDouble, Double.NaN)
    val spark = trace.span("setup", root) { _ =>
      val s = Sessions.build(Cores, own)
      workload.setup(s)
      s
    }
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val layers = if (traced) Some(new Layers(Cores)) else None
    layers.foreach(_.register(spark))
    val loop = new Loop(spark, trace, root, traced, part, opt("seconds").toDouble, opt("min-ops").toInt)
    workload.run(loop, seed)
    loop.finish()
    trace.end(root)
    val heapMb = heapLiveMb()
    spark.stop() // drains the listener bus
    val ops = loop.ops.toSeq
    layers.foreach(l => writeTrace(new File(opt("trace-dir")), l, trace, ops))

    val out = new java.util.LinkedHashMap[String, AnyRef]
    out.put("workload", opt("workload"))
    out.put("seed", Long.box(seed))
    out.put("setup_s", Double.box(setupS))
    out.put("ops", ops.filter(_.ok).map(o => Seq[AnyRef](o.name, Double.box(o.ms)).asJava).asJava)
    out.put("attempted", Int.box(ops.size))
    out.put("failed", Int.box(ops.count(!_.ok)))
    out.put("wrong", Int.box(ops.count(o => o.ok && !o.correct)))
    out.put("timed_s", Double.box(loop.timedSeconds))
    out.put("check_s", Double.box(loop.checkSeconds))
    out.put("heap_live_mb", Double.box(heapMb))
    layers.foreach(l => out.put("listener_ms", Double.box(l.overheadMs)))
    write(opt("out"), out)
  }

  /** Driver heap still in use after forced full collections, repeated
    * until one frees less than 1 MB more: objects that Spark's cleaner
    * threads release after a collection are only freed by the next. */
  private def heapLiveMb(): Double = {
    def collect(): Double = {
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var (before, after, rounds) = (collect(), collect(), 2)
    while (before - after >= 1.0 && rounds < 20) {
      before = after
      after = collect()
      rounds += 1
    }
    after
  }

  /** Per-op layer records and the span tree go to `dir`; `run.py`
    * turns the records into the run's layer metrics. */
  private def writeTrace(dir: File, layers: Layers, trace: Trace, ops: Seq[Op]): Unit = {
    dir.mkdirs()
    val windows = ops.map(o => OpWindow(o.id, o.name, math.floor(o.startMs).toLong, math.ceil(o.endMs).toLong))
    val perOp = layers.perOp(windows).zip(ops).map { case (m, o) => Layers.Metrics.map(k => k -> 0.0).toMap ++ m ++ o.counters }
    // job spans hang under the innermost harness span holding their start
    val opSpans = trace.children(0).map(s => s.startMs -> s.id).toMap // the run span is 0
    layers.jobsByOp(windows).zip(ops).foreach { case (js, o) =>
      val opSpan = opSpans(o.startMs)
      js.foreach { case (s, e) => trace.add("spark-job", trace.innermost(opSpan, s.toDouble), s.toDouble, e.toDouble) }
    }
    val w = new java.io.PrintWriter(new File(dir, "ops.jsonl"))
    try perOp.zip(ops).foreach { case (m, o) =>
      val rec = new java.util.LinkedHashMap[String, AnyRef]
      rec.put("op", Int.box(o.id)); rec.put("name", o.name); rec.put("pass", Int.box(o.group))
      rec.put("ms", Double.box(o.ms)); rec.put("ok", Boolean.box(o.ok && o.correct))
      m.toSeq.sortBy(_._1).foreach { case (k, v) => rec.put(k, Double.box(v)) }
      w.println(json.writeValueAsString(rec))
    } finally w.close()
    val sw = new java.io.PrintWriter(new File(dir, "spans.jsonl"))
    try trace.all.foreach { case (s, self) =>
      val rec = new java.util.LinkedHashMap[String, AnyRef]
      rec.put("id", Int.box(s.id)); rec.put("parent", Int.box(s.parent)); rec.put("name", s.name)
      rec.put("start_ms", Double.box(s.startMs)); rec.put("dur_ms", Double.box(s.endMs - s.startMs))
      rec.put("self_ms", Double.box(self))
      sw.println(json.writeValueAsString(rec))
    } finally sw.close()
  }
}
