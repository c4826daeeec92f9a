package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.SparkEntry
import graft.etl.WodRealText
import graft.sources.{IdempotencyLedger, IdempotentSink, PagedIngest}

/** One timed op: what ran, when (epoch ms), and what came of it.
  * `counters` holds the op's harness-side layer numbers. */
final case class Op(id: Int, name: String, group: Int, startMs: Double, endMs: Double,
                    ok: Boolean, var correct: Boolean, counters: Map[String, Double]) {
  def ms: Double = endMs - startMs
}

/** What every op loop gets: the session, the trace, whether the layer
  * collector is on (then each op runs under its own job group), which
  * of the run's processes this is (`part`, from 1), and the clock that
  * excludes correctness checks from the timed region. */
final class Loop(val spark: SparkSession, val trace: Trace, val root: Int, val traced: Boolean,
                 val part: Int, seconds: Double, minOps: Int) {
  val ops = mutable.ArrayBuffer.empty[Op]
  private val t0 = System.nanoTime()
  private var t1 = 0L
  private var checkNs = 0L

  /** Another whole pass is due until the run has lasted `seconds` and
    * timed `minOps` ops. */
  def more: Boolean = (System.nanoTime() - t0) / 1e9 < seconds || ops.size < minOps

  def nextId: Int = ops.size + 1

  def withGroup[T](group: String)(f: => T): T =
    if (!traced) f
    else {
      spark.sparkContext.setJobGroup(group, group)
      try f finally spark.sparkContext.clearJobGroup()
    }

  /** Runs a correctness check outside the timed region. */
  def check[T](f: => T): T = {
    val c0 = System.nanoTime()
    try withGroup("graftbench-check")(f) finally checkNs += System.nanoTime() - c0
  }

  /** Ends the timed region. */
  def finish(): Unit = t1 = System.nanoTime()

  def timedSeconds: Double = (t1 - t0 - checkNs) / 1e9
  def checkSeconds: Double = checkNs / 1e9
}

trait Workload {
  /** Warm-up; counted in set-up time. */
  def setup(spark: SparkSession): Unit
  /** Whole passes (or feed blocks) of ops until `loop.more` is false. */
  def run(loop: Loop, seed: Long): Unit
}

/** Closed-loop query workload: every pass runs each query once, in an
  * order drawn from the seed; an op is one query, timed from the query
  * function's call to the end of `collect()`. Every result is hashed
  * and compared with the DuckDB oracle's hash for the same data. */
final class QueryWorkload(queries: Seq[String], dataDir: String, warmupDir: String,
                          expected: Map[String, String]) extends Workload {

  private val fns = queries.map(q => q -> SparkEntry.queries.getOrElse(q,
    throw new IllegalArgumentException(s"unknown query $q"))).toMap
  queries.foreach(q => require(expected.contains(q), s"no recorded oracle hash for $q"))

  def setup(spark: SparkSession): Unit = {
    queries.foreach { q =>
      try fns(q)(spark, warmupDir).collect()
      catch { case NonFatal(e) => System.err.println(s"graftbench: warm-up $q failed: $e") }
    }
  }

  def run(loop: Loop, seed: Long): Unit = {
    var pass = 0
    while (loop.more) {
      new Random(seed * 1000003L + 1000L * loop.part + pass).shuffle(queries).foreach { q =>
        val id = loop.nextId
        var df: DataFrame = null
        var rows: Array[Row] = null
        val (opSpan, failure) = loop.withGroup(Layers.groupOf(id)) {
          loop.trace.span(q, loop.root) { sp =>
            try {
              df = loop.trace.span("build", sp)(_ => fns(q)(loop.spark, dataDir))
              rows = loop.trace.span("collect", sp)(_ => df.collect())
              (sp, None)
            } catch { case NonFatal(e) => (sp, Some(e)) }
          }
        }
        failure.foreach(e => System.err.println(s"graftbench: $q failed: $e"))
        val s = loop.trace.get(opSpan)
        val phase = loop.trace.children(opSpan).map(c => c.name -> (c.endMs - c.startMs)).toMap
        val correct = failure.isEmpty && loop.check(Canon.hash(df.columns.toSeq, rows)) == expected(q)
        if (failure.isEmpty && !correct) System.err.println(s"graftbench: $q result differs from the oracle")
        loop.ops += Op(id, q, pass, s.startMs, s.endMs, failure.isEmpty, correct,
          Map("entry.build_ms" -> phase.getOrElse("build", 0.0),
            "entry.collect_ms" -> phase.getOrElse("collect", 0.0)))
      }
      pass += 1
    }
  }
}

/** The reference's operating loop: a WordPress feed fetched page by
  * page through `PagedIngest` and an `IdempotencyLedger`, each landed
  * page cleaned by `WodRealText.cleaned` and written with
  * `IdempotentSink.writeKeyed`, keyed by a sha256 idempotency key.
  *
  * One feed, ledger, staging directory and sink serve the whole run:
  * each of the run's processes is one invocation of the loop and
  * continues the feed where the previous one stopped (`state.json` in
  * `shared`), as a scheduled ingest would. An op is one page, timed
  * from fetch until its records are committed; ops come in whole
  * blocks of the feed (`WodFeed.PagesPerBlock` pages). Each page's
  * ingest report and (written, skipped) counts are checked against the
  * feed; at the end the sink is read back and compared with every
  * record the feed's committed pages hold: keys, dates, sessions (rest
  * days included), segments, no duplicate keys. A page that throws is
  * a failed op; its records are not expected in the sink. */
final class WodWorkload(work: java.io.File, shared: java.io.File) extends Workload {
  import WodWorkload._

  def setup(spark: SparkSession): Unit = {
    val dir = new java.io.File(work, "wod-warmup")
    val feed = new WodFeed(-1L)
    val ledger = new IdempotencyLedger(new java.io.File(dir, "ledger").getPath,
      spark.sessionState.newHadoopConf())
    (1 to 2).foreach { p =>
      try ingestAndSink(spark, ledger, dir, feed, p)
      catch { case NonFatal(e) => System.err.println(s"graftbench: warm-up page $p failed: $e") }
    }
  }

  /** Ingests page `pageNo` of `feed` into `dir`; returns the ingest
    * report and, when the page landed, the sink's (written, skipped). */
  private def ingestAndSink(spark: SparkSession, ledger: IdempotencyLedger, dir: java.io.File,
                            feed: WodFeed, pageNo: Int,
                            trace: Option[(Trace, Int)] = None): (PagedIngest.IngestReport, (Long, Long)) = {
    def span[T](name: String)(f: => T): T = trace match {
      case Some((t, parent)) => t.span(name, parent)(_ => f)
      case None => f
    }
    val staging = new java.io.File(dir, "staging").getPath
    val report = span("ingest") {
      PagedIngest.ingest((page, _) => feed.page(page).map(_.json), staging,
        spark.sessionState.newHadoopConf(), ledger, perPage = WodFeed.PostsPerPage, maxPages = pageNo)
    }
    if (report.pagesFetched == 0) (report, (0L, 0L))
    else (report, span("sink") {
      val posts = spark.read.schema(PageSchema).json(f"$staging/page-$pageNo%05d.jsonl")
        .select(col("id").as("post_id"), col("content.rendered").as("content_html"),
          col("slug"), col("title.rendered").as("title"), col("date").as("post_date"))
      val keyed = WodRealText.cleaned(posts).withColumn("key",
        sha2(concat_ws(":", lit("save_session"), col("post_id").cast("string"),
          col("session_idx").cast("string")), 256))
      IdempotentSink.writeKeyed(keyed, "key", "session_idx", new java.io.File(dir, "sink").getPath)
    })
  }

  def run(loop: Loop, seed: Long): Unit = {
    val spark = loop.spark
    val feed = new WodFeed(seed)
    val ledger = new IdempotencyLedger(new java.io.File(shared, "ledger").getPath,
      spark.sessionState.newHadoopConf())
    val sinkDir = new java.io.File(shared, "sink")
    val stateFile = new java.io.File(shared, "state.json")
    val (firstPage, before) =
      if (!stateFile.exists) (1, Seq.empty[Int])
      else {
        val st = json.readTree(stateFile)
        (st.get("next_page").asInt, st.get("committed").elements.asScala.map(_.asInt).toSeq)
      }
    val committed = mutable.ArrayBuffer(before: _*)
    val partOps = mutable.ArrayBuffer.empty[Op]
    var pageNo = firstPage
    while (loop.more) {
      (0 until WodFeed.PagesPerBlock).foreach { _ =>
        val id = loop.nextId
        val fresh = feed.fresh(pageNo)
        val again = feed.redelivered(pageNo)
        val bytesBefore = if (loop.traced) loop.check(dirBytes(sinkDir)) else 0L
        val (opSpan, result) = loop.withGroup(Layers.groupOf(id)) {
          loop.trace.span("page", loop.root) { sp =>
            try (sp, Right(ingestAndSink(spark, ledger, shared, feed, pageNo, Some((loop.trace, sp)))))
            catch { case NonFatal(e) => (sp, Left(e)) }
          }
        }
        val s = loop.trace.get(opSpan)
        val phase = loop.trace.children(opSpan).map(c => c.name -> (c.endMs - c.startMs)).toMap
        val block = (pageNo - 1) / WodFeed.PagesPerBlock
        val op = result match {
          case Left(e) =>
            System.err.println(s"graftbench: wod page $pageNo failed: $e")
            Op(id, "page", block, s.startMs, s.endMs, ok = false, correct = false, Map.empty)
          case Right((report, (written, skipped))) =>
            committed += pageNo
            val correct = report.pagesFetched == 1 && report.pagesSkipped == pageNo - 1 &&
              written == fresh.map(_.rows.size).sum && skipped == again.map(_.rows.size).sum
            if (!correct) System.err.println(
              s"graftbench: wod page $pageNo: report $report, written $written, skipped $skipped")
            val bytes = if (loop.traced) loop.check(dirBytes(sinkDir)) - bytesBefore else 0L
            Op(id, "page", block, s.startMs, s.endMs, ok = true, correct,
              Map("sources.ingest_ms" -> phase.getOrElse("ingest", 0.0),
                "sources.sink_ms" -> phase.getOrElse("sink", 0.0),
                "sources.pages_fetched" -> report.pagesFetched.toDouble,
                "sources.pages_skipped" -> report.pagesSkipped.toDouble,
                "sources.rows_written" -> written.toDouble,
                "sources.rows_skipped" -> skipped.toDouble,
                "sources.bytes_written" -> bytes.toDouble,
                "etl.records_out" -> (written + skipped).toDouble))
        }
        partOps += op
        loop.ops += op
        pageNo += 1
      }
    }
    val want = committed.toSeq.flatMap(p => feed.fresh(p).flatMap(_.rows))
    if (!loop.check(committedMatches(spark, sinkDir, want))) {
      System.err.println("graftbench: wod: committed rows differ from the feed")
      partOps.foreach(_.correct = false)
    }
    val st = json.createObjectNode()
    st.put("next_page", pageNo)
    val arr = st.putArray("committed")
    committed.foreach(p => arr.add(p))
    json.writeValue(stateFile, st)
  }

  /** The sink holds exactly `want`: same rows, each key once. */
  private def committedMatches(spark: SparkSession, sink: java.io.File, want: Seq[WodRow]): Boolean =
    if (!sink.exists) want.isEmpty
    else {
      val got = spark.read.parquet(sink.getPath).select(col("key"), col("post_id"),
          col("session_idx"), col("date"), col("session"), col("warm_up"), col("segment_a"),
          col("segment_b"), col("segment_c"), col("segment_d"), col("segment_e"))
        .collect().toSeq.map(r => WodRow(r.getString(0), r.getAs[Number](1).longValue,
          r.getAs[Number](2).intValue, r.getString(3),
          r.getString(4), r.getString(5), (6 to 10).map(r.getString)))
      got.size == want.size && got.map(_.key).distinct.size == got.size && got.toSet == want.toSet
    }

  private def dirBytes(d: java.io.File): Long =
    Option(d.listFiles).toSeq.flatten.map(f => if (f.isDirectory) dirBytes(f) else f.length).sum
}

object WodWorkload {
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
  private val PageSchema = new StructType()
    .add("id", LongType).add("date", StringType).add("slug", StringType)
    .add("title", new StructType().add("rendered", StringType))
    .add("content", new StructType().add("rendered", StringType))
}
