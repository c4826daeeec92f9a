package graft.etl

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

/** The per-post walk equals the window-plan formulation
  * ([[WodRealTextWindowOracle]]) row for row on generated posts drawn
  * from the marker alphabet: weekday and `Session` lines, `Suggested
  * Warm-Up`, `A.`–`F.`, repeated keys, posts with <2 markers, rest
  * days, tags (one spanning a newline), character references, blank
  * lines, and every date form — slug, title, post date, each valid,
  * absent, undated or invalid. The oracle runs with ANSI off, so its
  * NULL-on-malformed casts give the intended fall-through. */
class WodRealTextEqualitySpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("post_id", LongType),
    StructField("content_html", StringType),
    StructField("slug", StringType),
    StructField("title", StringType),
    StructField("post_date", StringType)))

  private val dayLine = Gen.oneOf("Monday (Session One)", "Tuesday", "wednesday (session two)",
    "<p><strong>Thursday: Rest Day</strong></p>", "Friday &#8211; Session Five", "SATURDAY",
    "Sunday")
  private val segLine = Gen.oneOf("A.", "B.", "C.", "D.", "E.", "F.", "a.", "B.\r", "Session",
    "Suggested Warm-Up", "<strong>A.</strong>", "session notes")
  private val textLine = Gen.oneOf("", "", "Back Squat x 5 reps @ 75%", "Rest&nbsp;90 seconds",
    "Clean &amp; Jerk", "Followed by&#8230;", "&amp;lt;b&amp;gt;", "G.", "A..", " A.",
    "don&#8217;t go over", "<br />", "Every 2 minutes<br\n/>for 10 minutes",
    "&mdash; &hellip; &#8220;q&#8221; &#8216;s&#8217; &ndash; &lt;x&gt; &#8212;")
  private val line = Gen.frequency(2 -> dayLine, 3 -> segLine, 4 -> textLine)

  private def orNull(g: Gen[String]): Gen[String] = Gen.frequency(1 -> Gen.const(null), 5 -> g)
  private val slug = orNull(Gen.oneOf("april-1-7-2024-x", "december-21-27-2020-5-day-program",
    "june-03-09-2024", "weekly-program", "5-day-weightlifting-program-1234",
    "april-99999999999-7-2024", "february-30-31-2024-x", "smarch-1-7-2024"))
  private val title = orNull(Gen.oneOf("May 6-12, 2024 Program", "May 6&#8211;12, 2024 Program",
    "June 3&ndash;9 2024", "Deload Week: 5-Day Weightlifting Program",
    "May 99999999999-12, 2024", "February 29-31, 2023", "february 29-31, 2024"))
  private val postDate = orNull(Gen.oneOf("2024-06-03T00:00:00", "2024-06-09", "2023-12-31T09:00:00",
    "not a date", "2024-02-30"))

  private val post: Gen[(String, String, String, String)] = for {
    n <- Gen.frequency(1 -> Gen.choose(0, 3), 6 -> Gen.choose(4, 30))
    lines <- Gen.listOfN(n, line)
    s <- slug; t <- title; d <- postDate
  } yield (lines.mkString("\n"), s, t, d)

  private def withAnsiOff[T](f: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def sorted(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("post_id", "session_idx").collect().toSeq.map(_.toSeq.map {
      case m: scala.collection.Map[_, _] => m.toMap
      case v => v
    })

  test("per-post walk == window-plan oracle, row for row, on 240 generated posts") {
    val batchGen = Gen.listOfN(40, post)
    var checked = 0
    val prop = Prop.forAllNoShrink(batchGen) { batch =>
      val posts = spark.createDataFrame(java.util.Arrays.asList(batch.zipWithIndex.map {
        case ((html, s, t, d), i) => Row(i.toLong, html, s, t, d)
      }: _*), schema)
      val (oRecs, oClean, oStrip) = withAnsiOff((
        sorted(WodRealTextWindowOracle.records(posts)),
        sorted(WodRealTextWindowOracle.cleaned(posts)),
        posts.select(WodRealTextWindowOracle.stripText(col("content_html"))).collect().toSeq))
      assert(WodRealText.records(posts).schema == WodRealTextWindowOracle.records(posts).schema)
      assert(WodRealText.cleaned(posts).schema == WodRealTextWindowOracle.cleaned(posts).schema)
      assert(posts.select(WodRealText.stripText(col("content_html"))).collect().toSeq == oStrip)
      assert(sorted(WodRealText.records(posts)) == oRecs)
      assert(sorted(WodRealText.cleaned(posts)) == oClean)
      checked += batch.size
      true
    }
    val result = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(6).withInitialSeed(Seed(20241017L)), prop)
    assert(result.passed, result.status.toString)
    assert(checked >= 200)
  }
}
