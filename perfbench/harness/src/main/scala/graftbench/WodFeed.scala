package graftbench

import java.time.LocalDate

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper

/** One cleaned session record, as `WodRealText.cleaned` should emit it,
  * plus the sha256 idempotency key the benchmark's sink is keyed by. */
final case class WodRow(key: String, postId: Long, sessionIdx: Int, date: String,
                        session: String, warmUp: String, segments: Seq[String])

/** A WordPress post (REST JSON) and the records it must clean into. */
final case class WodPost(id: Long, json: String, rows: Seq[WodRow])

/** Seeded WordPress feed of weightlifting programs, built from the day
  * and segment structure of the captured December post the real-text
  * ETL is tested against (src/test/resources/golden_december.json):
  *
  *  - an intro paragraph before the first weekday line (dropped);
  *  - 5 to 7 weekday lines, each opening a session "Monday (Session
  *    One)"; a weekday with no segment markers is a rest day;
  *  - an optional note under the weekday line (discarded by the ETL),
  *    an optional "Suggested Warm-Up", then segments A. to C./D./E.;
  *  - character references (&#8211; &#8217; &#8230; &amp; &nbsp;),
  *    `<p>`, `<strong>` and `<br />` markup;
  *  - every post has a slug and a title, as WordPress posts do. The
  *    week's start is in the slug (`december-21-27-2020-...`), else in
  *    the title (`December 21&#8211;27, 2020 ...`), else only in the
  *    post date.
  *
  * The feed is a pure function of the seed and the page number, so a
  * later process can continue it. Pages come in blocks of
  * `PagesPerBlock`; exactly one post per block, on one of the block's
  * pages after its first, is dated by its title or by its post date
  * only, and every other post by its slug. Every page after the first
  * also re-delivers `Redelivered` posts of earlier pages that hold no
  * such post, so a keyed sink must skip their rows.
  *
  * Everything comes from the seed; nothing is read from disk or network. */
final class WodFeed(seed: Long) {
  import WodFeed._

  private val json = new ObjectMapper()

  private def rng(p: Int, i: Int): Random = new Random(seed * 0x9E3779B97F4A7C15L + p * 1000003L + i)

  /** (page, index, date form) of the one post of `block` not dated by its slug. */
  private def odd(block: Int): (Int, Int, Form) = {
    val r = rng(-1 - block, 0)
    val page = block * PagesPerBlock + 2 + r.nextInt(PagesPerBlock - 1)
    (page, r.nextInt(PostsPerPage - Redelivered), if (r.nextBoolean()) TitleDated else PostDateOnly)
  }

  private def clean(p: Int): Boolean = odd((p - 1) / PagesPerBlock)._1 != p

  private def freshCount(p: Int): Int = if (p == 1) PostsPerPage else PostsPerPage - Redelivered

  /** Posts first delivered on page `p` (1-based). */
  def fresh(p: Int): Seq[WodPost] = {
    val (op, oi, form) = odd((p - 1) / PagesPerBlock)
    (0 until freshCount(p)).map(i => post(p, i, if (p == op && i == oi) form else SlugDated))
  }

  /** Posts of earlier clean pages that page `p` delivers again. */
  def redelivered(p: Int): Seq[WodPost] =
    if (p == 1) Nil
    else {
      val r = rng(p, -1)
      val earlier = (1 until p).filter(clean)
      val picked = mutable.LinkedHashSet.empty[(Int, Int)]
      while (picked.size < Redelivered) {
        val q = earlier(r.nextInt(earlier.size))
        picked += q -> r.nextInt(freshCount(q))
      }
      picked.toSeq.map { case (q, i) => post(q, i, SlugDated) }
    }

  /** Page `p` as the server sends it: `PostsPerPage` posts in seeded order. */
  def page(p: Int): Seq[WodPost] = rng(p, -2).shuffle(fresh(p) ++ redelivered(p))

  /** (decoded text, HTML) of one content line. */
  private def line(rnd: Random): (String, String) = {
    val mv = Movements(rnd.nextInt(Movements.size))
    val (r, p) = (1 + rnd.nextInt(8), 55 + 5 * rnd.nextInt(8))
    rnd.nextInt(7) match {
      case 0 =>
        val (m, s) = (1 + rnd.nextInt(3), 3 + rnd.nextInt(6))
        plain(s"Every $m minutes, for ${m * s} minutes ($s sets):")
      case 1 => plain(s"$mv x $r reps @ $p% of 1-RM $mv")
      case 2 => plain(s"$mv x $r reps @ $p–${p + 5}% of 1-RM $mv")
      case 3 => plain("Build over the course of the sets.")
      case 4 => plain("Followed by…")
      case 5 => plain("*Today is meant to be a lighter day, don’t go over the percentages listed")
      case _ =>
        val s = 30 * (1 + rnd.nextInt(4))
        (s"Rest\u00a0$s seconds", s"Rest&nbsp;$s seconds")
    }
  }

  /** Post `i` first delivered on page `p`; its week, layout and content
    * come from the seed, its date form from the block's draw. */
  private def post(p: Int, i: Int, form: Form): WodPost = {
    val rnd = rng(p, i)
    val id = 1000L + p.toLong * PostsPerPage + i
    val monday = FirstMonday.plusWeeks(rnd.nextInt(300))
    val nDays = 5 + rnd.nextInt(3)
    val last = monday.plusDays(nDays - 1L)
    val month = monday.getMonth.toString.toLowerCase
    val program = s"$nDays-day-weightlifting-program"
    val slug = if (form == SlugDated)
      s"$month-${monday.getDayOfMonth}-${last.getDayOfMonth}-${monday.getYear}-$program"
    else s"$program-$id"
    val title = if (form == PostDateOnly) s"Deload Week: $nDays-Day Weightlifting Program"
    else s"${month.capitalize} ${monday.getDayOfMonth}&#8211;${last.getDayOfMonth}, ${monday.getYear} $nDays-Day Weightlifting Program"
    val published = if (form == PostDateOnly) monday.plusDays(rnd.nextInt(7).toLong) else monday.minusDays(2)
    val start = if (form == PostDateOnly) published else monday
    // WodRealText anchors session i at (start - isoweekday(start)) + i
    val anchor = start.minusDays(start.getDayOfWeek.getValue.toLong)

    val html = new StringBuilder
    html ++= "<p>Here is this week&#8217;s program. Questions? Reply below &amp; we&#8217;ll help.</p>"
    var sessionNo = 0
    val rows = (1 to nDays).map { d =>
      val day = Days(d - 1)
      val date = anchor.plusDays(d.toLong).toString
      val key = WodFeed.key(id, d)
      if (d > 1 && rnd.nextInt(5) == 0) {
        html ++= s"\n<p><strong>$day: Rest Day</strong></p>\n<p>Active recovery &#8211; 20 minute walk<br />\nMobility flow x 10 minutes</p>"
        WodRow(key, id, d, date, "rest day", "", Seq.fill(5)(""))
      } else {
        val name = s"$day (Session ${Numbers(sessionNo)})"
        sessionNo += 1
        html ++= s"\n<p><strong>$name</strong></p>"
        if (rnd.nextBoolean()) html ++= "\n<p>Focus: positional strength</p>"
        def emit(marker: String, body: Seq[(String, String)]): String = {
          html ++= s"\n<p><strong>$marker</strong></p>\n<p>" + body.map(_._2).mkString("<br />\n") + "</p>"
          body.map(_._1).mkString(" ")
        }
        def block(): Seq[(String, String)] = Seq.fill(1 + rnd.nextInt(3))(line(rnd))
        val warm = if (rnd.nextInt(5) == 0) "" else emit("Suggested Warm-Up", block())
        val nSeg = 3 + rnd.nextInt(3)
        val segs = (0 until 5).map(k => if (k < nSeg) emit(s"${"ABCDE" (k)}.", block()) else "")
        WodRow(key, id, d, date, name, warm, segs)
      }
    }
    val doc = json.createObjectNode()
    doc.put("id", id)
    doc.put("date", s"${published}T09:00:00")
    doc.put("slug", slug)
    doc.putObject("title").put("rendered", title)
    doc.putObject("content").put("rendered", html.toString)
    WodPost(id, json.writeValueAsString(doc), rows)
  }
}

object WodFeed {
  /** `PagedIngest.ingest`'s default page size. */
  val PostsPerPage = 100
  /** Assumed: 5 of a page's 100 posts are re-deliveries. */
  val Redelivered = 5
  /** Assumed: one post in every 400 is not dated by its slug. */
  val PagesPerBlock = 4

  private sealed trait Form
  private case object SlugDated extends Form
  private case object TitleDated extends Form
  private case object PostDateOnly extends Form

  private val FirstMonday = LocalDate.of(2019, 1, 7)
  private val Days = Seq("Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday")
  private val Numbers = Seq("One", "Two", "Three", "Four", "Five", "Six", "Seven")
  private val Movements = Seq("Snatch", "Power Snatch", "Clean & Jerk", "Power Clean",
    "Back Squat", "Front Squat", "Deadlift", "Push Press", "Overhead Squat",
    "Snatch Balance", "Split Jerk", "Hang Clean")

  private def plain(text: String): (String, String) =
    (text, text.replace("&", "&amp;").replace("–", "&#8211;")
      .replace("’", "&#8217;").replace("…", "&#8230;"))

  /** sha256("op:identifier"), the reference's idempotency-key form. */
  def key(postId: Long, sessionIdx: Int): String = Canon.sha256(s"save_session:$postId:$sessionIdx")
}
