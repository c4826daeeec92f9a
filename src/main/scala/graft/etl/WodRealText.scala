package graft.etl

import java.time.LocalDate
import java.util.Locale
import java.util.regex.Pattern

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The reference ETL over REAL WordPress post text (as opposed to
  * WodEtl's synthetic marker-token corpus): HTML post → stripped
  * lines → weekday session groups → lettered segments → dated JSON
  * records → cleaned fixed-schema records.
  *
  * Faithful to the reference semantics (file:line into the reference):
  *  - strip: BeautifulSoup(html,'html.parser').get_text() —
  *    handler.py:167 strip_post_html. Tags contribute NOTHING (no
  *    space), character references decode, newlines in the source
  *    text are preserved (they are the only line structure).
  *  - day grouping: transforms.py:131 group_post_content_by_day —
  *    lines matching the weekday alternation (re.search, case-
  *    insensitive) open a group; content before the first marker is
  *    dropped; a post with <2 marker lines yields ZERO groups
  *    (pairwise-index walk, transforms.py:19-30,115-128).
  *  - segmentation: transforms.py:176 segment_days — the same walk
  *    per session with `(Session)|(Suggested Warm-Up)|^[A-F].$`;
  *    the first group's FIRST LINE becomes the session name and the
  *    rest of that group is DISCARDED (transforms.py:191-194);
  *    sessions with <2 segment markers become `session = 'rest day'`.
  *  - records: transforms.py:211 sessions_to_json_records_by_day —
  *    segment value = ' '.join of the group's tail, duplicate segment
  *    keys resolve LAST-wins (dict comprehension), session i (1-based)
  *    dated `anchor + i` where `anchor = start − isoweekday(start)`
  *    (the Sunday before the week) and `start` comes from the slug
  *    `month-d1-d2-yyyy` else the title `Month d1-d2, yyyy` else the
  *    post date (transforms.py:42,215-244). A source whose date is
  *    absent or invalid (feb-30, an int-overflowing day) falls through
  *    to the next, as the reference's try/except does.
  *  - clean: transforms.py:289 clean_sessions_df_records — rename
  *    segment keys to fixed columns, drop the `s`/`r` accident
  *    columns, null session → 'Rest Day', missing → ''.
  *
  * Scale shape: one narrow pass. Each post is walked on its own, in
  * line order, by a plain function over its strings — the reference's
  * own shape — inside a single `flatMap` over the posts, with the
  * regexes compiled once per JVM. There is no shuffle and no
  * per-post-key state, so the pass fans out over any number of
  * executors, and its plan is the same for every page: repeated pages
  * reuse the generated code instead of recompiling it.
  */
object WodRealText {

  private val tagRe = Pattern.compile("<[^>]*>")
  private val dayRe = Pattern.compile(
    "(?i)(Monday)|(Tuesday)|(Wednesday)|(Thursday)|(Friday)|(Saturday)|(Sunday)")
  private val segRe = Pattern.compile("(?i)(Session)|(Suggested Warm-Up)|^[A-F].$")
  private val slugRe = Pattern.compile("(\\w+)-(\\d+)-(\\d+)-(\\d{4})")
  private val titleRe = Pattern.compile("(\\w+)\\s+(\\d+)-(\\d+)[,\\s]\\s*(\\d{4})")
  private val titleDashRe = Pattern.compile("&#8211;|&ndash;")
  private val monthNames = Seq("january", "february", "march", "april",
    "may", "june", "july", "august", "september", "october", "november",
    "december")
  /** The character references WordPress's rendered content emits. */
  private val charRefs = Seq(
    "&#8211;" -> "–", "&ndash;" -> "–",
    "&#8212;" -> "—", "&mdash;" -> "—",
    "&#8216;" -> "‘", "&#8217;" -> "’",
    "&#8220;" -> "“", "&#8221;" -> "”",
    "&#8230;" -> "…", "&hellip;" -> "…",
    "&nbsp;" -> "\u00a0", "&lt;" -> "<", "&gt;" -> ">",
    "&amp;" -> "&") // last: "&amp;lt;" must yield "&lt;" not "<"

  /** get_text()-faithful strip: tags removed with NO separator, then
    * the character references decoded. Decode runs AFTER tag removal,
    * mirroring an HTML parser decoding text nodes only. Null stays
    * null. */
  def strip(html: String): String =
    if (html == null) null
    else charRefs.foldLeft(tagRe.matcher(html).replaceAll("")) {
      case (s, (ent, ch)) => s.replace(ent, ch)
    }

  private val stripUdf = udf((html: String) => strip(html))

  /** [[strip]] as a column expression. */
  def stripText(html: Column): Column = stripUdf(html)

  /** The reference's pairwise walk: every line matching `marker` opens
    * a group that runs to the next marker line (the last to the end);
    * lines before the first marker are dropped, and fewer than two
    * markers yield no groups at all. */
  private def groups(lines: IndexedSeq[String], marker: Pattern): IndexedSeq[IndexedSeq[String]] = {
    val starts = lines.indices.filter(i => marker.matcher(lines(i)).find())
    if (starts.size < 2) IndexedSeq.empty
    else starts.zip(starts.tail :+ lines.size).map { case (a, b) => lines.slice(a, b) }
  }

  /** The (month, d1, year) date of the first match of `re` in `text`;
    * None when absent, an unknown month, or no such day. */
  private def dateIn(text: String, re: Pattern): Option[LocalDate] =
    Option(text).map(re.matcher).filter(_.find()).flatMap { m =>
      val month = monthNames.indexOf(m.group(1).toLowerCase(Locale.ROOT)) + 1
      m.group(2).toIntOption.filter(_ => month > 0).flatMap { day =>
        val first = LocalDate.of(m.group(4).toInt, month, 1)
        if (day >= 1 && day <= first.lengthOfMonth) Some(first.plusDays(day - 1L)) else None
      }
    }

  /** Week start: slug, else title (en-dashes read as '-'), else the
    * post date as `to_date` parses it. */
  private def startDate(slug: String, title: String, postDate: String): Option[LocalDate] =
    dateIn(slug, slugRe)
      .orElse(dateIn(Option(title).map(titleDashRe.matcher(_).replaceAll("-")).orNull, titleRe))
      .orElse(Option(postDate).flatMap(d => DateTimeUtils.stringToDate(UTF8String.fromString(d)))
        .map(days => LocalDate.ofEpochDay(days.toLong)))

  /** One post's records: (post_id, session_idx, date, entries). */
  private def postRecords(post: Row): Iterator[Row] = {
    val text = strip(post.getString(1))
    val sessions = if (text == null) IndexedSeq.empty
      else groups(text.split("\n", -1).toIndexedSeq, dayRe)
    lazy val anchor = startDate(post.getString(2), post.getString(3), post.getString(4))
      .map(d => d.minusDays(d.getDayOfWeek.getValue.toLong))
    sessions.iterator.zipWithIndex.map { case (lines, i) =>
      val segs = groups(lines, segRe)
      val entries = mutable.LinkedHashMap.empty[String, String]
      if (segs.isEmpty) entries("session") = "rest day"
      else {
        entries("session") = segs.head.head
        // dict semantics: a repeated key keeps its LAST value and position
        segs.tail.foreach { g => entries.remove(g.head); entries(g.head) = g.tail.mkString(" ") }
      }
      Row(post.get(0), i + 1L, anchor.map(_.plusDays(i + 1L).toString).orNull, entries)
    }
  }

  /** One row per session record: (post_id, session_idx, date, entries)
    * where entries is the reference record's key→value map —
    * 'session' plus one entry per segment, duplicate keys last-wins.
    * Rest-day sessions (<2 segment markers) carry
    * {'session': 'rest day'}. Input schema:
    * (post_id, content_html, slug, title, post_date). */
  def records(posts: DataFrame): DataFrame = {
    val in = posts.select(col("post_id") +:
      Seq("content_html", "slug", "title", "post_date").map(c => col(c).cast("string").as(c)): _*)
    val schema = StructType(Seq(in.schema("post_id"),
      StructField("session_idx", LongType),
      StructField("date", StringType),
      StructField("entries", MapType(StringType, StringType), nullable = false)))
    in.flatMap(postRecords)(Encoders.row(schema))
  }

  /** clean_sessions_df_records: fixed schema, renamed segment columns,
    * `s`/`r` dropped, null session → 'Rest Day', missing → ''. */
  def cleaned(posts: DataFrame): DataFrame = clean(records(posts))

  private[etl] def clean(records: DataFrame): DataFrame = {
    val e = col("entries")
    def seg(key: String): Column = coalesce(element_at(e, key), lit(""))
    records.select(
      col("post_id"), col("session_idx"), col("date"),
      coalesce(element_at(e, "session"), lit("Rest Day")).as("session"),
      seg("Suggested Warm-Up").as("warm_up"),
      seg("A.").as("segment_a"), seg("B.").as("segment_b"),
      seg("C.").as("segment_c"), seg("D.").as("segment_d"),
      seg("E.").as("segment_e"))
  }
}
