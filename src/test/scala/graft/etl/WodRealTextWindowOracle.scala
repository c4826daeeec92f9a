package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The window-plan formulation of [[WodRealText]], kept as the
  * equality oracle for the per-post walk: strip as a chain of
  * `regexp_replace`s, lines via `posexplode`, then day groups, segment
  * groups and last-wins entries as three levels of windowed shuffles on
  * (post_id[, session]).
  *
  * Its date fall-through relies on NULL-on-malformed casts, so it states
  * the intended semantics only under `spark.sql.ansi.enabled=false`;
  * under ANSI an undated slug throws CAST_INVALID_INPUT. */
object WodRealTextWindowOracle {

  private val dayRegex =
    "(?i)(Monday)|(Tuesday)|(Wednesday)|(Thursday)|(Friday)|(Saturday)|(Sunday)"
  private val segRegex = "(?i)(Session)|(Suggested Warm-Up)|^[A-F].$"
  private val monthNames = Seq("january", "february", "march", "april",
    "may", "june", "july", "august", "september", "october", "november",
    "december")

  def stripText(html: Column): Column = {
    val noTags = regexp_replace(html, "<[^>]*>", "")
    Seq(
      "&#8211;" -> "–", "&ndash;" -> "–",
      "&#8212;" -> "—", "&mdash;" -> "—",
      "&#8216;" -> "‘", "&#8217;" -> "’",
      "&#8220;" -> "“", "&#8221;" -> "”",
      "&#8230;" -> "…", "&hellip;" -> "…",
      "&nbsp;" -> "\u00a0", "&lt;" -> "<", "&gt;" -> ">",
      "&amp;" -> "&"
    ).foldLeft(noTags) { case (c, (ent, ch)) =>
      regexp_replace(c, java.util.regex.Pattern.quote(ent), ch)
    }
  }

  private def sundayBefore(d: Column): Column =
    date_sub(d, ((dayofweek(d) + lit(5)) % 7) + 1)

  private def startDate(slug: Column, title: Column, postDate: Column): Column = {
    def monthNum(name: Column): Column =
      monthNames.zipWithIndex.foldLeft(lit(null).cast("int")) {
        case (acc, (n, i)) => when(lower(name) === n, lit(i + 1)).otherwise(acc)
      }
    def fromPat(text: Column, pat: String): Column = {
      val m = monthNum(regexp_extract(text, pat, 1))
      val day = regexp_extract(text, pat, 2).cast("int")
      val firstOfMonth = when(regexp_extract(text, pat, 4) =!= "" && m.isNotNull,
        make_date(regexp_extract(text, pat, 4).cast("int"), m, lit(1)))
      when(day.between(1, dayofmonth(last_day(firstOfMonth))),
        date_add(firstOfMonth, day - 1))
    }
    val titleClean = regexp_replace(title, "&#8211;|&ndash;", "-")
    coalesce(
      fromPat(slug, "(\\w+)-(\\d+)-(\\d+)-(\\d{4})"),
      fromPat(titleClean, "(\\w+)\\s+(\\d+)-(\\d+)[,\\s]\\s*(\\d{4})"),
      to_date(postDate))
  }

  private def lines(posts: DataFrame): DataFrame =
    posts.select(col("post_id"), col("slug"), col("title"), col("post_date"),
        posexplode(split(stripText(col("content_html")), "\n")).as(Seq("pos0", "line")))
      .withColumn("pos", (col("pos0") + 1).cast("int"))
      .drop("pos0")

  private def segments(posts: DataFrame): DataFrame = {
    val byPost = Window.partitionBy("post_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byPostAll = Window.partitionBy("post_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val isDay = when(col("line").rlike(dayRegex), 1).otherwise(0)
    val sess = lines(posts)
      .withColumn("session_id", sum(isDay).over(byPost))
      .withColumn("n_day_markers", sum(isDay).over(byPostAll))
      .filter(col("session_id") >= 1 && col("n_day_markers") >= 2)
      .drop("n_day_markers")
    val bySess = Window.partitionBy("post_id", "session_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bySessAll = Window.partitionBy("post_id", "session_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val isSeg = when(col("line").rlike(segRegex), 1).otherwise(0)
    val segStartW = Window.partitionBy("post_id", "session_id", "seg_id")
    sess
      .withColumn("seg_id", sum(isSeg).over(bySess))
      .withColumn("n_seg_markers", sum(isSeg).over(bySessAll))
      .filter(col("seg_id") >= 1 && col("n_seg_markers") >= 2)
      .drop("n_seg_markers")
      .withColumn("seg_start", min("pos").over(segStartW))
      .groupBy("post_id", "session_id", "seg_id")
      .agg(
        min_by(col("line"), col("pos")).as("seg_key"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(when(col("pos") > col("seg_start"),
              struct(col("pos").as("p"), col("line").as("t"))))),
            x => x.getField("t"))).as("seg_val"))
  }

  def records(posts: DataFrame): DataFrame = {
    val segs = segments(posts)
    val byPost = Window.partitionBy("post_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byPostAll = Window.partitionBy("post_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val isDay = when(col("line").rlike(dayRegex), 1).otherwise(0)
    val sessions = lines(posts)
      .withColumn("session_id", sum(isDay).over(byPost))
      .withColumn("n_day_markers", sum(isDay).over(byPostAll))
      .filter(col("session_id") >= 1 && col("n_day_markers") >= 2)
      .groupBy("post_id", "session_id")
      .agg(first(col("slug")).as("slug"), first(col("title")).as("title"),
        first(col("post_date")).as("post_date"))
      .withColumn("date",
        date_format(
          date_add(sundayBefore(startDate(col("slug"), col("title"),
            col("post_date"))), col("session_id").cast("int")),
          "yyyy-MM-dd"))
    val entries = segs
      .select(col("post_id"), col("session_id"),
        when(col("seg_id") === 1, lit("session")).otherwise(col("seg_key")).as("k"),
        when(col("seg_id") === 1, col("seg_key")).otherwise(col("seg_val")).as("v"),
        col("seg_id"))
      .groupBy("post_id", "session_id", "k")
      .agg(max_by(col("v"), col("seg_id")).as("v"), max("seg_id").as("ord"))
      .groupBy("post_id", "session_id")
      .agg(map_from_entries(
        transform(
          array_sort(collect_list(struct(col("ord").as("o"),
            struct(col("k"), col("v")).as("kv")))),
          x => x.getField("kv"))).as("entries"))
    sessions.join(entries, Seq("post_id", "session_id"), "left")
      .select(col("post_id"), col("session_id").as("session_idx"), col("date"),
        coalesce(col("entries"),
          map(lit("session"), lit("rest day"))).as("entries"))
  }

  def cleaned(posts: DataFrame): DataFrame = WodRealText.clean(records(posts))
}
