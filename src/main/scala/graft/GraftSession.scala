package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** Session wiring for the graft engine: custom function registration (SQL
  * + Column surfaces) and the recommended session configuration.
  */
object GraftSession {

  /** graft's SQL functions as (name, expression class, builder). Both
    * [[registerFunctions]] and [[GraftExtensions]] register exactly this
    * list.
    */
  private[graft] val sqlFunctions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("vec_dot", classOf[VecDot], e => VecDot(e(0), e(1))),
    ("hilbert_key", classOf[HilbertKey],
      e => HilbertKey(e(0), e(1), e(2).eval(null).asInstanceOf[Number].intValue())),
    ("token_count", classOf[TokenCount], e => TokenCount(e(0))),
    ("image_dims", classOf[ImageDims], e => ImageDims(e(0))),
    ("mp4_meta", classOf[Mp4Meta], e => Mp4Meta(e(0))),
    ("wav_meta", classOf[WavMeta], e => WavMeta(e(0))),
    ("wav_data_len", classOf[WavDataLen], e => WavDataLen(e(0))),
    ("jpeg_dqt", classOf[JpegDqt], e => JpegDqt(e(0))),
    ("exif_orient", classOf[ExifOrient], e => ExifOrient(e(0))),
    ("exif_datetime", classOf[ExifDateTime], e => ExifDateTime(e(0))),
    ("exif_gps_lat", classOf[ExifGps], e => ExifGps(e(0), lon = false)),
    ("exif_gps_lon", classOf[ExifGps], e => ExifGps(e(0), lon = true)),
    ("exif_thumb", classOf[ExifThumb], e => ExifThumb(e(0))),
    ("repetition_profile", classOf[RepetitionProfile], e => RepetitionProfile(e(0))),
    ("html_text", classOf[HtmlText], e => HtmlText(e(0))),
    ("html_links", classOf[HtmlLinks], e => HtmlLinks(e(0))),
  )

  /** Register graft's SQL functions on an existing session so SQL text
    * can call them (`SELECT vec_dot(a, b) ...`). Idempotent. Registers
    * functions only: the planner rules come with [[builder]].
    */
  def registerFunctions(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, _, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, build, "built-in")
    }

  /** Builder with the engine's recommended configuration; callers add
    * master/memory. `nanosAsLong` is set up front so parquet ns timestamps
    * read consistently across the whole session (see SCALE.md).
    */
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")

  /** Column-API surface for the custom expressions. */
  def vec_dot(a: Column, b: Column): Column = VecDot(a, b)
  def token_count(s: Column): Column = TokenCount(s)
}

/** `SparkSessionExtensions` hook — usable via
  * `spark.sql.extensions=graft.GraftExtensions` or
  * `SparkSession.builder().withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftSession.sqlFunctions.foreach { case (name, cls, build) =>
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
    e.injectPlannerStrategy(_ => new graft.plans.TopKPerKeyStrategy)
    e.injectOptimizerRule(_ => graft.plans.NativeTopKRule)
  }
}
