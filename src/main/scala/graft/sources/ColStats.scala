package graft.sources

import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.{DateTimeFormatter, DateTimeParseException}
import java.time.temporal.ChronoUnit

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{count, date_format, lit, max, min, unix_micros}
import org.apache.spark.sql.types._

import ManifestTable.{colExact, ColStat, Entry}

/** Commit-level column stats: what a manifest records about a column,
  * and what a recorded [min, max] rules out. Every pruning path decides
  * here — [[ManifestTable.readWhere]] (and `readRange`), the SQL scan,
  * DELETE, UPDATE, [[ManifestTable.mergeCommit]] and the assignment-form
  * SQL MERGE — so the write side and every read side share one
  * type→tag map, one canonical form per tag and one comparator per
  * question (overlap, all-within).
  *
  * Tags and their canonical forms (the manifest format):
  *   - `num`: byte…double, a decimal string, compared as BigDecimal;
  *   - `str`: binary-collated strings raw and dates as yyyy-MM-dd,
  *     compared in UTF-8 binary order, the order Spark's min/max use;
  *   - `ts`: an instant, rendered in UTC by [[tsCanon]] — the session
  *     zone never enters, so stats and bounds mean one thing to every
  *     session;
  *   - `tsn`: a wall time (TIMESTAMP_NTZ), rendered in the same
  *     fixed-width layout.
  * The ts and tsn forms are fixed-width ASCII, so byte order is
  * chronological. Absent stats never prune.
  */
private[graft] object ColStats {

  /** The stats tag of a column type; None = never carries stats. Only
    * UTF8_BINARY strings are tagged: a collated column's equality and
    * order are not the byte order the comparators use.
    */
  def tagOf(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType => Some("num")
    case s: StringType if s.collationId == StringType.collationId => Some("str")
    case DateType => Some("str")
    // timestamps go through epoch micros, NOT a string cast: the string
    // form depends on spark.sql.session.timeZone
    case TimestampType => Some("ts")
    // NTZ timestamps are pure wall time: date_format renders them
    // session-independently. Going through micros would interpret the
    // wall time in the SESSION zone
    case TimestampNTZType => Some("tsn")
    case _ => None
  }

  def tagOf(schema: StructType, column: String): Option[String] =
    schema.find(_.name == column).flatMap(f => tagOf(f.dataType))

  /** Column → tag for the columns of `cols` that can carry stats. */
  def tags(schema: StructType, cols: Seq[String]): Map[String, String] = {
    // column names are manifest-format separators' namespace
    cols.foreach(c => require(!c.exists(":;\t\n".contains(_)),
      s"manifest-table: stats column name '$c' may not contain : ; tab or newline"))
    cols.flatMap(c => tagOf(schema, c).map(c -> _)).toMap
  }

  /** The min/max/null-count aggregates of `tags`' columns, in canonical
    * form, named for [[decode]].
    */
  def aggs(tags: Map[String, String]): Seq[Column] =
    tags.toSeq.sortBy(_._1).flatMap { case (c, tag) =>
      val e = tag match {
        case "ts" => unix_micros(colExact(c))
        case "tsn" => date_format(colExact(c), TsPattern) // already canonical
        case _ => colExact(c)
      }
      Seq(min(e).cast("string").as(s"mn_$c"), max(e).cast("string").as(s"mx_$c"),
        // null count rides the same single agg pass: count(*) - count(c)
        (count(lit(1)) - count(colExact(c))).as(s"nc_$c"))
    }

  /** Decode one row of [[aggs]] into ColStats, dropping anything
    * unrecordable — null bounds, non-finite numerics (a NaN bound would
    * make every comparison a parse failure). Unrecorded = unprunable.
    */
  def decode(tags: Map[String, String], row: Row): Map[String, ColStat] = {
    def finite(tag: String, s: String) = tag != "num" || Try(BigDecimal(s)).isSuccess
    tags.flatMap { case (c, tag) =>
      val (mn, mx) = (row.getAs[String](s"mn_$c"), row.getAs[String](s"mx_$c"))
      val nulls = Option(row.getAs[Long](s"nc_$c"))
      if (mn == null || mx == null || !finite(tag, mn) || !finite(tag, mx)) None
      else if (tag == "ts") Some(c -> ColStat(tag, tsCanon(mn.toLong), tsCanon(mx.toLong), nulls))
      else Some(c -> ColStat(tag, mn, mx, nulls))
    }
  }

  val TsPattern = "yyyy-MM-dd HH:mm:ss.SSSSSS"
  private val TsFormat = DateTimeFormatter.ofPattern(TsPattern).withZone(ZoneOffset.UTC)

  /** Canonical UTC rendering of an epoch-micros instant — fixed width, so
    * lexical order IS chronological order (years 0001–9999).
    */
  def tsCanon(micros: Long): String = TsFormat.format(Instant.EPOCH.plus(micros, ChronoUnit.MICROS))

  /** A caller's bound in `tag`'s canonical form — strict: a bound that
    * does not parse is a caller bug and throws, rather than degrading into
    * a silent full scan. Timestamp bounds are "yyyy-MM-dd[ HH:mm:ss[.f]]",
    * read as a UTC instant (ts) or as wall time (tsn) — never in the
    * session zone.
    */
  def bound(tag: String, s: String): String = tag match {
    case "num" =>
      try BigDecimal(s).toString
      catch { case e: NumberFormatException => throw new IllegalArgumentException(
        s"manifest-table: bound '$s' is not a number (numeric stats)", e) }
    case "ts" | "tsn" =>
      val t = s.trim
      val ldt =
        try {
          if (t.length == 10) LocalDate.parse(t).atStartOfDay()
          else LocalDateTime.parse(t.replace(' ', 'T'))
        } catch {
          case e: DateTimeParseException => throw new IllegalArgumentException(
            s"manifest-table: timestamp bound '$s' is not yyyy-MM-dd[ HH:mm:ss[.f]]", e)
        }
      tsCanon(ldt.toInstant(ZoneOffset.UTC).getEpochSecond * 1000000L + ldt.getNano / 1000L)
    case _ => s
  }

  /** A filter literal in `tag`'s canonical form — tolerant: None when it
    * cannot be rendered (null, an unexpected runtime type), and a bound
    * that is None keeps the dir.
    */
  def literal(tag: String, v: Any): Option[String] = v match {
    case null => None
    case _ => tag match {
      case "num" => Try(BigDecimal(v.toString).toString).toOption
      case "ts" => v match {
        case t: java.sql.Timestamp => // floorDiv: pre-epoch instants too
          Some(tsCanon(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L))
        case i: Instant => Some(tsCanon(i.getEpochSecond * 1000000L + i.getNano / 1000L))
        // a bare long against a TimestampType column can only mean
        // Catalyst's internal epoch micros (a library caller building raw
        // Filters; Spark's own translation delivers Timestamp/Instant)
        case l: java.lang.Long => Some(tsCanon(l))
        case _ => None
      }
      case "tsn" => v match { // pure wall time, fixed-width render
        case ldt: LocalDateTime => Some(TsFormat.format(ldt))
        case l: java.lang.Long => Some(tsCanon(l)) // internal micros = wall time as UTC
        // NO java.sql.Timestamp branch: an instant rendered as wall time
        // needs a zone nobody specified
        case _ => None
      }
      case _ => v match { // "str": strings raw; dates as yyyy-MM-dd
        case s: String => Some(s)
        case d: java.sql.Date => Some(d.toString)
        case d: LocalDate => Some(d.toString)
        case _ => None
      }
    }
  }

  /** THE overlap test: can a recorded [min, max] hold a value in the
    * canonical [lo, hi] (None = unbounded side)? Decimal for num, UTF-8
    * binary for the rest. An unparseable recorded bound keeps the dir.
    */
  def overlap(s: ColStat, lo: Option[String], hi: Option[String]): Boolean =
    s.tag match {
      case "num" => Try {
        lo.forall(l => BigDecimal(s.max) >= BigDecimal(l)) &&
          hi.forall(h => BigDecimal(s.min) <= BigDecimal(h))
      }.getOrElse(true)
      case _ => lo.forall(l => utf8Leq(l, s.max)) && hi.forall(h => utf8Leq(s.min, h))
    }

  /** THE all-within test: does the recorded [min, max] lie inside the
    * canonical bounds, honoring strictness? False on any parse surprise —
    * an unproven delete must refuse, never drop.
    */
  def allIn(s: ColStat, lo: Option[String], loStrict: Boolean,
      hi: Option[String], hiStrict: Boolean): Boolean =
    s.tag match {
      case "num" => Try {
        lo.forall(l => if (loStrict) BigDecimal(s.min) > BigDecimal(l)
          else BigDecimal(s.min) >= BigDecimal(l)) &&
        hi.forall(h => if (hiStrict) BigDecimal(s.max) < BigDecimal(h)
          else BigDecimal(s.max) <= BigDecimal(h))
      }.getOrElse(false)
      case _ =>
        lo.forall(l => { val c = utf8Cmp(s.min, l); if (loStrict) c > 0 else c >= 0 }) &&
        hi.forall(h => { val c = utf8Cmp(s.max, h); if (hiStrict) c < 0 else c <= 0 })
    }

  /** UTF-8 binary `a <= b` — the order the recorded stats use. Spark's
    * string min/max compare UTF8String bytes unsigned (code-point order);
    * Scala's `<=` compares UTF-16 code units, and the two DISAGREE on
    * strings mixing BMP chars ≥ U+E000 with supplementary chars
    * (surrogates sort below 0xE000 in UTF-16 but encode as higher UTF-8
    * bytes) — e.g. real text with emoji.
    */
  def utf8Leq(a: String, b: String): Boolean = utf8Cmp(a, b) <= 0

  def utf8Cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))

  /** Can commit `e` hold a row in every caller range (column, lo, hi)?
    * The bounds are canonicalized strictly, in the tag the commit
    * recorded, and only when it recorded stats on the column.
    */
  def inRanges(ranges: Seq[(String, String, String)])(e: Entry): Boolean =
    ranges.forall { case (c, lo, hi) =>
      e.stats.get(c).forall(s => overlap(s, Some(bound(s.tag, lo)), Some(bound(s.tag, hi))))
    }

  /** Run `write` over `df` with the stats of `tags`' columns observed on
    * it (no added job), and return them — empty when no metrics came
    * back (a write that ran no task), which never prunes.
    */
  def written(df: DataFrame, tags: Map[String, String])(write: DataFrame => Unit): Map[String, ColStat] =
    if (tags.isEmpty) { write(df); Map.empty }
    else observed(df, aggs(tags))(write).fold(Map.empty[String, ColStat])(decode(tags, _))

  /** The key envelope of `df` on `tags`' columns: ONE aggregate action
    * computing `extra` (read back by position from the returned row) and
    * the keys' stats in canonical form — none when there is nothing to
    * aggregate. Observed on a discarding write: a global aggregate would
    * add a single-partition shuffle (one more job) for the same answer.
    */
  def envelope(df: DataFrame, tags: Map[String, String],
      extra: Seq[Column] = Nil): (Row, Map[String, ColStat]) = {
    val all = extra ++ aggs(tags)
    if (all.isEmpty) return (Row.empty, Map.empty)
    val row = observed(df, all)(_.write.format("noop").mode("overwrite").save())
      .getOrElse(df.agg(all.head, all.tail: _*).head())
    (row, decode(tags, row))
  }

  /** Can a commit with `stats` hold a row whose keys lie in the envelope
    * `env`? `keys` pairs each commit column with its envelope column. A
    * key without stats on either side, or whose tags differ, cannot prove
    * the commit disjoint.
    */
  def mayHold(stats: Map[String, ColStat], env: Map[String, ColStat],
      keys: Seq[(String, String)]): Boolean =
    keys.forall { case (c, k) =>
      (stats.get(c), env.get(k)) match {
        case (Some(s), Some(b)) if s.tag == b.tag => overlap(s, Some(b.min), Some(b.max))
        case _ => true
      }
    }

  /** Run `action` over `df` with `aggs` observed on it and return the
    * observed row — None when no metrics came back, which an action that
    * ran no task can leave, or none came within the wait. The metrics
    * complete on the listener bus once the action's query ends.
    */
  private def observed(df: DataFrame, aggs: Seq[Column])(action: DataFrame => Unit): Option[Row] = {
    val obs = Observation()
    action(df.observe(obs, aggs.head, aggs.tail: _*))
    Try(Await.result(obs.future, ObservedWait)).toOption.filter(_.length > 0)
  }

  private val ObservedWait = 5.minutes
}
