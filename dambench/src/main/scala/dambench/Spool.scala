package dambench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.time.ZoneOffset
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamReader

import graft.sources.Tables

/** Agent spool files: JSON lines of the general_log wire rows
  * (event_time, user_host, argument), cut in event-time order from the
  * program's feed synthesis (`Tables.generalLogFeedKeyed`). Every file
  * of one cut holds the same number of events. The files are written
  * by the benchmark during set-up; while a stream runs they are only
  * renamed into its watched directory.
  */
object Spool {

  final case class Event(eventTime: java.sql.Timestamp, userHost: String, argument: String) {
    /** This event in copy `k` of the feed, shifted k × 31 days later. */
    def shifted(k: Int): Event = copy(eventTime = java.sql.Timestamp.from(
      eventTime.toInstant.plus(java.time.Duration.ofDays(k.toLong * ShiftDays))))
  }

  /** Days between the time-shifted copies of the feed: more than the
    * 30-day span of one copy, so the copies stay in event-time order. */
  private val ShiftDays = 31

  private val TimestampFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
  private val fmt = DateTimeFormatter.ofPattern(TimestampFormat).withZone(ZoneOffset.UTC)

  /** Readers for spool files, batch and streaming. */
  def read(spark: SparkSession): DataFrameReader =
    spark.read.schema(Tables.GeneralLogSchema).option("timestampFormat", TimestampFormat)
  def readStream(spark: SparkSession): DataStreamReader =
    spark.readStream.schema(Tables.GeneralLogSchema).option("timestampFormat", TimestampFormat)

  /** The first `n` events of the feed, in event-time order. */
  def events(spark: SparkSession, dataDir: String, n: Int): Seq[Event] =
    Tables.generalLogFeedKeyed(spark, dataDir)
      .orderBy(col("event_time"), col("event_id")).limit(n)
      .select(col("event_time"), col("user_host"), col("argument"))
      .collect().toSeq
      .map(r => Event(r.getTimestamp(0), r.getString(1), r.getString(2)))

  private def json(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Write `events` as files of exactly `perFile` events each (the
    * remainder is dropped), named `<prefix>-NNNNNN.json` in `dir`.
    * Returns the files in feed order. */
  def write(events: Seq[Event], perFile: Int, dir: String, prefix: String): Seq[File] = {
    new File(dir).mkdirs()
    val t0 = System.currentTimeMillis()
    events.grouped(perFile).filter(_.size == perFile).zipWithIndex.map { case (chunk, k) =>
      val f = new File(dir, f"$prefix-$k%06d.json")
      val text = chunk.map { e =>
        s"""{"event_time":"${fmt.format(e.eventTime.toInstant)}",""" +
          s""""user_host":"${json(e.userHost)}","argument":"${json(e.argument)}"}"""
      }.mkString("", "\n", "\n")
      Files.write(f.toPath, text.getBytes(UTF_8))
      // the file source orders new files by modification time
      f.setLastModified(t0 + k)
      f
    }.toSeq
  }

  /** Publish a pre-built file into a watched directory, atomically. */
  def publish(f: File, dir: File): File = {
    val dest = new File(dir, f.getName)
    Files.move(f.toPath, dest.toPath, StandardCopyOption.ATOMIC_MOVE)
    dest
  }
}
