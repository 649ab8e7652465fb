package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The checkpointed file-source drains end to end on a tiny feed: the
  * windowed drain's emitted set, its stop/restart contract, and the
  * re-runnability of a fresh drain on the same sink. */
class StreamIngestSpec extends SparkSpec {

  private val hour = 3600L
  private val base = 472222L * hour // an hour boundary, so windows align

  // 8 event-time hours, 5 events each at uneven offsets; decimal-exact
  // values so the streaming and batch sums agree bit for bit
  private def events: DataFrame = {
    import spark.implicits._
    (for (h <- 0 until 8; j <- 0 until 5)
      yield (h * 10L + j, j.toLong % 3, base + h * hour + j * 613L, h + j * 0.25))
      .toDF("event_id", "user_id", "sec", "value")
      .select(col("event_id"), col("user_id"),
        timestamp_seconds(col("sec")).as("ts"), col("value"))
  }

  private def scratch(name: String): String =
    java.nio.file.Files.createTempDirectory(s"stream-ingest-$name").toString

  private def rows(df: DataFrame): Seq[Row] =
    df.select("win_start", "n", "dec_sum").orderBy("win_start").collect().toSeq

  /** The batch truth: every 1 h window whose end is at or behind the
    * final watermark (max event time − 1 h), i.e. the closed windows. */
  private def closedWindows(ev: DataFrame): Seq[Row] = {
    val maxSec = ev.agg(max(unix_timestamp(col("ts")))).head().getLong(0)
    ev.groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(38,12)")).as("dec_sum"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("n"), col("dec_sum"))
      .where(col("win_start") + hour <= maxSec - hour)
      .select("win_start", "n", "dec_sum").orderBy("win_start")
      .collect().toSeq
  }

  test("a fresh windowed drain over time slices equals the batch closed windows") {
    val ev = events
    val src = scratch("src")
    val out = scratch("out") + "/sink"
    StreamIngest.writeTimeSlices(ev, src, 6, 0 until 6, clean = true)
    val got = rows(StreamIngest.windowedAggParquet(spark, src, ev.schema, out))
    val want = closedWindows(ev)
    assert(want.nonEmpty && want.size < 8, "the feed must leave an open tail")
    assert(got == want)
  }

  test("a drain resumed from its checkpoint equals the one-start drain") {
    val ev = events
    val oneSrc = scratch("one_src")
    val oneOut = scratch("one") + "/sink"
    StreamIngest.writeTimeSlices(ev, oneSrc, 6, 0 until 6, clean = true)
    val oneStart = rows(StreamIngest.windowedAggParquet(spark, oneSrc, ev.schema, oneOut))

    val src = scratch("two_src")
    val out = scratch("two") + "/sink"
    StreamIngest.writeTimeSlices(ev, src, 6, 0 until 3, clean = true)
    StreamIngest.windowedAggParquet(spark, src, ev.schema, out)
    StreamIngest.writeTimeSlices(ev, src, 6, 3 until 6, clean = false)
    val twoStart = rows(
      StreamIngest.windowedAggParquet(spark, src, ev.schema, out, resume = true))
    assert(twoStart == oneStart)

    // the retained open tail is in the derived checkpoint's state store
    val retained = spark.read.format("statestore")
      .load(StreamIngest.checkpoint(out))
      .agg(sum(col("value.count"))).head().getLong(0)
    assert(retained == ev.count() - twoStart.map(_.getLong(1)).sum)
  }

  test("re-running a fresh drain on the same sink returns the same rows") {
    val ev = events
    val src = scratch("rerun_src")
    val out = scratch("rerun") + "/sink"
    StreamIngest.writeTimeSlices(ev, src, 6, 0 until 6, clean = true)
    val first = rows(StreamIngest.windowedAggParquet(spark, src, ev.schema, out))
    val second = rows(StreamIngest.windowedAggParquet(spark, src, ev.schema, out))
    assert(first.nonEmpty && second == first)
  }
}
