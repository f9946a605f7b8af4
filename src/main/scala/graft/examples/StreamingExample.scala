package graft.examples

import graft.streaming.Streams

import java.sql.Timestamp

case class ExEvent(ts: Timestamp, event_type: String, value: Double)

/** Runnable example: the channel source (reference
  * pipeline.FromChannel) feeding a watermarked windowed aggregation,
  * with late-arriving sends processed incrementally.
  *
  *   sbt "runMain graft.examples.StreamingExample"
  */
object StreamingExample {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.builder(4, "graft-streaming-example").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val ch = Streams.Channel[ExEvent](spark)
    ch.send(
      ExEvent(Timestamp.valueOf("2024-01-01 00:05:00"), "click", 1.5),
      ExEvent(Timestamp.valueOf("2024-01-01 02:05:00"), "view", 2.5))

    val agg = Streams.windowedAgg(ch.toDS.toDF(), "ts", "event_type", "1 hour", "5 minutes")
    val q = Streams.runToMemory(agg, "example_out")
    println("--- after initial sends ---")
    spark.table("example_out").orderBy("win_start", "event_type").show(false)

    ch.send(ExEvent(Timestamp.valueOf("2024-01-01 02:10:00"), "view", 1.0))
    q.processAllAvailable()
    println("--- after incremental send ---")
    spark.table("example_out").orderBy("win_start", "event_type").show(false)

    q.stop()
    spark.stop()
  }
}
