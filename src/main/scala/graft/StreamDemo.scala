package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.Streams
import graft.streaming.Streams.Event

/** Drives the Structured Streaming surface end-to-end from the CLI: replays
  * sf0.001 events through MemoryStream in two micro-batches and runs the
  * windowed + stateful transforms. (MemoryStream because the container has
  * no Kafka; a file/kafka source is a one-line swap on `readStream`.)
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local()
    import spark.implicits._

    val events = Tables.events(spark, sfDir).as[Event].collect().toSeq.sortBy(_.event_id)
    val (a, b) = events.splitAt(events.size / 2)

    // start each query BEFORE the second addData so the two blocks arrive as
    // genuinely separate micro-batches (watermark advances between them)
    val ms = MemoryStream[Event](spark)
    val q1 = Streams.tumblingHourly(ms.toDF()).writeStream
      .outputMode("complete").format("memory").queryName("tumbling").start()
    ms.addData(a); q1.processAllAvailable()
    ms.addData(b); q1.processAllAvailable()
    q1.stop()
    println(s"[stream] tumbling hourly windows: ${spark.table("tumbling").count()}")

    val ms2 = MemoryStream[Event](spark)
    val q2 = Streams.sessionizeStateful(ms2.toDS()).toDF().writeStream
      .outputMode("append").format("memory").queryName("sessions").start()
    ms2.addData(a); q2.processAllAvailable()
    ms2.addData(b); q2.processAllAvailable()
    q2.stop()
    println(s"[stream] closed sessions emitted: ${spark.table("sessions").count()}")

    spark.table("tumbling").orderBy("hour_us").show(3)
    spark.stop()
  }
}
