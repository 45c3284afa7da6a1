package graft

import graft.streaming.Replay
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, max, min, timestamp_seconds, unix_micros}

/** The replay StreamBench measures with: a table cut into time-ordered
  * chunks, drained one chunk per micro-batch, and restarted on the same
  * checkpoint over chunks that were held back until then. One cut feeds
  * every replay here, as it feeds every StreamBench layout. */
class ReplaySpec extends SparkSpec {

  // 4,000 events, one per second of event time, written out of time
  // order (id · 37 mod 4000 s), so only the range cut orders the replay
  private lazy val events = spark.range(4000).select(
    col("id").as("event_id"),
    timestamp_seconds(lit(1700000000L) + col("id") * 37 % 4000).as("ts"))
  private lazy val cut = Replay.chunks(events, 4, col("ts"))

  /** Drain `r`; (min ts, max ts, rows) of each data batch, in batch
    * order, plus the drain's data-batch progress count. */
  private def drain(r: Replay): (Seq[(Long, Long, Long)], Int) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, (Long, Long, Long))]()
    val progress = r.run(r.source.writeStream.foreachBatch {
      (b: DataFrame, id: Long) =>
        val s = b.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
                      count(lit(1))).head
        if (s.getLong(2) > 0) seen.add(id -> ((s.getLong(0), s.getLong(1), s.getLong(2))))
        ()
    })
    (seen.toArray(Array.empty[(Long, (Long, Long, Long))]).sortBy(_._1).map(_._2).toSeq,
     progress.length)
  }

  /** Each batch starts no earlier than the previous one ended. */
  private def inEventTimeOrder(bs: Seq[(Long, Long, Long)]): Boolean =
    bs.sliding(2).forall {
      case Seq(a, b) => b._2 >= a._2 && b._1 >= a._2
      case _ => true
    }

  test("a table cut into 4 chunks drains as 4 data batches in event-time order") {
    val r = new Replay(spark, events.schema).hold(cut)
    r.release()
    val (batches, nProgress) = drain(r)
    assert(batches.length == 4 && nProgress == 4, batches)
    assert(inEventTimeOrder(batches), batches)
    assert(batches.map(_._3).sum == events.count())
  }

  test("release 2, drain, release the rest, drain again on the same checkpoint") {
    val r = new Replay(spark, events.schema).hold(cut)
    r.release(2)
    val (first, n1) = drain(r)
    r.release()
    val (second, n2) = drain(r)
    assert(first.length == 2 && n1 == 2, first)
    assert(second.length == 2 && n2 == 2, second)
    // the restart resumes after the drained prefix: nothing re-read,
    // nothing lost, event time still in order across the restart
    assert(inEventTimeOrder(first ++ second), first ++ second)
    assert((first ++ second).map(_._3).sum == events.count())
  }
}
