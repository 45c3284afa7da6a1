package graft

import java.nio.file.{Files, Path, Paths}

import graft.streaming.Replay
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, max, min, timestamp_seconds, unix_micros}

/** The replay StreamBench measures with: a table cut into time-ordered
  * chunks, drained one chunk per micro-batch, and restarted on the same
  * checkpoint over chunks that were held back until then. One cut feeds
  * every replay here, as it feeds every StreamBench layout. Also the
  * registry form every parquet-fed registry stream reads through:
  * existing files linked in and drained as one batch. */
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

  test("registry form: a linked file and a linked sentinel drain as one batch, untouched") {
    val dir = Tbl.scratchDir("replay_linked")
    val file = Replay.writeFile(events, Paths.get(dir, "events.parquet"))
    val sentinel = Replay.writeFile(
      spark.range(1).select(lit(-1L).as("event_id"), timestamp_seconds(lit(7000000000L)).as("ts")),
      Paths.get(dir, "sentinel.parquet"))
    // dated in the past, like a dataset file: a re-dating link shows
    assert(file.toFile.setLastModified(1600000000000L))
    def fingerprint(p: Path) =
      (p.toFile.lastModified, Tbl.fileKey(p.toString), Files.getAttribute(p, "unix:nlink"))
    val before = Seq(file, sentinel).map(fingerprint)
    val r = new Replay(spark, events.schema, filesPerBatch = Int.MaxValue)
      .link(file).link(sentinel)
    val (batches, nProgress) = drain(r)
    assert(batches.length == 1 && nProgress == 1, batches)
    assert(batches.head._3 == events.count() + 1)
    // same mtime and fileKey, and still one name per file: linking
    // neither re-dated the files nor hard-linked them
    assert(Seq(file, sentinel).map(fingerprint) == before)
  }
}
