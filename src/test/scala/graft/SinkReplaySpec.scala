package graft

import java.io.File

import graft.streaming.{Replay, StreamingOps}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}

/** Exactly-once under replay for the engine's stream writers: the one
  * stream sink (`StreamingOps.batchSink`, Append and Complete), s7's
  * per-batch aggregate, s33's versioned upsert, s9's csv file sink and
  * s17's pipecsv sink. Each case drains a [[Replay]] of 3 chunks, one
  * per micro-batch, and reads the output back; then deletes the last
  * `commits/<id>` file, which is a crash between that batch's sink write
  * and its commit, and drains again on the same checkpoint. That run
  * replays the batch, and the read-back must equal the first one. */
class SinkReplaySpec extends SparkSpec {
  import spark.implicits._

  // 600 events over 7 users and 5 types, one per second of event time,
  // written out of time order; the range cut orders the replay
  private lazy val events = spark.range(600).select(
    $"id".as("event_id"),
    timestamp_seconds(lit(1700000000L) + $"id" * 37 % 600).as("ts"),
    ($"id" % 7).as("user_id"),
    element_at(array(Seq("view", "click", "cart", "purchase", "search").map(lit): _*),
               ($"id" % 5 + 1).cast("int")).as("event_type"),
    ($"id" % 13 * 1.25).as("value"))
  private lazy val cut = Replay.chunks(events, 3, $"ts")

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  /** `read(dir)` after a clean 3-batch drain of `writer(source, dir)`,
    * and again after the last batch is replayed on the same checkpoint;
    * `replayReads` is how many batches of the replay read input (0 for a
    * sink that skips a batch its own log already holds). */
  private def cleanThenReplayed(writer: (DataFrame, String) => DataStreamWriter[Row],
                                replayReads: Int = 1)
                               (read: String => DataFrame): (Seq[Row], Seq[Row]) = {
    StreamingOps.configureStreaming(spark) // the engine's stream posture
    val r = new Replay(spark, events.schema).hold(cut)
    r.release()
    val dir = Tbl.scratchDir("sink_replay")
    assert(r.run(writer(r.source, dir)).length == 3)
    val clean = rows(read(dir))

    val commits = new File(r.checkpoint, "commits")
    val last = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(last == 2L)
    for (f <- Seq(s"$last", s".$last.crc")) new File(commits, f).delete()
    // the restart finds offsets/2 with no commit and runs batch 2 again
    assert(r.run(writer(r.source, dir)).length == replayReads)
    assert(new File(commits, s"$last").exists)
    (clean, rows(read(dir)))
  }

  test("the one sink, Append: a replayed batch rewrites its own part") {
    // first event per (user, minute): every batch emits new keys
    def dedup(df: DataFrame) =
      df.withColumn("minute", floor(unix_seconds($"ts") / 60)).dropDuplicates("user_id", "minute")
    var lastPart = 0L
    val (clean, replayed) = cleanThenReplayed { (src, dir) =>
      dedup(src).writeStream.outputMode(OutputMode.Append())
        .foreachBatch(StreamingOps.batchSink(dir, OutputMode.Append()))
    } { dir =>
      lastPart = spark.read.parquet(s"$dir/b2").count()
      StreamingOps.readSink(spark, dedup(events).schema, dir).select($"user_id", $"minute")
    }
    assert(lastPart > 0) // the replayed batch has output to duplicate
    assert(clean == rows(dedup(events).select($"user_id", $"minute")))
    assert(replayed == clean)
  }

  test("the one sink, Complete: a replayed batch replaces the table again") {
    def agg(df: DataFrame) =
      df.groupBy($"event_type").agg(count(lit(1)).as("n"), sum(Tbl.cents($"value")).as("v_c"))
    val (clean, replayed) = cleanThenReplayed { (src, dir) =>
      agg(src).writeStream.outputMode(OutputMode.Complete())
        .foreachBatch(StreamingOps.batchSink(dir, OutputMode.Complete()))
    }(dir => StreamingOps.readSink(spark, agg(events).schema, dir))
    assert(clean == rows(agg(events)))
    assert(replayed == clean)
  }

  test("s7's per-batch aggregate: a replayed batch is counted once") {
    val (clean, replayed) = cleanThenReplayed { (src, dir) =>
      src.writeStream.outputMode(OutputMode.Append())
        .foreachBatch(StreamingOps.batchAggWriter(dir))
    }(dir => StreamingOps.readSink(spark, StreamingOps.batchAgg(events).schema, dir))
    assert(clean.map(_.getAs[Long]("n")).sum == 600L)
    assert(replayed == clean)
  }

  test("s33's upsert: a replayed batch merges from the version before it") {
    val (clean, replayed) = cleanThenReplayed { (src, dir) =>
      src.writeStream.outputMode(OutputMode.Append())
        .foreachBatch(StreamingOps.mergeWriter(dir))
    }(dir => StreamingOps.readMerged(events, dir)
               .select($"user_id", $"w.event_id", $"n_seen"))
    val latest = events
      .groupBy($"user_id")
      .agg(max(struct(unix_micros($"ts"), $"event_id")).as("w"), count(lit(1)).as("n_seen"))
      .select($"user_id", $"w.event_id", $"n_seen")
    assert(clean == rows(latest))
    assert(replayed == clean)
  }

  test("s9's csv file sink: a replayed batch is written once") {
    def counts(df: DataFrame) = df.groupBy($"user_id", $"event_type").agg(count(lit(1)).as("n"))
    // Spark's file sink keeps its own batch log (`_spark_metadata`): it
    // skips the replayed batch without reading it
    val (clean, replayed) = cleanThenReplayed((src, dir) =>
      src.select($"user_id", $"event_type").writeStream.format("csv")
        .option("path", dir).outputMode(OutputMode.Append()), replayReads = 0
    )(dir => counts(StreamingOps.readCsvSink(spark, dir)))
    assert(clean == rows(counts(events)))
    assert(replayed == clean)
  }

  test("s17's pipecsv sink: a replayed epoch rewrites its own frame files") {
    import graft.sources.SourceOps.{FrameLen, frameSchema}
    def frames(df: DataFrame) =
      df.select($"event_id", $"user_id", $"event_type", Tbl.cents($"value").as("v_c"))
    val (clean, replayed) = cleanThenReplayed { (src, dir) =>
      frames(src).writeStream.format("pipecsv").option("path", dir)
        .option("frameLen", FrameLen).outputMode(OutputMode.Append())
    }(dir => spark.read.format("pipecsv").schema(frameSchema)
               .option("frameLen", FrameLen).load(dir))
    assert(clean == rows(frames(events)))
    assert(replayed == clean)
  }
}
