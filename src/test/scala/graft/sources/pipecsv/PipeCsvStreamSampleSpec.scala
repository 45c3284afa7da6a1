package graft.sources.pipecsv

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec

/** Round-13 ADVICE: a sample pushed into the pipecsv scan used to be
  * DROPPED by `toMicroBatchStream` — harmless today (Spark 4 never
  * pushes TableSample into a streaming scan) but a silent 100%-read if
  * a future planner starts to. The sample is now threaded through; this
  * spec drives the micro-batch machinery directly (the only way to
  * exercise the not-yet-reachable path) and pins that the streamed
  * selection is EXACTLY the batch TABLESAMPLE selection for the same
  * (interval, seed) — the membership hash is (seed, file, frameIdx)-
  * keyed, so batch, streaming, retry, and restart all agree.
  */
class PipeCsvStreamSampleSpec extends SparkSpec {

  private val frameLen = 16
  private val schema = StructType(Seq(StructField("id", LongType)))
  private val nFrames = 500

  private lazy val dir: String = {
    val d = graft.Tbl.scratchDir("pipecsv_stream_sample")
    def frame(s: String) = s + " " * (frameLen - s.length) + "\n"
    Files.writeString(Paths.get(d, "part-0.txt"),
      (0 until nFrames).map(i => frame(i.toString)).mkString)
    d
  }

  private def opts = new CaseInsensitiveStringMap(
    java.util.Map.of("path", dir, "frameLen", frameLen.toString))

  /** All rows the micro-batch stream would emit for the full offset
    * range, via its own partition planning and readers. */
  private def drainStream(sample: Option[PipeCsvSample]): Seq[Long] = {
    val sb = new PipeCsvScanBuilder(schema, opts)
    sample.foreach { sm =>
      assert(sb.pushTableSample(sm.lower, sm.upper, false, sm.seed))
    }
    val mbs = sb.build().toMicroBatchStream("unused-checkpoint")
      .asInstanceOf[PipeCsvMicroBatchStream]
    val parts = mbs.planInputPartitions(
      PipeCsvOffset(0L), mbs.reportLatestOffset())
    val rf = mbs.createReaderFactory()
    val out = ArrayBuffer[Long]()
    parts.foreach { p =>
      val r = rf.createReader(p)
      try { while (r.next()) out += r.get().getLong(0) } finally r.close()
    }
    out.toSeq
  }

  test("no sample: the stream replays every frame (baseline)") {
    assert(drainStream(None).sorted === (0L until nFrames.toLong))
  }

  test("pushed sample reaches the micro-batch readers — no silent over-read") {
    val ids = drainStream(Some(PipeCsvSample(0.0, 0.3, 42L)))
    // 500 Bernoulli(0.3) trials: ±5σ ≈ ±52
    assert(math.abs(ids.length - 150) <= 52, s"got ${ids.length} of $nFrames")
    // batch/stream parity: the SQL TABLESAMPLE path (which Spark DOES
    // push for batch scans) selects the identical frame set
    spark.read.format("pipecsv").schema(schema)
      .option("frameLen", frameLen).load(dir)
      .createOrReplaceTempView("pcs_stream_sample")
    val batch = spark.sql(
      "SELECT id FROM pcs_stream_sample TABLESAMPLE (30 PERCENT) REPEATABLE (42)")
      .collect().map(_.getLong(0))
    assert(ids.sorted === batch.sorted.toSeq)
  }
}
