package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `graft.Verify`'s dump loop: a query that throws is reported by name
  * and does not stop the others from being written. */
class VerifySpec extends SparkSpec {

  test("dump writes the good entry and returns only the throwing entry's name") {
    val out = Tbl.scratchDir("verify_dump")
    val entries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "good" -> ((s, _) => s.range(3).toDF("id")),
      "bad" -> ((_, _) => throw new IllegalStateException("boom")))
    assert(Verify.dump(spark, "unused", out, entries) == Seq("bad"))
    assert(spark.read.parquet(s"$out/good").count() == 3)
    assert(!new java.io.File(s"$out/bad").exists())
  }
}
