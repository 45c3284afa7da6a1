package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DotProductFloat

/** The native dot-product expression: interpreted eval vs codegen vs the
  * HOF formulation must agree bit-for-bit (same left-to-right double
  * accumulation), and the SQL registration must resolve. */
class DotProductFloatSpec extends SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  test("dot_f equals the aggregate(zip_with(...)) fold bit-for-bit") {
    val emb = Tbl.embeddings(spark, d).limit(50)
    val pairs = emb.as("l").crossJoin(emb.as("r"))
      .select($"l.embedding".as("a"), $"r.embedding".as("b"))
    val hof = aggregate(zip_with($"a", $"b", (x, y) => x.cast("double") * y.cast("double")),
                        lit(0.0), (acc, x) => acc + x)
    val diff = pairs
      .select(DotProductFloat.dotF($"a", $"b").as("native"), hof.as("hof"))
      .where($"native" =!= $"hof")
    assert(diff.count() == 0)
  }

  test("unit-norm vectors: self dot = 1 within float32 tolerance") {
    val self = Tbl.embeddings(spark, d)
      .select(DotProductFloat.dotF($"embedding", $"embedding").as("d"))
      .where(abs($"d" - 1.0) > 1e-3)
    assert(self.count() == 0)
  }

  test("SQL registration: dot_f resolves after install") {
    org.apache.spark.sql.graft.GraftExtensions.install(spark)
    Tbl.embeddings(spark, d).createOrReplaceTempView("emb_tmp")
    val n = spark.sql(
      "SELECT dot_f(embedding, embedding) AS d FROM emb_tmp WHERE dot_f(embedding, embedding) > 0.5")
      .count()
    assert(n > 0)
    spark.catalog.dropTempView("emb_tmp")
  }

  test("null propagation") {
    val r = Seq((Array(1.0f), null.asInstanceOf[Array[Float]]))
      .toDF("a", "b")
      .select(DotProductFloat.dotF($"a", $"b").as("d"))
      .collect().head
    assert(r.isNullAt(0))
  }
}
