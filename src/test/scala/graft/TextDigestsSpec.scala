package graft

import org.apache.spark.sql.functions._

/** The native digest kernels must be bit-identical to the interpreted
  * HOF formulations they replaced — the DuckDB oracles still state the
  * md5 arithmetic in the HOF shape, so any divergence here is an oracle
  * break waiting for a corpus that exercises it. */
class TextDigestsSpec extends SparkSpec {
  import spark.implicits._

  private def randomArrays(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until 40).map { i =>
      val n = rnd.nextInt(12)
      (i.toLong, (0 until n).map(_ =>
        rnd.alphanumeric.take(1 + rnd.nextInt(14)).mkString.toLowerCase))
    }.toDF("id", "arr")
  }

  test("Md5PairDigests ≡ transform(x -> md5(x) || md5('s:' || x)), incl. empty arrays") {
    val df = randomArrays(11)
      .withColumn("native", org.apache.spark.sql.graft.Md5PairDigests.of($"arr"))
      .withColumn("hof", transform($"arr",
        x => concat(md5(x), md5(concat(lit("s:"), x)))))
    assert(df.where(not($"native" <=> $"hof")).count() == 0)
    // non-degenerate fixture: some empty and some populated arrays
    assert(df.where(size($"arr") === 0).count() > 0)
    assert(df.where(size($"arr") > 4).count() > 0)
  }

  test("MinhashSigs ≡ array_min over 5-hex windows of md5_pair, incl. empty and null-bearing arrays") {
    // the fused kernel replaces: stage md5(x)||md5('s:'||x) per element,
    // then for each h take array_min(transform(hxs, x -> substr(x, 5h+1, 5)))
    // — the exact HOF arithmetic the DuckDB oracle still states
    val k = 12
    def hof(h: Int) = array_min(transform(
      transform($"arr", x => concat(md5(x), md5(concat(lit("s:"), x)))),
      x => substring(x, 1 + 5 * h, 5)))
    val rnd = new scala.util.Random(29)
    val withNulls = (0 until 40).map { i =>
      val n = rnd.nextInt(10)
      (i.toLong, (0 until n).map(_ =>
        if (rnd.nextInt(4) == 0) null
        else rnd.alphanumeric.take(1 + rnd.nextInt(9)).mkString.toLowerCase))
    }.toDF("id", "arr")
    Seq(randomArrays(17), withNulls).foreach { base =>
      val df = base
        .withColumn("native", org.apache.spark.sql.graft.MinhashSigs.of($"arr", k))
        .withColumn("hof", array((0 until k).map(hof): _*))
      assert(df.where(not($"native" <=> $"hof")).count() == 0)
      assert(df.where(size($"arr") === 0).count() > 0)
    }
    assert(withNulls.where(expr("exists(arr, x -> x is null)")).count() > 0)
  }

  test("SpanMd5s ≡ rolling md5(concat_ws) HOF, incl. boundary lengths n<w, n=w") {
    val w = 3
    val df = randomArrays(13)
      .withColumn("native", org.apache.spark.sql.graft.SpanMd5s.of($"arr", w))
      .withColumn("hof", when(size($"arr") >= w,
          expr(s"transform(sequence(1, size(arr) - ${w - 1})," +
               s" i -> md5(concat_ws(' ', slice(arr, i, $w))))"))
        .otherwise(expr("array()")))
    assert(df.where(not($"native" <=> $"hof")).count() == 0)
    assert(df.where(size($"arr") < w).count() > 0, "needs n<w boundary rows")
    assert(df.where(size($"arr") === w).count() > 0 ||
           df.where(size($"arr") > w).count() > 0)
  }

  test("Shingles3 ≡ array_distinct(transform) HOF, incl. n∈{0,1,2,3} and duplicate windows") {
    val rnd = new scala.util.Random(19)
    // tiny alphabet forces duplicate 3-windows (the distinct path) and
    // boundary sizes hit the <3 fallback
    val rows = (0 until 60).map { i =>
      (i.toLong, (0 until (i % 7)).map(_ => "w" + rnd.nextInt(4)))
    }
    val df = rows.toDF("id", "arr")
      .withColumn("native", org.apache.spark.sql.graft.Shingles3.of($"arr"))
      .withColumn("hof", {
        val w = $"arr"
        when(size(w) >= 3,
          array_distinct(transform(sequence(lit(1), size(w) - 2),
            i => concat_ws(" ",
              element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)))))
          .otherwise(array(concat_ws(" ", w)))
      })
    assert(df.where(not($"native" <=> $"hof")).count() == 0)
    // fixture really exercises both paths and the dedup
    assert(rows.count(_._2.size < 3) > 0 && rows.count(_._2.size >= 5) > 0)
    val dups = df.where(size($"arr") >= 5 &&
      size($"native") < size($"arr") - lit(2))
    assert(dups.count() > 0, "no duplicate windows generated — dedup untested")
  }

  test("null array elements keep HOF parity: null digests, concat_ws skipping") {
    // round-5 ADVICE: the kernels NPE'd on null elements while the HOF
    // forms they replaced propagated/skipped them — pin the repaired
    // parity on arrays that actually carry nulls
    val rnd = new scala.util.Random(23)
    val rows = (0 until 40).map { i =>
      val n = rnd.nextInt(8)
      (i.toLong, (0 until n).map(_ =>
        if (rnd.nextInt(3) == 0) null
        else rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString.toLowerCase))
    }
    val df = rows.toDF("id", "arr")
    val pair = df
      .withColumn("native", org.apache.spark.sql.graft.Md5PairDigests.of($"arr"))
      .withColumn("hof", transform($"arr",
        x => concat(md5(x), md5(concat(lit("s:"), x)))))
    assert(pair.where(not($"native" <=> $"hof")).count() == 0)
    val w = 3
    val span = df
      .withColumn("native", org.apache.spark.sql.graft.SpanMd5s.of($"arr", w))
      .withColumn("hof", when(size($"arr") >= w,
          expr(s"transform(sequence(1, size(arr) - ${w - 1})," +
               s" i -> md5(concat_ws(' ', slice(arr, i, $w))))"))
        .otherwise(expr("array()")))
    assert(span.where(not($"native" <=> $"hof")).count() == 0)
    val sh = df
      .withColumn("native", org.apache.spark.sql.graft.Shingles3.of($"arr"))
      .withColumn("hof", when(size($"arr") >= 3,
          expr("array_distinct(transform(sequence(1, size(arr) - 2)," +
               " i -> concat_ws(' ', arr[i-1], arr[i], arr[i+1])))"))
        .otherwise(array(expr("concat_ws(' ', arr)"))))
    assert(sh.where(not($"native" <=> $"hof")).count() == 0)
    // fixture really contains null elements
    assert(df.where(expr("exists(arr, x -> x is null)")).count() > 0)
  }

  test("kernels run inside whole-stage codegen") {
    // a range source, not a local relation — literal inputs constant-fold
    // into a LocalTableScan before any codegen stage exists
    val df = spark.range(64)
      .select(expr(
        "slice(split(md5(string(id)) || ' ' || md5(string(id + 1)) || ' ' ||" +
        " md5(string(id + 2)), ' '), 1, int(id % 4))").as("arr"))
      .select(org.apache.spark.sql.graft.Md5PairDigests.of($"arr").as("a"),
              org.apache.spark.sql.graft.SpanMd5s.of($"arr", 3).as("b"))
    val plan = df.queryExecution.executedPlan
    // the KERNEL expressions themselves must sit inside a codegen
    // subtree — a bare "some WholeStageCodegen exists" check would pass
    // on the upstream range/md5 stage even if the kernel projection had
    // silently fallen back to interpreted execution
    import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
    def holdsKernel(p: SparkPlan): Boolean =
      p.expressions.exists(_.exists(e =>
        e.isInstanceOf[org.apache.spark.sql.graft.Md5PairDigests] ||
        e.isInstanceOf[org.apache.spark.sql.graft.SpanMd5s])) ||
      p.children.exists(holdsKernel)
    val wsc = plan.collect { case w: WholeStageCodegenExec => w }
    assert(wsc.exists(holdsKernel),
           s"kernel projection fell out of whole-stage codegen:\n$plan")
    df.count()
  }
}
