package graft

import org.scalatest.funsuite.AnyFunSuite

/** The harness's input checks, as pure functions: no spec mutates the
  * JVM environment to reach them. */
class SessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CONF parses k=v entries, trimming and skipping blanks") {
    assert(Session.parseConf("") == Nil)
    assert(Session.parseConf(" a.b=1 ; ;c=x=y;d= ") ==
           Seq("a.b" -> "1", "c" -> "x=y", "d" -> ""))
    assert(Session.show(Session.parseConf("a=1;b=2")) == "a=1;b=2")
  }

  test("a malformed SPARK_GRAFT_CONF entry fails with the entry quoted") {
    for (bad <- Seq("a=1;justakey", "=v")) {
      val e = intercept[IllegalArgumentException](Session.parseConf(bad))
      val entry = bad.split(';').last
      assert(e.getMessage ==
             s"SPARK_GRAFT_CONF entry '$entry' is not of the form key=value")
    }
  }

  test("SPARK_GRAFT_CPUS: unset means the host's cores; malformed fails quoting it") {
    assert(Session.parseCpus(None) == Runtime.getRuntime.availableProcessors)
    assert(Session.parseCpus(Some(" 3 ")) == 3)
    for (bad <- Seq("four", "0", "-2", "")) {
      val e = intercept[IllegalArgumentException](Session.parseCpus(Some(bad)))
      assert(e.getMessage == s"SPARK_GRAFT_CPUS '$bad' is not a positive integer")
    }
  }

  test("StreamBench's chunk and restart knobs: defaults, and malformed values fail quoting them") {
    def shape(env: (String, String)*) = StreamBench.replayShape(env.toMap.get)
    assert(shape() == ((20, 0)))
    assert(shape("SPARK_GRAFT_STREAM_CHUNKS" -> "4", "SPARK_GRAFT_STREAM_RESTART" -> "2") == ((4, 2)))
    for (knob <- Seq("SPARK_GRAFT_STREAM_CHUNKS", "SPARK_GRAFT_STREAM_RESTART");
         bad <- Seq("eight", "0", "-3")) {
      val e = intercept[IllegalArgumentException](shape(knob -> bad))
      assert(e.getMessage == s"$knob '$bad' is not a positive integer")
    }
    // the restart point must leave chunks for the second pass
    val e = intercept[IllegalArgumentException](
      shape("SPARK_GRAFT_STREAM_CHUNKS" -> "4", "SPARK_GRAFT_STREAM_RESTART" -> "4"))
    assert(e.getMessage.contains("SPARK_GRAFT_STREAM_RESTART=4 must be in (0, 4)"))
  }

  test("an unknown StreamBench layout fails before the session and lists the valid names") {
    assert(StreamBench.select(Nil).map(_.name).contains("ring_last3"))
    assert(StreamBench.select(Seq("ring_last3", "agg_watermark")).map(_.name) ==
           Seq("ring_last3", "agg_watermark"))
    val e = intercept[IllegalArgumentException](
      StreamBench.select(Seq("agg_watermark", "no_such_layout")))
    assert(e.getMessage.startsWith("unknown layout no_such_layout; valid names: "))
    assert(StreamBench.select(Nil).map(_.name).forall(e.getMessage.contains))
  }

  test("Bench times every entry by default and only the named ones when filtered") {
    assert(Bench.select(Nil).map(_._1).toSet == SparkEntry.queries.keySet)
    assert(Bench.select(Seq("s2_stream_last3", "q1_pricing_summary")).map(_._1) ==
           Seq("s2_stream_last3", "q1_pricing_summary"))
  }

  test("an unknown Bench query name fails before timing and lists the valid names") {
    val e = intercept[IllegalArgumentException](
      Bench.select(Seq("q1_pricing_summary", "no_such_query")))
    assert(e.getMessage.startsWith("unknown query no_such_query; valid names: "))
    assert(SparkEntry.queries.keys.forall(e.getMessage.contains))
  }
}
