package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession posture every main shares: `local[cpus]`
  * with as many shuffle partitions as cores, UTC session time, no UI,
  * an 8g result cap (memory-sink streams at sf10 outgrow the 1g
  * default; in local mode driver and executors share one heap, so the
  * cap guards nothing) and scratch under [[Tbl.sparkLocalDir]]. Mains
  * call `JvmOpens.check()` themselves before building, and keep their
  * own arguments and log level. */
object Session {

  /** `SPARK_GRAFT_CPUS` if set, otherwise the host's core count. */
  def cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  def parseCpus(v: Option[String]): Int =
    v.fold(Runtime.getRuntime.availableProcessors)(positiveInt("SPARK_GRAFT_CPUS", _))

  /** A count-valued knob: `raw` as a positive int, else a failure that
    * names `knob` and quotes `raw` (not a bare NumberFormatException
    * deep inside planning). */
  def positiveInt(knob: String, raw: String): Int =
    raw.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"$knob '$raw' is not a positive integer"))

  /** Extra session confs from `SPARK_GRAFT_CONF` ("k=v;k2=v2"). Only the
    * timing mains pass them, so an inherited variable cannot change a
    * correctness run. */
  def envConf: Seq[(String, String)] =
    parseConf(sys.env.getOrElse("SPARK_GRAFT_CONF", ""))

  def parseConf(spec: String): Seq[(String, String)] =
    spec.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entry '$kv' is not of the form key=value")
      }
    }

  /** `conf` in `SPARK_GRAFT_CONF` form, for run provenance. */
  def show(conf: Seq[(String, String)]): String =
    conf.map { case (k, v) => s"$k=$v" }.mkString(";")

  /** Runs `body` with each `k -> v` set on `s`'s runtime conf, then
    * restores each key's prior value, or unsets a key that had none.
    * The scope is session-wide: the engine runs one query at a time on
    * a session (Verify and Bench both do), so nothing else sees it; a
    * multi-tenant session would need the setting pinned per plan. */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prior = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prior.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  def local(cpus: Int = Session.cpus,
            extraConf: Seq[(String, String)] = Nil): SparkSession =
    extraConf.foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "8g")
      .config("spark.local.dir", Tbl.sparkLocalDir)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
}
