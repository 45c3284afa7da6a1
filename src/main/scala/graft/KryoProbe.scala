package graft

import org.apache.spark.SparkConf
import org.apache.spark.serializer.KryoSerializer

/** Minimal reproduction of the round-13 gate crash, as a subprocess
  * probe for JvmOpensSpec and as a standalone launch-environment
  * diagnostic.
  *
  * `KryoSerializer.newKryo()` registers a default class list that
  * includes `java.nio.HeapByteBuffer`; building its FieldSerializer
  * reflects into `ByteBuffer.hb`, which on JDK 17 requires
  * `--add-opens=java.base/java.nio=ALL-UNNAMED`. Spark constructs Kryo
  * LAZILY — in the round-13 gate the first construction happened when
  * memory-pressure eviction serialized a Kryo-eligible cached block
  * (`SerializerManager.canUseKryo`: String / primitive-array class
  * tags — e.g. every stage's task-binary broadcast value, an
  * `Array[Byte]` block stored MEMORY_AND_DISK, or a cached
  * `RDD[String]`), two hours into the run. Three probe modes:
  *
  *   java -cp <cp> graft.KryoProbe          # kryo: the raw crash path
  *   java -cp <cp> graft.KryoProbe guard    # JvmOpens.check() fail-fast
  *   java -Xmx512m -cp <cp> graft.KryoProbe evict
  *     # the FULL production path: a real SparkContext caches more
  *     # String-class-tag blocks than the storage pool holds, so
  *     # MemoryStore.evictBlocksToFreeSpace -> dropFromMemory ->
  *     # dataSerializeStream picks Kryo — the exact round-13 stack,
  *     # deterministically, in seconds instead of at hour two
  *
  * Exit 0 = this launch survives eviction-time Kryo init; nonzero with
  * the stack = the launch is a time bomb (add the JvmOpens flags).
  */
object KryoProbe {
  def main(args: Array[String]): Unit = {
    args.headOption match {
      case Some("guard") => JvmOpens.check()
      case Some("evict") => evict()
      case _ =>
        val ser = new KryoSerializer(new SparkConf(false)).newInstance()
        // serialize forces borrowKryo -> newKryo -> default registrations
        val out = ser.serialize("probe")
        require(ser.deserialize[String](out) == "probe")
    }
    println("kryo-probe-ok")
  }

  private def evict(): Unit = {
    import org.apache.spark.storage.StorageLevel
    // Session.local runs no JvmOpens check, so the crash stays reachable
    val spark = Session.local(2)
    val sc = spark.sparkContext
    sc.setLogLevel(sys.env.getOrElse("KRYO_PROBE_LOG", "WARN"))
    // Array[Byte] rows, NOT strings: SizeEstimator prices byte arrays
    // accurately (string blocks under-estimate ~15x and never trigger
    // eviction), and the primitive-array class tag is exactly what
    // SerializerManager.canUseKryo auto-picks Kryo for — same as the
    // task-binary broadcast values a real workload evicts. Three
    // ~60 MB RDDs against a ~127 MB pool (-Xmx512m: (512-300)*0.6):
    // caching the later ones MUST dropFromMemory the earlier blocks.
    val rdds = (0 until 3).map { i =>
      val r = sc.parallelize(0 until 60000, 4)
        .map(j => Array.fill[Byte](1024)(((i * 31 + j) & 0x7f).toByte))
        .persist(StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }
    // read everything back: evicted blocks also exercise deserialization
    require(rdds.map(_.count()).sum == 180000L, "row loss through eviction")
    spark.stop()
  }
}
