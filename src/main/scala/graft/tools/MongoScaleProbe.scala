package graft.tools

import graft.queries.MongoFixtures
import graft.sources.MongoSource

/** Mongo wire-plane scale probe for the S2 read path: measured cursor-per-partition throughput of the
  * partitioned wire read and the DSv2 scan, 1 → 8 cursors, across
  * scale decades. The claim under test is cursor-per-partition
  * scaling: each Spark partition drives its own `find`/`getMore`
  * cursor over its own socket, so client-plane throughput (socket +
  * BSON decode + reference-JSON render, resp. typed InternalRow
  * conversion) should grow with partitions until the serving side
  * saturates. The fake server is in-process and answers from memory —
  * this measures the CLIENT plane's ability to feed
  * Spark, not a remote server's disk; on a real deployment the server
  * side is also parallel (sharded mongos or a replica set).
  *
  * Usage: `runMain graft.tools.MongoScaleProbe [dir ...]` — default
  * /root/testdata/sf0.1 plus localdata/sf1 when present. Set
  * SPARK_DRIVER_MEM=24g for sf1 (the fixture holds the collection in
  * heap). Projection row: the DSv2 scan reading 2 of 8 fields, the
  * wire-narrowing win projection pushdown buys.
  */
object MongoScaleProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1") ++
        (if (java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get("localdata/sf1"))) Seq("localdata/sf1")
         else Nil)
    val spark = graft.GraftSession.get("mongo-scale-probe")

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }

    println(f"${"dir"}%-22s ${"rows"}%10s  ${"path"}%-12s parts ${"sec"}%8s ${"rows_s"}%10s")
    dirs.foreach { dir =>
      val srv = MongoFixtures.ordersRaw(spark, dir) // boot outside timers
      // one untimed pass: JVM/codegen warm, fixture server touched
      val warm = MongoSource.readRawWirePartitioned(
        spark, "127.0.0.1", srv.port, "db", "orders_raw", 4).count()
      Seq(1, 2, 4, 8).foreach { parts =>
        val (s, n) = time {
          MongoSource.readRawWirePartitioned(
            spark, "127.0.0.1", srv.port, "db", "orders_raw", parts).count()
        }
        println(f"$dir%-22s $warm%10d  ${"raw_wire"}%-12s $parts%5d $s%8.2f ${(n / s).toLong}%10d")
      }
      def dsv2(parts: Int) = spark.read
        .format("graft.sources.MongoWireSource")
        .option("host", "127.0.0.1").option("port", srv.port)
        .option("database", "db").option("collection", "orders_raw")
        .option("numPartitions", parts.toString)
        .load()
      Seq(1, 4).foreach { parts =>
        // count() prunes to one field; force every column through the
        // typed conversion path with a noop write
        val (s, _) = time {
          dsv2(parts).write.mode("overwrite").format("noop").save(); warm
        }
        println(f"$dir%-22s $warm%10d  ${"dsv2_full"}%-12s $parts%5d $s%8.2f ${(warm / s).toLong}%10d")
      }
      val (s2, _) = time {
        dsv2(4).select("_id", "priority")
          .write.mode("overwrite").format("noop").save(); warm
      }
      println(f"$dir%-22s $warm%10d  ${"dsv2_2col"}%-12s ${4}%5d $s2%8.2f ${(warm / s2).toLong}%10d")
      // prefix-range pushdown (r18): `priority startsWith "1"` renders
      // as [1, 2) server-side, so only the matching ~20% of documents
      // cross the wire and pay decode+convert; rows_s is on the FULL
      // collection basis — the speedup over dsv2_full is the win
      import org.apache.spark.sql.functions.col
      val hit = dsv2(4).filter(col("priority").startsWith("1")).count()
      val (s3, _) = time {
        dsv2(4).filter(col("priority").startsWith("1"))
          .write.mode("overwrite").format("noop").save(); hit
      }
      println(f"$dir%-22s $hit%10d  ${"dsv2_prefix"}%-12s ${4}%5d $s3%8.2f ${(warm / s3).toLong}%10d")
    }
    spark.stop()
  }
}
