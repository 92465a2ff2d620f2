package graft.core

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import com.sun.management.HotSpotDiagnosticMXBean
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.storage.BroadcastBlockId
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.SparkSpec

/** Every broadcast chunk stays below G1's humongous-object threshold.
  *
  * TorrentBroadcast cuts each broadcast (every task binary, every
  * broadcast-join build side) into `spark.broadcast.blockSize` chunks and
  * allocates a whole chunk however small the payload. G1 allocates an
  * array of half a region or more as a humongous object in regions of its
  * own, and Spark's 4 MiB default made every chunk one: those short-lived
  * pages set the process's peak RSS. The first check pins that reason
  * against the running JVM's region size rather than the constant; the
  * second checks that a build side cut into several chunks still joins
  * correctly.
  */
class BroadcastChunkSpec extends SparkSpec {

  // a byte[]'s header on a 64-bit HotSpot JVM (compressed class pointers)
  private val ArrayHeaderBytes = 16L

  private def blockBytes: Long =
    spark.sparkContext.getConf.getSizeAsKb("spark.broadcast.blockSize", "4m") * 1024

  test("a broadcast chunk plus its array header is below half a G1 region") {
    val vm = ManagementFactory.getPlatformMXBean(classOf[HotSpotDiagnosticMXBean])
    if (vm.getVMOption("UseG1GC").getValue != "true")
      cancel("G1 is not the collector of this JVM: no humongous threshold")
    val region = vm.getVMOption("G1HeapRegionSize").getValue.toLong
    info(s"spark.broadcast.blockSize = $blockBytes B, G1HeapRegionSize = $region B")
    assert(blockBytes + ArrayHeaderBytes < region / 2,
      s"a $blockBytes-byte broadcast chunk is a humongous object in " +
        s"$region-byte G1 regions")
  }

  test("a BROADCAST join whose build side spans several chunks returns the " +
    "rows of the same join without broadcasting") {
    // hex digests compress little under the broadcast's lz4 codec, so the
    // build side serializes to a few MiB: 17 chunks of 256 KiB
    val build = spark.range(0, 60000)
      .selectExpr("id AS k", "sha2(CAST(id AS STRING), 256) AS pad")
    val probe = spark.range(0, 180000, 7).selectExpr("id AS k", "id % 11 AS g")
    def join(hinted: Boolean) = probe.join(if (hinted) build.hint("broadcast") else build, "k")

    val pieces = new ConcurrentHashMap[Long, java.lang.Integer]()
    val listener = new SparkListener {
      override def onBlockUpdated(u: SparkListenerBlockUpdated): Unit =
        u.blockUpdatedInfo.blockId match {
          case BroadcastBlockId(id, field) if field.startsWith("piece") =>
            pieces.merge(id, 1, (a: Integer, b: Integer) => a + b)
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val broadcast = try {
      val df = join(hinted = true)
      val out = rows(df)
      assert(planNodes(df.queryExecution.executedPlan)
        .exists(_.isInstanceOf[BroadcastHashJoinExec]))
      // the block updates reach the listener bus asynchronously
      eventually(timeout(30.seconds)) {
        assert(pieces.values.asScala.map(_.intValue).maxOption.exists(_ > 1),
          s"no broadcast of several chunks seen: $pieces")
      }
      out
    } finally spark.sparkContext.removeSparkListener(listener)
    info(s"largest broadcast: ${pieces.values.asScala.map(_.intValue).max} chunks " +
      s"of $blockBytes B")

    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    val shuffled = try {
      spark.conf.set(key, "-1")
      val df = join(hinted = false)
      val out = rows(df)
      assert(!planNodes(df.queryExecution.executedPlan)
        .exists(_.isInstanceOf[BroadcastHashJoinExec]))
      out
    } finally spark.conf.set(key, saved)

    assert(broadcast.size == (0 until 60000 by 7).size)
    assert(broadcast.map(_.mkString("|")).sorted == shuffled.map(_.mkString("|")).sorted)
  }
}
