package graft.perfbench

import java.io.File

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.SparkSession

/** JSON output through Jackson (on the classpath with Spark). Keys keep their given order. */
object Json {
  private val mapper = new ObjectMapper()

  def obj(kv: Seq[(String, Any)]): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v match { case o: Option[_] => o.orNull; case x => x }) }
    m
  }

  def write(v: Any): String = mapper.writeValueAsString(v)
}

/** Operations attempted and failed. An exception or a failed output
  * check fails the operation; nothing here reads logs, so the benign
  * stack traces Spark logs on correct runs cannot count.
  */
final class Ledger {
  var attempted = 0L
  var failed = 0L

  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] FAILED $what")
        e.printStackTrace()
        None
    }
  }

  def check(what: String)(ok: => Boolean): Boolean =
    attempt(what)(require(ok, s"check failed: $what")).isDefined
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete(): Unit
  }

  /** Regular files under `f` that Spark wrote as data (not `_SUCCESS`, not `.crc`). */
  def dataFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(dataFiles)
    else if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
    else Seq(f)
}

/** RDD blocks the block manager still holds: persisted frames and
  * `localCheckpoint` output alike (both register as persistent RDDs).
  */
object Blocks {
  final case class Held(blocks: Long, mb: Double)

  def held(spark: SparkSession): Held = {
    val infos = spark.sparkContext.getRDDStorageInfo
    Held(infos.map(_.numCachedPartitions.toLong).sum,
      infos.map(i => i.memSize + i.diskSize).sum / 1e6)
  }

  def free(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
