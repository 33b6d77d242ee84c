package perfbench

import java.nio.file.Files
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Row count and order-insensitive hash of a result. */
final case class Digest(rows: Long, hash: Long)

object Digest {
  private def rowHash(bytesBase: AnyRef, off: Long, len: Int): Long =
    (Murmur3_x86_32.hashUnsafeBytes(bytesBase, off, len, 42).toLong << 32) ^
      (Murmur3_x86_32.hashUnsafeBytes(bytesBase, off, len, 7).toLong & 0xffffffffL)

  /** Plans `df` (the Catalyst phases land in its tracker) and runs the
    * executed plan, hashing every row. Like `Bench`'s noop-sink write, every
    * output column is consumed, so nothing the query computes is pruned.
    */
  def drain(df: DataFrame): Digest = {
    val qe = df.queryExecution
    qe.executedPlan
    val schema: StructType = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench drain")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        it.foreach { r =>
          val u = proj(r)
          n += 1
          h += rowHash(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes)
        }
        Iterator((n, h))
      }.collect()
    }
    Digest(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}

/** `olap`: registry entries of `graft.SparkEntry`, each built and drained,
  * in the order the seed gave. Outputs are checked against goldens (row
  * count and hash) recorded with `--record`.
  */
final class Registry(spark: SparkSession, a: Main.Args, input: JsonNode) extends Workload {
  private val passes: Seq[Seq[String]] =
    input.get("passes").elements().asScala.map(Main.strings).toSeq
  private val warmupNames = Main.strings(input.get("warmup"))
  private val goldens: Map[String, Digest] =
    if (a.record || !Files.exists(a.goldens)) Map.empty
    else Main.mapper.readTree(a.goldens.toFile).properties().asScala.map { e =>
      e.getKey -> Digest(e.getValue.get(0).asLong(), e.getValue.get(1).asLong())
    }.toMap
  private val recorded = mutable.TreeMap.empty[String, Digest]

  def warmup(): Unit = warmupNames.foreach { q =>
    Digest.drain(graft.SparkEntry.queries(q)(spark, a.data))
    graft.CacheHygiene.sweep(spark)
  }

  def pass(k: Int, trace: Option[Collector], records: ArrayBuffer[OpRecord]): Seq[Op] = {
    passes(k % passes.size).zipWithIndex.map { case (name, i) =>
      val fn = graft.SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(s"perfbench: $name")
      val buf = new SpanBuf
      val s0 = Clock.nowUs
      val t0 = System.nanoTime()
      val err = try {
        val df = buf.time("op.build")(fn(spark, a.data))
        val d = buf.time("op.drain")(Digest.drain(df))
        if (a.record) { recorded(name) = d; None }
        else goldens.get(name) match {
          case Some(g) if g == d => None
          case Some(g) => Some(s"output mismatch: got $d, golden $g")
          case None => Some("no golden recorded")
        }
      } catch { case e: Throwable => Some(e.getClass.getName) }
      val wallUs = (System.nanoTime() - t0) / 1000
      val s1 = Clock.nowUs
      spark.sparkContext.setJobDescription(null)
      trace.foreach { c =>
        records += OpRecord.of(i, a.workload, name, Span("other", s0, s1, 0), buf.spans.toSeq, c.take())
      }
      graft.CacheHygiene.sweep(spark)
      Op(a.workload, name, wallUs, err)
    }
  }

  override def finish(): Unit = if (a.record) writeGoldens()

  private def writeGoldens(): Unit = {
    val node = Main.mapper.createObjectNode()
    recorded.foreach { case (k, d) => node.putArray(k).add(d.rows).add(d.hash) }
    Files.writeString(a.goldens, Main.mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node))
  }
}
