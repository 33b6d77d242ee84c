package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Encoders, SparkSession}

import graft.GraftEngine
import graft.mapper.ResultMapper
import graft.params.Sql._
import graft.params.SqlStatement

/** Files under a directory, for the commit layer's filesystem
  * delta and for space amplification.
  */
object FsTree {
  def list(root: Path): Map[String, Long] =
    if (!Files.isDirectory(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      catch { case _: java.io.UncheckedIOException => Map.empty }
      finally s.close()
    }

  /** Files created or changed between two listings, split into data
    * (parquet) and metadata bytes. Returns (files, dataBytes, metaBytes).
    */
  def delta(before: Map[String, Long], after: Map[String, Long]): (Int, Long, Long) = {
    val written = after.filter { case (p, n) => !before.get(p).contains(n) }
    val (data, meta) = written.partition(_._1.endsWith(".parquet"))
    (written.size, data.values.sum, meta.values.sum)
  }
}

/** The typed-query row of the `txn` workload. */
final case class OrderRow(oOrderkey: Long, oCustkey: Long, oTotalprice: Double)

/** One generated order. */
final case class NewOrder(key: Long, cust: Long, status: String, price: Double,
                          date: Instant, priority: String)

/** `txn`: one client calling `GraftEngine` on the catalog table `lake.orders`
  * with the generated statement stream. An in-memory model of the base rows
  * plus every committed batch checks every read.
  */
final class Txn(spark: SparkSession, a: Main.Args, input: JsonNode) extends Workload {
  private val stream: IndexedSeq[JsonNode] = input.get("statements").elements().asScala.toIndexedSeq
  private val warmStream: IndexedSeq[JsonNode] = input.get("warmup").elements().asScala.toIndexedSeq

  private final class Model(base: Map[Long, (Long, Double)]) {
    val rows = mutable.HashMap.from(base)
    // (row count, sum of order keys) of every snapshot, version 1 first
    val versions = ArrayBuffer((rows.size.toLong, rows.keysIterator.sum))
    def commit(batch: Seq[NewOrder]): Unit = {
      batch.foreach(o => rows(o.key) = (o.cust, o.price))
      versions += ((rows.size.toLong, versions.last._2 + batch.map(_.key).sum))
    }
    def byCust(c: Long): Seq[OrderRow] =
      rows.iterator.collect { case (k, (cc, p)) if cc == c => OrderRow(k, cc, p) }.toSeq.sortBy(_.oOrderkey)
  }

  private lazy val base: Map[Long, (Long, Double)] =
    spark.read.parquet(s"${a.data}/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

  private var engine: GraftEngine = _
  private var model: Model = _
  private def warehouse(k: Int): Path = a.work.resolve(s"txn-warehouse-$k")

  /** Runs the warm-up stream on a throwaway warehouse. */
  def warmup(): Unit = {
    open(a.work.resolve("txn-warmup"), sql"CREATE TABLE lake.orders AS SELECT * FROM orders_src WHERE o_orderkey < 200")
    val warm = new Model(base.filter(_._1 < 200))
    warmStream.foreach(st => run(st, warm, new SpanBuf)())
  }

  /** Opens a fresh warehouse whose `lake.orders` is built by CTAS from the
    * orders input.
    */
  override def prepare(k: Int): Unit = {
    open(warehouse(k), sql"CREATE TABLE lake.orders AS SELECT * FROM orders_src")
    model = new Model(base)
  }

  private def open(wh: Path, ctas: SqlStatement): Unit = {
    engine = new GraftEngine(spark, wh.toString)
    engine.executeNonQuery(sql"CREATE SCHEMA lake")
    engine.registerView("orders_src", spark.read.parquet(s"${a.data}/orders.parquet"))
    engine.executeNonQuery(ctas)
  }

  private def order(n: JsonNode): NewOrder = NewOrder(n.get(0).asLong(), n.get(1).asLong(),
    n.get(2).asText(), n.get(3).asDouble(), Instant.parse(n.get(4).asText()), n.get(5).asText())

  // probes and write accounting of the traced pass
  private val probes = mutable.Map.empty[String, ArrayBuffer[Double]]
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private def probe[T](key: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally probes.getOrElseUpdate(key, ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
  }

  /** Runs one statement and returns its check, to be evaluated after the
    * clock stops: an error on a result the model disagrees with.
    */
  private def run(st: JsonNode, m: Model, buf: SpanBuf): () => Option[String] = {
    def render(f: => SqlStatement): SqlStatement = buf.time("params.render")(f)
    def eng[T](f: => T): T = buf.time("engine")(f)
    // the action on the engine's DataFrame: its time on the calling thread
    // outside Spark jobs counts to execution
    def collect[T](f: => T): T = buf.time("exec")(f)
    st.get("k").asText() match {
      case "insert" =>
        val batch = st.get("rows").elements().asScala.map(order).toSeq
        val stmt = render(SqlStatement(batch.map(o =>
          sql"(${o.key}, ${o.cust}, ${o.status}, ${o.price}, ${o.date}, ${o.priority})".text)
          .mkString("INSERT INTO lake.orders VALUES ", ", ", "")))
        val n = eng(engine.executeNonQuery(stmt))
        () => {
          m.commit(batch)
          if (n == batch.size) None else Some(s"insert reported $n rows, expected ${batch.size}")
        }
      case "point" =>
        val key = st.get("key").asLong()
        val stmt = render(sql"SELECT o_totalprice FROM lake.orders WHERE o_orderkey = $key")
        val df = eng(engine.query(stmt))
        val got = buf.time("mapper")(ResultMapper.scalar[Double](df))
        () => {
          val want = m.rows.get(key).map(_._2)
          if (got == want) None else Some(s"point $key: got $got, want $want")
        }
      case "typed" =>
        val cust = st.get("cust").asLong()
        val stmt = render(sql"SELECT o_orderkey, o_custkey, o_totalprice FROM lake.orders WHERE o_custkey = $cust")
        val df = eng(engine.query(stmt))
        val ds = buf.time("mapper")(ResultMapper.datasetOf[OrderRow](df)(Encoders.product[OrderRow]))
        val got = collect(ds.collect().toIndexedSeq)
        () => {
          val want = m.byCust(cust)
          if (got.sortBy(_.oOrderkey) == want) None else Some(s"typed $cust: ${got.size} rows, want ${want.size}")
        }
      case "travel" =>
        val v = st.get("v").asLong()
        val stmt = render(sql"SELECT count(*) AS n, sum(o_orderkey) AS s FROM lake.orders FOR VERSION AS OF $v")
        val df = eng(engine.query(stmt))
        val r = collect(df.collect())
        val got = (r(0).getLong(0), r(0).getLong(1))
        () => {
          val want = m.versions(v.toInt - 1)
          if (got == want) None else Some(s"travel $v: got $got, want $want")
        }
      case "snap" =>
        val stmt = render(sql"""SELECT count(*) AS n, max(snapshot_id) AS m FROM lake."orders$$snapshots"""")
        val df = eng(engine.query(stmt))
        val r = collect(df.collect())
        val got = (r(0).getLong(0), r(0).getLong(1))
        () => {
          val want = (m.versions.size.toLong, m.versions.size.toLong)
          if (got == want) None else Some(s"snapshots: got $got, want $want")
        }
    }
  }

  private def tableDir: Path = java.nio.file.Paths.get(engine.warehouse, "lake", "orders")

  def pass(k: Int, trace: Option[Collector], records: ArrayBuffer[OpRecord]): Seq[Op] =
    stream.zipWithIndex.map { case (st, i) =>
      val kind = st.get("k").asText()
      val name = f"$kind-$i%03d"
      val buf = new SpanBuf
      val before = if (trace.isDefined && kind == "insert") FsTree.list(tableDir) else Map.empty[String, Long]
      val s0 = Clock.nowUs
      val t0 = System.nanoTime()
      val check = try run(st, model, buf)
                  catch { case e: Throwable => () => Some(e.getClass.getName) }
      val wallUs = (System.nanoTime() - t0) / 1000
      val s1 = Clock.nowUs
      val err = check()
      trace.foreach { c =>
        val ev = c.take()
        if (kind == "insert") {
          val (files, data, meta) = FsTree.delta(before, FsTree.list(tableDir))
          ev.add("commit.count", 1); ev.add("commit.files_written", files)
          ev.add("commit.data_bytes", data.toDouble); ev.add("commit.meta_bytes", meta.toDouble)
          // raw bytes of the inserted rows: two longs, a double, a timestamp, two strings
          ev.add("commit.user_bytes", st.get("rows").elements().asScala.map(r =>
            32.0 + r.get(2).asText().length + r.get(5).asText().length).sum)
          catalogProbe()
        }
        if (kind == "typed") {
          // mapper cost by difference: the typed call minus the same
          // statement run untyped (the faster of two runs)
          val typedMs = buf.spans.filter(s => s.layer != "params.render").map(_.us).sum / 1e3
          val stmt = sql"SELECT o_orderkey, o_custkey, o_totalprice FROM lake.orders WHERE o_custkey = ${st.get("cust").asLong()}"
          val untypedMs = (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            engine.query(stmt).collect()
            (System.nanoTime() - t0) / 1e6
          }.min
          probes.getOrElseUpdate("mapper.ms", ArrayBuffer.empty) += typedMs - untypedMs
        }
        if (kind == "point" || kind == "typed") {
          ev.add("scan.lookup_files_read", ev.counters("files_read"))
          val snaps = engine.catalog.snapshots("lake", "orders")
          ev.add("scan.lookup_files_total", engine.catalog.manifestEntries("lake", "orders", snaps.last).size)
        }
        records += OpRecord.of(i, kind, name, Span("other", s0, s1, 0), buf.spans.toSeq, ev)
        c.take() // the probes' own events belong to no operation
      }
      Op(kind, name, wallUs, err)
    }

  /** Metadata reads on a cold catalog instance and on the engine's warm one. */
  private def catalogProbe(): Unit = {
    val cold = new graft.catalog.SnapshotCatalog(spark, engine.warehouse)
    val snaps = probe("catalog.log_read_ms")(cold.snapshots("lake", "orders"))
    val entries = probe("catalog.manifest_read_ms")(cold.manifestEntries("lake", "orders", snaps.last))
    val warm = probe("catalog.log_read_warm_ms")(engine.catalog.snapshots("lake", "orders"))
    probe("catalog.manifest_read_warm_ms")(engine.catalog.manifestEntries("lake", "orders", warm.last))
    counts("snapshots") = snaps.size
    counts("manifests") = cold.manifestNames("lake", "orders", snaps.last).size
    counts("data_files") = entries.size
  }

  override def layerMetrics(records: Seq[OpRecord]): Map[String, Double] = {
    def total(c: String) = records.map(_.counters.getOrElse(c, 0.0)).sum
    val live = {
      val snaps = engine.catalog.snapshots("lake", "orders")
      engine.catalog.manifestEntries("lake", "orders", snaps.last).map(_.bytes).sum.toDouble
    }
    val written = total("commit.data_bytes") + total("commit.meta_bytes")
    val lookups = total("scan.lookup_files_total")
    probes.map { case (k, v) => k -> Main.median(v.toSeq) }.toMap ++ Map(
      "catalog.snapshots" -> counts("snapshots"),
      "catalog.manifests" -> counts("manifests"),
      "catalog.data_files" -> counts("data_files"),
      "scan.files_skipped_ratio" -> (if (lookups == 0) 0.0 else 1 - total("scan.lookup_files_read") / lookups),
      "commit.count" -> total("commit.count"),
      "commit.files_written" -> total("commit.files_written"),
      "commit.data_mb" -> total("commit.data_bytes") / 1048576.0,
      "commit.meta_mb" -> total("commit.meta_bytes") / 1048576.0,
      "commit.write_amp" -> written / math.max(1.0, total("commit.user_bytes")),
      "space_amp" -> FsTree.list(tableDir).values.sum / math.max(1.0, live))
  }
}
