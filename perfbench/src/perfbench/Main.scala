package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One timed operation as the end-to-end metrics see it; `name` identifies
  * the same operation across passes.
  */
final case class Op(kind: String, name: String, wallUs: Long, error: Option[String])

/** A workload: set-up, and timed passes over a fixed amount of work. Every
  * pass must leave the program's outputs checked: a mismatch is an
  * operation with an error.
  */
trait Workload {
  /** Runs the workload's paths once, untimed, so the timed passes measure
    * warm JIT and codegen caches.
    */
  def warmup(): Unit
  /** Untimed preparation before pass `k`; the first counts to set-up. */
  def prepare(k: Int): Unit = ()
  /** Runs pass `k`; with a collector, records one traced `OpRecord` per op. */
  def pass(k: Int, trace: Option[Collector], records: ArrayBuffer[OpRecord]): Seq[Op]
  /** Layer metrics only this workload can measure, after the traced pass. */
  def layerMetrics(records: Seq[OpRecord]): Map[String, Double] = Map.empty
  /** Called once after the timed passes. */
  def finish(): Unit = ()
}

/** The benchmark harness: builds one session, sets the workload up, runs its
  * timed passes and writes every metric to a JSON file.
  *
  * {{{
  * perfbench.Main --workload olap|txn --input <ops.json>
  *   --data <dir> --work <dir> --goldens <file> --seconds <n> --trace 0|1
  *   --out <result.json> [--record]
  * }}}
  */
object Main {
  val mapper = new ObjectMapper()
  /** Timed passes a run makes at least: each operation's median needs three. */
  val MinPasses = 3

  final case class Args(workload: String, input: Path, data: String, work: Path,
                        goldens: Path, seconds: Double, trace: Boolean, out: Path,
                        record: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), Paths.get(m("input")), m("data"), Paths.get(m("work")),
      Paths.get(m("goldens")), m("seconds").toDouble, m("trace") == "1", Paths.get(m("out")),
      a.contains("--record"))
  }

  def session(cpus: Int, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Spark's status store keeps up to 1000 jobs, stages and executions
      // by default; kept small, the retained heap does not grow with the
      // number of passes that fit in a run
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
    val s = graft.LocalDirs.configure(b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The `Bench` calibration job: fixed CPU-bound work, no I/O. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(50000000L).selectExpr("bit_xor(xxhash64(id)) AS h").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString).toInt
    val input = mapper.readTree(a.input.toFile)
    val spark = session(cpus, a.work)
    def sinceStartS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sessionS = sinceStartS
    val out = mutable.LinkedHashMap.empty[String, Double]
    val errors = ArrayBuffer.empty[String]
    try {
      val w: Workload = a.workload match {
        case "olap" => new Registry(spark, a, input)
        case "txn" => new Txn(spark, a, input)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      // set-up: JVM start to the first timed pass: the session, the warm-up
      // and the first pass's preparation. The calibration job that follows
      // is a host measurement, reported on its own.
      w.warmup()
      val warmedS = sinceStartS
      w.prepare(0)
      out("setup_s") = sinceStartS
      System.err.println(f"[perfbench] set-up ${out("setup_s")}%.2f s: session $sessionS%.2f s, " +
        f"warm-up ${warmedS - sessionS}%.2f s, preparation ${out("setup_s") - warmedS}%.2f s")
      // every run enters the timed passes from the same heap state
      System.gc()
      val calibBefore = calibrate(spark)

      // timed passes: whole passes, at least MinPasses of them, and another
      // while it is expected to end within the time asked for
      val ops = ArrayBuffer.empty[Op]
      val budgetNs = (a.seconds * 1e9).toLong
      val t0 = System.nanoTime()
      var k = 0
      var go = true
      while (go) {
        if (k > 0) w.prepare(k)
        val p0 = System.nanoTime()
        ops ++= w.pass(k, None, ArrayBuffer.empty)
        val p1 = System.nanoTime()
        k += 1
        go = !a.record && (k < MinPasses || p1 - t0 + (p1 - p0) <= budgetNs)
      }
      w.finish()
      graft.CacheHygiene.sweep(spark)
      // each operation at its median over the passes, so that one pass
      // slowed by the host does not move the figures. The latency
      // percentiles are taken over these medians: over every execution,
      // olap's p50 would fall between two entries and read the slowest
      // execution of one of them. They leave out operations that failed.
      val byOp = ops.toSeq.groupBy(_.name).values.toSeq
      def medianMs(os: Seq[Op]) = median(os.map(_.wallUs / 1e3))
      val lat = byOp.filter(_.forall(_.error.isEmpty)).map(medianMs)
      out("run_s") = byOp.map(medianMs).sum / 1e3
      out("op_p50_ms") = pct(lat, 0.5)
      out("op_p90_ms") = pct(lat, 0.9)
      out("heap_retained_mb") = retainedHeapMb()
      var attempted = ops.size
      val failedOps = ops.filter(_.error.nonEmpty)

      if (a.trace) {
        // the same work again on fresh preparations: once untraced as the
        // reference for the tracing cost, then traced. Both pass times are
        // sums of operation wall times, so the harness's own probes between
        // traced operations count to neither.
        w.prepare(k)
        val reference = w.pass(k, None, ArrayBuffer.empty)
        k += 1
        val collector = new Collector(spark)
        w.prepare(k)
        collector.reset()
        val records = ArrayBuffer.empty[OpRecord]
        val traced = w.pass(k, Some(collector), records)
        val referenceS = reference.map(_.wallUs).sum / 1e6
        val tracedS = traced.map(_.wallUs).sum / 1e6
        attempted += reference.size + traced.size
        failedOps ++= (reference ++ traced).filter(_.error.nonEmpty)
        OpRecord.write(a.work.resolve("trace.jsonl"), records.toSeq)
        out ++= Layers.metrics(records.toSeq, traced, tracedS, cpus)
        out("trace.overhead_ratio") = tracedS / referenceS - 1
        out ++= w.layerMetrics(records.toSeq)
        out("commit.conflicts") = (reference ++ traced)
          .count(_.error.contains(classOf[graft.catalog.CommitConflictException].getName))
        // statement-type latencies come from the untraced passes
        if (a.workload == "txn") ops.groupBy(_.kind).foreach { case (kind, os) =>
          out(s"txn.${kind}_p50_ms") = pct(latencies(os.toSeq), 0.5)
          out(s"txn.${kind}_p90_ms") = pct(latencies(os.toSeq), 0.9)
        }
        out("host.calib_before_s") = calibBefore
        out("host.calib_after_s") = calibrate(spark)
        // a layer that does no work in this workload reports 0
        Layers.all.foreach(n => if (!out.contains(n)) out(n) = 0.0)
      } else {
        System.err.println(f"[perfbench] calib before ${calibBefore}%.3f s, after ${calibrate(spark)}%.3f s")
      }
      failedOps.foreach(o => errors += s"${o.kind} ${o.name}: ${o.error.get}")
      writeResult(a.out, attempted, failedOps.size, out, ops = ops.toSeq)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        errors += s"harness: ${e.getClass.getName}: ${e.getMessage}"
        writeResult(a.out, 0, 0, out, Some(e.toString))
    } finally {
      errors.take(20).foreach(e => System.err.println(s"[perfbench] failed $e"))
      spark.stop()
    }
  }

  /** Wall times of the successful executions of every pass: a percentile
    * needs samples beyond it, so repeated passes count as samples.
    */
  def latencies(ops: Seq[Op]): Seq[Double] = ops.filter(_.error.isEmpty).map(_.wallUs / 1e3)

  /** Heap in use after full GCs: the least of five readings, since
    * Spark's cleaner thread frees broadcast and shuffle state only after a
    * GC has found it unreachable, and a reading can catch it before then.
    */
  def retainedHeapMb(): Double = {
    val bean = java.lang.management.ManagementFactory.getMemoryMXBean
    def used() = { System.gc(); Thread.sleep(200); bean.getHeapMemoryUsage.getUsed / 1048576.0 }
    Seq.fill(5)(used()).min
  }

  private def writeResult(p: Path, attempted: Int, failed: Int,
                          metrics: collection.Map[String, Double], fatal: Option[String] = None,
                          ops: Seq[Op] = Nil): Unit = {
    val node = mapper.createObjectNode()
    node.put("attempted", attempted)
    node.put("failed", failed)
    fatal.foreach(node.put("fatal", _))
    val m = node.putObject("metrics")
    metrics.foreach { case (k, v) => m.put(k, v) }
    // per-operation wall times of the untraced passes, for inspection
    val o = node.putArray("ops")
    ops.foreach(op => o.addArray().add(op.name).add(op.wallUs / 1e3))
    Files.writeString(p, mapper.writeValueAsString(node))
  }

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq
}

/** Turns traced operation records into the per-layer metrics. Layer times
  * are mean milliseconds per operation; counts and volumes are totals over
  * the traced pass.
  */
object Layers {
  /** Every per-layer metric, whichever workload runs. */
  val all: Seq[String] = Seq(
    "params.render_us", "engine.route_ms", "engine.jobs_per_stmt",
    "spark.parse_ms", "spark.analyze_ms", "spark.optimize_ms", "spark.plan_ms",
    "catalog.log_read_ms", "catalog.log_read_warm_ms", "catalog.manifest_read_ms",
    "catalog.manifest_read_warm_ms", "catalog.snapshots", "catalog.manifests",
    "catalog.data_files", "scan.files_read", "scan.files_skipped_ratio",
    "exec.ms", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.cpu_s",
    "exec.gc_s", "exec.input_mb", "exec.shuffle_mb", "exec.spill_mb",
    "exec.sched_gap_ms", "exec.busy_ratio",
    "commit.count", "commit.files_written", "commit.data_mb", "commit.meta_mb",
    "commit.write_amp", "commit.conflicts", "space_amp",
    "mapper.ms", "mapper.self_ms", "op.build_ms", "op.drain_ms", "op.build_self_ms",
    "op.drain_self_ms", "other_ms", "op.wall_ms", "trace.unattributed_ms",
    "trace.overhead_ratio", "failed_ratio", "host.calib_before_s", "host.calib_after_s") ++
    Seq("insert", "point", "typed", "travel").flatMap(k => Seq(s"txn.${k}_p50_ms", s"txn.${k}_p90_ms"))

  def metrics(records: Seq[OpRecord], ops: Seq[Op], passS: Double, cpus: Int): Map[String, Double] = {
    val n = math.max(1, records.size).toDouble
    def selfMs(l: String) = records.map(_.selfUs.getOrElse(l, 0L)).sum / 1e3 / n
    def spanMs(l: String) = records.map(_.spanUs(l)).sum / 1e3 / n
    def total(c: String) = records.map(_.counters.getOrElse(c, 0.0)).sum
    val taskS = total("task_ms") / 1e3
    Map(
      "params.render_us" -> selfMs("params.render") * 1e3,
      "engine.route_ms" -> selfMs("engine"),
      "engine.jobs_per_stmt" -> total("jobs") / n,
      "spark.parse_ms" -> selfMs("spark.parse"),
      "spark.analyze_ms" -> selfMs("spark.analyze"),
      "spark.optimize_ms" -> selfMs("spark.optimize"),
      "spark.plan_ms" -> selfMs("spark.plan"),
      "exec.ms" -> selfMs("exec"),
      "exec.jobs" -> total("jobs"),
      "exec.stages" -> total("stages"),
      "exec.tasks" -> total("tasks"),
      "exec.task_s" -> taskS,
      "exec.cpu_s" -> total("cpu_ns") / 1e9,
      "exec.gc_s" -> total("gc_ms") / 1e3,
      "exec.input_mb" -> total("input_bytes") / 1048576.0,
      "exec.shuffle_mb" -> total("shuffle_bytes") / 1048576.0,
      "exec.spill_mb" -> total("spill_bytes") / 1048576.0,
      "exec.sched_gap_ms" -> total("sched_gap_ms") / math.max(1.0, total("jobs")),
      "exec.busy_ratio" -> taskS / (passS * cpus),
      "scan.files_read" -> total("files_read"),
      "op.build_ms" -> spanMs("op.build"),
      "op.drain_ms" -> spanMs("op.drain"),
      "op.build_self_ms" -> selfMs("op.build"),
      "op.drain_self_ms" -> selfMs("op.drain"),
      "mapper.self_ms" -> selfMs("mapper"),
      "other_ms" -> selfMs("other"),
      "op.wall_ms" -> records.map(_.wallUs).sum / 1e3 / n,
      // layer self times add up to the wall time of each operation
      "trace.unattributed_ms" -> records.map(r => math.abs(r.wallUs - r.selfUs.values.sum)).sum / 1e3 / n,
      "failed_ratio" -> ops.count(_.error.nonEmpty).toDouble / math.max(1, ops.size))
  }
}
