// Lists the Spark jobs of one `txn`-shaped INSERT … VALUES through
// GraftEngine: lake.orders is built by CTAS from the benchmark's orders
// input, three untimed inserts warm the JIT and the codegen cache, then one
// 15-row insert runs with a listener attached. Prints one line per job
// (id, call site, stages, tasks, ms) and the files the commit wrote.
//
// Build and run from the repository root against compiled engine classes
// ($CLASSES: target/scala-2.13/classes or .bench_build/classes):
//
//   J=$(ls "$SPARK_HOME"/jars/*.jar | tr '\n' ':')
//   mkdir -p /tmp/insert-jobs
//   java -cp "$J" scala.tools.nsc.Main -nowarn -d /tmp/insert-jobs \
//     -classpath "$CLASSES:$J" plans/r15/InsertJobs.scala
//   java <the --add-opens flags of tools/run_main.sh> \
//     -cp "/tmp/insert-jobs:$CLASSES:$J" plans.InsertJobs \
//     perfbench/data/sf0.01 "$(mktemp -d)" 2
//
// The last argument is N of local[N]; 2 is what perfbench's txn runs on a
// 4-CPU host.
package org.apache.spark {
  object InsertJobsBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package plans {
  import scala.collection.mutable.ArrayBuffer

  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
  import org.apache.spark.sql.SparkSession

  import graft.params.Sql._
  import graft.params.SqlStatement

  object InsertJobs {
    final case class Job(id: Int, site: String, stages: Int, tasks: Int, startMs: Long,
                         var endMs: Long = -1L)

    def main(args: Array[String]): Unit = {
      val Array(data, work, cpus) = args
      val spark = SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val engine = new graft.GraftEngine(spark, s"$work/warehouse")
      engine.executeNonQuery(sql"CREATE SCHEMA lake")
      engine.registerView("orders_src", spark.read.parquet(s"$data/orders.parquet"))
      engine.executeNonQuery(sql"CREATE TABLE lake.orders AS SELECT * FROM orders_src")

      var next = 2000000L
      def insert(rows: Int): Long = {
        val values = (0 until rows).map { i =>
          val k = next + i
          sql"($k, ${k % 1000}, ${"O"}, ${100.25 + i}, ${java.time.Instant.parse("1998-01-01T00:00:00Z")}, ${"1-URGENT"})".text
        }
        next += rows
        engine.executeNonQuery(SqlStatement(values.mkString("INSERT INTO lake.orders VALUES ", ", ", "")))
      }
      (1 to 3).foreach(_ => insert(15))

      val jobs = ArrayBuffer.empty[Job]
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
          // the result stage's name is the job's call site
          jobs += Job(e.jobId, e.stageInfos.maxBy(_.stageId).name,
            e.stageInfos.size, e.stageInfos.map(_.numTasks).sum, e.time)
        }
        override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
          jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
        }
      }
      val dataDir = java.nio.file.Paths.get(engine.warehouse, "lake", "orders")
      def parquetFiles(): Set[String] = {
        val s = java.nio.file.Files.walk(dataDir)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
        } finally s.close()
      }
      val before = parquetFiles()
      org.apache.spark.InsertJobsBus.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val n = insert(15)
      val wallMs = (System.nanoTime() - t0) / 1e6
      org.apache.spark.InsertJobsBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)

      println(s"INSERT INTO lake.orders VALUES <15 rows>: reported $n rows, wall ${"%.1f".format(wallMs)} ms, local[$cpus]")
      println(s"spark jobs: ${jobs.size}")
      jobs.foreach { j =>
        println(f"  job ${j.id}%4d  stages ${j.stages}  tasks ${j.tasks}%2d  ${j.endMs - j.startMs}%4d ms  ${j.site}")
      }
      val written = (parquetFiles() -- before).toSeq.sorted
      println(s"data files written: ${written.size}")
      written.foreach(p => println(s"  ${dataDir.relativize(java.nio.file.Paths.get(p))}"))
      spark.stop()
    }
  }
}
