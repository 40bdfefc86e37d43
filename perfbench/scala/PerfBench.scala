package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** One benchmark run in a fresh JVM: build the session the way
  * `graft.Bench` does (cores and shuffle partitions = the host's), then
  * run one workload's ops in a closed loop — each op starts when the
  * previous one returned — and write every measurement to a JSON file
  * for `perfbench/run.py`, which grades the outputs and prints the
  * metrics.
  *
  * Every layer is measured from outside, around the calls into the
  * program's public entry points (`SparkEntry.queries`, the action that
  * writes a query's result, `WritePath`); with `trace=1` the [[Tracer]]
  * listeners add the per-layer counters.
  *
  * Usage: `PerfBench key=value...` with keys `workload`, `passes`,
  * `trace`, `data`, `work`, `out` and `cores`.
  */
object PerfBench {

  /** A workload step; `run` times its calls into the program. */
  final case class Op(name: String, run: Ctx => Unit)

  /** What an op sees: the session, the input dirs, and the timer. */
  final class Ctx(val spark: SparkSession, val data: String,
                  val work: String, val pass: Int, val output: String,
                  timer: Timer) {
    def time[T](kind: String)(f: => T): T = timer.span(kind)(f)
  }

  /** Collects the op-internal spans (build / action / call). */
  final class Timer {
    val spans = mutable.ArrayBuffer.empty[(String, Long, Long)]
    def span[T](kind: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try f finally spans += ((kind, t0, System.nanoTime()))
    }
  }

  /** The breadth panel, in this fixed order: ten graded batch queries
    * (every 60th of the sorted registry when the benchmark was written;
    * most of their cost is the fixed per-query floor), then
    * `q169_bfs_hops`, an `Iterate.cut` fixpoint that also fills a session
    * memo. The list is fixed so that every commit runs the same workload.
    */
  val breadthPanel: Seq[String] = Seq(
    "q01_pricing_summary", "q147_revenue_concentration",
    "q201_return_rate_rank", "q256_spearman", "q310_good_turing",
    "q365_theils_u", "q41_set_ops", "q474_dtw_profiles",
    "q529_quantile_shape", "q91_attribution", "q169_bfs_hops")

  def main(args: Array[String]): Unit = {
    val entryNanos = System.nanoTime()
    val entryUptimeMs = ManagementFactory.getRuntimeMXBean.getUptime
    val conf = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val data = conf("data")
    val cores = conf("cores").toInt
    val spark = session(cores, conf("work"))
    warmUp(spark, data, conf("work"))
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("setup_s", entryUptimeMs / 1e3 + (System.nanoTime() - entryNanos) / 1e9)
    try runWorkload(spark, conf, data, cores, out)
    finally spark.stop()
    new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(new java.io.File(conf("out")), out)
  }

  /** Session config of `Bench.sweep`, with cores and shuffle partitions
    * taken from the host; scratch dirs stay under `work`.
    */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The generic warm-up of `Bench.sweep` (scan, aggregate, join,
    * window, sort over the 5-row region table), plus one parquet write
    * because every op ends in one: part of set-up.
    */
  def warmUp(spark: SparkSession, data: String, work: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val r = spark.read.parquet(s"$data/region.parquet")
    r.write.format("noop").mode("overwrite").save()
    r.groupBy(col("r_regionkey")).agg(count(lit(1)).as("n"))
      .join(r, "r_regionkey")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("r_regionkey")).orderBy(col("r_name"))))
      .orderBy(col("rn"), col("r_regionkey"))
      .write.format("noop").mode("overwrite").save()
    r.as("a").join(r.as("b").hint("shuffle_hash"),
        col("a.r_regionkey") === col("b.r_regionkey"))
      .write.format("noop").mode("overwrite").save()
    r.write.mode(SaveMode.Overwrite).parquet(s"$work/warmup")
  }

  /** A registry query: build the DataFrame, then run it into a parquet
    * dir of its own, which the correctness gate reads afterwards.
    */
  def queryOp(name: String): Op = Op(name, ctx => {
    val df = ctx.time("build")(SparkEntry.queries(name)(ctx.spark, ctx.data))
    ctx.time("action")(df.write.parquet(ctx.output))
  })

  /** The op sequence of one pass. */
  def plan(workload: String): Seq[Op] = workload match {
    case "breadth" =>
      val missing = breadthPanel.filterNot(SparkEntry.queries.contains)
      require(missing.isEmpty,
        s"breadth panel names queries the registry lacks: ${missing.mkString(", ")}")
      breadthPanel.map(queryOp)
    case "migrate" => Migrate.ops
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The untimed between-op cleanup of the graded bench: cached frames,
    * then localCheckpoint blocks that no session memo holds.
    */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.Bench.reclaimCheckpoints(spark)
  }

  private def runWorkload(spark: SparkSession, conf: Map[String, String],
                          data: String, cores: Int,
                          out: java.util.LinkedHashMap[String, Any]): Unit = {
    val workload = conf("workload")
    val work = conf("work")
    val ops = plan(workload)
    val tracer = if (conf("trace") == "1") Some(Tracer.install(spark)) else None
    val sc = spark.sparkContext
    // one clock for op spans and listener records: epoch ms
    val epochMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    def ms(ns: Long): Double = epochMs + ns / 1e6
    val records = new java.util.ArrayList[Any]()
    var opId = 0
    for (pass <- 1 to conf("passes").toInt; op <- ops) {
      opId += 1
      val timer = new Timer
      val output = s"$work/out/op$opId"
      if (tracer.isDefined) sc.setJobGroup(s"op$opId", op.name)
      val t0 = System.nanoTime()
      val error =
        try { op.run(new Ctx(spark, data, work, pass, output, timer)); None }
        catch { case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val t1 = System.nanoTime()
      if (tracer.isDefined) sc.clearJobGroup()
      error.foreach(e => System.err.println(s"[perfbench] ${op.name} failed: $e"))
      cleanup(spark)
      val rec = new java.util.LinkedHashMap[String, Any]()
      rec.put("id", opId)
      rec.put("pass", pass)
      rec.put("name", op.name)
      rec.put("start", ms(t0))
      rec.put("end", ms(t1))
      rec.put("spans", timer.spans.map { case (k, a, b) =>
        java.util.List.of[Any](k, ms(a), ms(b)) }.asJava)
      rec.put("error", error.orNull)
      if (new java.io.File(output).isDirectory) {
        rec.put("output", output)
        rec.put("oracle", SparkEntry.oracleSql.get(op.name).orNull)
      }
      // memo-backed blocks are the persisted RDDs the cleanup keeps
      rec.put("memo_frames", sc.getPersistentRDDs.size)
      if (workload == "migrate") rec.putAll(Migrate.afterOp(work, pass))
      records.add(rec)
    }
    out.put("ops", records)
    out.put("jvm", jvmInfo(spark, cores))
    out.put("live_heap_mb", liveHeapMb())
    tracer.foreach(t => out.put("trace", t.report(spark)))
  }

  /** Driver heap in use after a full collection: the least of three,
    * so that objects the context cleaner is still releasing do not count.
    */
  def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  private def jvmInfo(spark: SparkSession, cores: Int): java.util.Map[String, Any] = {
    val rt = ManagementFactory.getRuntimeMXBean
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("jvm", s"${rt.getVmName} ${rt.getVmVersion}")
    m.put("spark", spark.version)
    m.put("cores", cores)
    m.put("max_heap_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    m.put("jit_s", ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3)
    m.put("gc_s", ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3)
    m
  }
}
