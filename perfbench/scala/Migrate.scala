package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

import graft.{SchemaCatalog, Tables}
import graft.operators.WritePath

/** The `migrate` workload: the reference's product (a schema-driven
  * table copier) and its merge writers, one pass into a fresh
  * destination `<work>/migrate/pass<N>`:
  *
  *  1. `full_copy`: all catalog tables, quarantine on;
  *  2. `delta_copy`: the seeded delta of the fact tables through the
  *     same path (re-sent keys are skipped, NULL required columns are
  *     quarantined);
  *  3. `partition_copy`: events into a date-partitioned copy;
  *  4. `events_merge`: `mergeDatePartitioned` of the seeded events delta;
  *  5. `customer_upsert`: `upsert` of the seeded customer delta;
  *  6. `q533_streaming_croston`: the registry's stateful streaming
  *     replay (micro-batches through a state store), graded by its
  *     oracle — the op that measures the streaming layer.
  *
  * `run.py` writes the deltas under `<work>/inputs` before the JVM
  * starts and grades every destination afterwards.
  */
object Migrate {

  /** lineitem's natural key; every other table keys on its `@id`. */
  val Keys: Map[String, Seq[String]] = Map("lineitem" -> Seq("l_orderkey", "l_linenumber"))

  def dest(work: String, pass: Int): String = s"$work/migrate/pass$pass"

  /** The catalog's schema text cut to the models the delta carries (the
    * tables `run.py` wrote a delta file for): a delta pass is steered by
    * its schema like the full copy.
    */
  def deltaSchema(work: String): String = {
    val carried = new File(s"$work/inputs/delta").list.map(_.stripSuffix(".parquet")).toSet
    """(?s)model\s+\w+\s*\{[^}]*\}""".r.findAllIn(SchemaCatalog.testdataSchema)
      .filter(m => carried.exists(t => m.contains(s"@@map(\"$t\")")))
      .mkString("\n")
  }

  private def withVersion(spark: SparkSession, dir: String, table: String) =
    Tables.load(spark, dir, table).withColumn("__v", lit(1))

  val ops: Seq[PerfBench.Op] = Seq(
    PerfBench.Op("full_copy", ctx => ctx.time("call") {
      WritePath.migrateFromSchema(ctx.spark, SchemaCatalog.testdataSchema,
        ctx.data, s"${dest(ctx.work, ctx.pass)}/db", Keys, quarantine = true)
    }),
    PerfBench.Op("delta_copy", ctx => ctx.time("call") {
      WritePath.migrateFromSchema(ctx.spark, deltaSchema(ctx.work),
        s"${ctx.work}/inputs/delta", s"${dest(ctx.work, ctx.pass)}/db", Keys,
        quarantine = true)
    }),
    PerfBench.Op("partition_copy", ctx => ctx.time("call") {
      WritePath.writeDatePartitioned(Tables.load(ctx.spark, ctx.data, "events"),
        s"${dest(ctx.work, ctx.pass)}/events_by_day", "ts")
    }),
    PerfBench.Op("events_merge", ctx => ctx.time("call") {
      WritePath.mergeDatePartitioned(ctx.spark,
        s"${dest(ctx.work, ctx.pass)}/events_by_day",
        withVersion(ctx.spark, s"${ctx.work}/inputs/merge", "events"),
        Seq("event_id"), "ts", "__v")
    }),
    PerfBench.Op("customer_upsert", ctx => ctx.time("call") {
      val d = dest(ctx.work, ctx.pass)
      WritePath.upsert(ctx.spark.read.parquet(s"$d/db/customer.parquet"),
          withVersion(ctx.spark, s"${ctx.work}/inputs/upsert", "customer"),
          Seq("c_custkey"), "__v")
        .write.parquet(s"$d/customer_upserted")
    }),
    PerfBench.queryOp("q533_streaming_croston"))

  /** Data files (not `_`/`.`-prefixed markers or checksums) under `root`. */
  private def dataFiles(root: File): Seq[File] =
    if (!root.exists) Nil
    else if (root.isDirectory) root.listFiles.toSeq.flatMap(dataFiles)
    else if (root.getName.startsWith(".") || root.getName.startsWith("_")) Nil
    else Seq(root)

  private var seen = Map.empty[String, Long]

  /** Untimed, after each op: the files the op left in the pass's
    * destination that were not there (or not this size and mtime)
    * before — data, quarantine and rewritten partitions alike.
    */
  def afterOp(work: String, pass: Int): java.util.Map[String, Any] = {
    val now = dataFiles(new File(dest(work, pass)))
      .map(f => s"${f.getPath}@${f.lastModified}" -> f.length).toMap
    val fresh = now.keySet -- seen.keySet
    seen = now
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("files_written", fresh.size)
    m.put("bytes_written", fresh.toSeq.map(now).sum)
    m
  }
}
