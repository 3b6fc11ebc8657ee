package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DiffSql, DiffSummary, Dedup, SchemaUtils, TableDiff}
import graft.pipelines.TrainingExport
import graft.sources.Corpus

/** One benchmark workload bound to a live session. `op(i)` is the unit
  * `op_p50_s` times; `afterOp(i)` is untimed bookkeeping between ops.
  * The timed phase only ends after an op `i` with `(i + 1) % opsPerCycle == 0`.
  */
trait Workload {
  def opsPerCycle: Int = 1
  def inputRows(i: Int): Long
  /** Untimed work over the warm-up inputs, writing under `dir`: one
    * whole cycle when `wholeCycle` (the JVM's first set-up round, so
    * every code path of the timed phase has been through the JIT),
    * otherwise one op.
    */
  def warmup(dir: String, wholeCycle: Boolean): Unit
  /** One timed op; returns what the output checks need. */
  def op(i: Int, dir: String): Map[String, Any]
  def afterOp(i: Int): Unit = ()
  /** Per-op state metrics (trace runs only). */
  def stateAfterOp(i: Int): Map[String, Double] = Map.empty
  /** Text the output checks need once per run (oracle SQL, corpus SQL). */
  def checkInputs: Map[String, Any]
}

/** diff_tall: one op diffs the before/after pair, writes the status
  * matrix as parquet (the reference's CTAS of `diff_result`) and runs
  * the summary over what was written. The warm-up op diffs the same pair.
  */
final class DiffWorkload(
    spark: SparkSession, data: String, keys: Seq[String], rowsPerOp: Long, sp: Spans)
    extends Workload {

  private def before = spark.read.parquet(s"$data/before.parquet")
  private def after = spark.read.parquet(s"$data/after.parquet")

  def inputRows(i: Int): Long = rowsPerOp

  def op(i: Int, out: String): Map[String, Any] = {
    val (b, a) = (before, after)
    val d = sp("TableDiff.diff")(TableDiff.diff(b, a, keys))
    sp("write")(d.write.mode("overwrite").parquet(out))
    val s = sp("DiffSummary.summary")(DiffSummary.summary(spark.read.parquet(out)).collect().head)
    Map("output" -> out, "summary" -> Map(
      "total_rows" -> s.getLong(0), "rows_in_both" -> s.getLong(1),
      "missing_in_before" -> s.getLong(2), "missing_in_after" -> s.getLong(3),
      "rows_with_cell_diffs" -> s.getLong(4)))
  }

  def warmup(dir: String, wholeCycle: Boolean): Unit = op(-1, dir)

  /** The diff as `DiffSql.generate` spells it, over the views `__before`
    * and `__after`.
    */
  def checkInputs: Map[String, Any] = {
    val (b, a) = (before.schema, after.schema)
    val padded = (b.fields ++ a.fields)
      .filter(f => !(b.fieldNames.contains(f.name) && a.fieldNames.contains(f.name)))
      .map(f => f.name -> SchemaUtils.sqlTypeName(f.dataType)).toMap
    Map("oracle_sql" -> DiffSql.generate(
      beforeBody = "SELECT * FROM __before", afterBody = "SELECT * FROM __after",
      keys = keys, beforeCols = b.fieldNames.toSeq, afterCols = a.fieldNames.toSeq,
      paddedTypes = padded))
  }
}

/** The steady-state export: `Corpus.docCorpus` arrives in `batches`
  * seeded-hash batches, and one op is one `TrainingExport.runIngest`
  * (curation funnel, MinHash near-dup stage, per-source budgets, 4
  * shards; no decontamination benchmark) into the persisted state of the
  * current lifecycle. State tables compact once a bucket holds more than
  * one file, so every lifecycle of two or more batches compacts. A
  * lifecycle is all batches in order; the next one starts from empty
  * state.
  */
final class IngestWorkload(
    spark: SparkSession, data: String, seed: Long, batches: Int,
    budgets: Seq[(String, Long)], sp: Spans) extends Workload {

  override def opsPerCycle: Int = batches

  private val corpus = Corpus.docCorpus(spark, data)
  private val cfg = TrainingExport.Config(
    curate = true,
    dedup = TrainingExport.DedupNearDup(),
    contaminationMaxPpm = None,
    budgets = budgets,
    numShards = 4)
  private def arrival(b: Int): DataFrame =
    corpus.filter(pmod(xxhash64(col("doc_id"), lit(seed)), lit(batches)) === b)

  /** (docs, text bytes) per arrival batch. */
  private lazy val batchStats: Seq[(Long, Long)] = {
    val m = corpus
      .groupBy(pmod(xxhash64(col("doc_id"), lit(seed)), lit(batches)).as("b"))
      .agg(count(lit(1)), sum(octet_length(col("text"))))
      .collect().map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2))).toMap
    (0 until batches).map(m.getOrElse(_, (0L, 0L)))
  }

  def inputRows(i: Int): Long = batchStats(i % batches)._1

  private def prefix(lifecycle: Int) = s"pb_l$lifecycle"
  private val warmupPrefix = "pb_warmup"

  private def ingest(b: Int, p: String): Array[org.apache.spark.sql.Row] = {
    val shipped = sp("TrainingExport.runIngest")(
      TrainingExport.runIngest(
        arrival(b), spark.emptyDataFrame, cfg, p, buckets = 8, maxFilesPerBucket = 1))
    shipped.collect()
  }

  def warmup(dir: String, wholeCycle: Boolean): Unit = {
    (0 until (if (wholeCycle) batches else 1)).foreach(ingest(_, warmupPrefix))
    Dedup.unpersistAll()
    dropState(warmupPrefix)
  }

  def op(i: Int, dir: String): Map[String, Any] = {
    val rows = ingest(i % batches, prefix(i / batches))
    val f = s"$dir.csv"
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println("shard,seq,doc_id,source")
      rows.foreach(r => w.println(r.toSeq.mkString(",")))
    } finally w.close()
    Map("lifecycle" -> i / batches, "batch" -> i % batches, "output" -> f)
  }

  override def afterOp(i: Int): Unit =
    if (i % batches == batches - 1) {
      Dedup.unpersistAll()
      dropState(prefix(i / batches))
    }

  private def dropState(p: String): Unit =
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith(p + "_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))

  private val lastFiles = collection.mutable.Map.empty[String, Set[String]]

  /** File count and bytes of the lifecycle's state tables, read by
    * listing their directories. Appends only add files, so a table
    * counts as compacted when a file it held after the previous batch
    * is gone.
    */
  override def stateAfterOp(i: Int): Map[String, Double] = {
    val p = prefix(i / batches)
    if (i % batches == 0) lastFiles.clear()
    val wh = new File(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    val tables = Option(wh.listFiles()).getOrElse(Array.empty[File])
      .filter(d => d.isDirectory && d.getName.startsWith(p + "_"))
    val files = tables.map(t => t.getName -> dataFiles(t)).toMap
    val compactions = files.count { case (t, fs) =>
      lastFiles.get(t).exists(prev => !prev.subsetOf(fs.map(_.getPath).toSet))
    }
    lastFiles ++= files.map { case (t, fs) => t -> fs.map(_.getPath).toSet }
    val bytes = files.values.flatten.map(_.length).sum
    val inBytes = (0 to i % batches).map(batchStats(_)._2).sum
    Map("state_files" -> files.values.map(_.size).sum.toDouble, "state_bytes" -> bytes.toDouble,
      "state_bytes_per_input_byte" -> bytes.toDouble / math.max(inBytes, 1L),
      "compactions" -> compactions.toDouble)
  }

  private def dataFiles(d: File): Seq[File] =
    Option(d.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    }

  def checkInputs: Map[String, Any] =
    Map("corpus_sql" -> Corpus.docCorpusSql, "batch_rows" -> batchStats.map(_._1))
}
