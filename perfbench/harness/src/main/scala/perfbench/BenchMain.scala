package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Opens a span around a call into the program (a no-op when tracing is off). */
trait Spans { def apply[T](name: String)(f: => T): T }

/** The benchmark's JVM side. It sets up [[SetupRounds]] times (a fresh
  * SparkSession over all available cores, the workload's inputs, an
  * untimed warm-up: one whole cycle in the first round, one op in the
  * next), then runs ops in a closed loop from one client until
  * `--seconds` have passed and the current cycle is complete. It writes
  * `report.json` (and `spans.jsonl` when tracing) to `--out`; checking
  * the outputs and turning the report into metrics is the caller's job.
  *
  * Usage: BenchMain --workload <name> --data <dir> --out <dir>
  *   --seconds <s> --trace <0|1> --seed <n> --params <file of key=value lines>
  */
object BenchMain {
  /** Two rounds: the cold one (JVM start, first cycle) and a warm one. */
  val SetupRounds = 2

  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val data = args("data")
    val out = args("out")
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val seed = args("seed").toLong
    val cores = Runtime.getRuntime.availableProcessors
    val params = scala.io.Source.fromFile(args("params"), "UTF-8").getLines()
      .filter(_.contains('=')).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    new java.io.File(s"$out/ops").mkdirs()

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = collection.mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var tracer: Option[Tracer] = None
    var w: Workload = null
    for (r <- 0 until SetupRounds) {
      // the first round also pays for starting the JVM
      val t0 = if (r == 0) jvmStartMs else System.currentTimeMillis()
      if (spark != null) {
        graft.operators.Dedup.unpersistAll()
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = session(cores, s"$out/work/r$r")
      tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
      tracer.foreach { t =>
        spark.sparkContext.addSparkListener(t.listener)
        spark.listenerManager.register(t.sqlListener)
      }
      val sp: Spans = tracer match {
        case Some(t) => new Spans { def apply[T](n: String)(f: => T): T = t.span(n)(f) }
        case None => new Spans { def apply[T](n: String)(f: => T): T = f }
      }
      w = workloadFor(workload, spark, data, seed, params, sp)
      w.warmup(s"$out/work/r$r/warmup", wholeCycle = r == 0)
      setupS += (System.currentTimeMillis() - t0) / 1e3
    }

    // ---- timed phase: closed loop, one client
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcs.map(_.getCollectionTime).sum
    val ops = collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val opState = collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    var timed = 0.0
    var i = 0
    while (i == 0 || timed < seconds || i % w.opsPerCycle != 0) {
      val dir = s"$out/ops/op_$i"
      val (c0, g0, k0) = (cpu.getProcessCpuTime, gcMs, CodeGenerator.compileTime)
      tracer.foreach(_.beginOp(i))
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res = try tracer.fold(w.op(i, dir))(_.span("op")(w.op(i, dir))) catch {
        case e: Throwable => Map[String, Any]("error" -> s"${e.getClass.getName}: ${e.getMessage}")
      }
      val lat = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      val (c1, g1, k1) = (cpu.getProcessCpuTime, gcMs, CodeGenerator.compileTime)
      tracer.foreach(_.endOp())
      timed += lat
      ops += res ++ Map(
        "id" -> i, "latency_s" -> lat, "start_ms" -> startMs, "end_ms" -> endMs,
        "input_rows" -> w.inputRows(i), "cpu_s" -> (c1 - c0) / 1e9,
        "jvm_gc_s" -> (g1 - g0) / 1e3, "codegen_compile_ms" -> (k1 - k0) / 1e6)
      if (trace) opState += (w.stateAfterOp(i) ++ storage(spark))
      w.afterOp(i)
      i += 1
    }
    // retained heap: in-use heap after full collections, with pauses
    // for Spark's ContextCleaner to drop the blocks, broadcasts and
    // shuffles that the first collection found unreachable
    val heap = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val mem = heap.min
    val checkInputs = w.checkInputs

    val layers = tracer.map { t =>
      org.apache.spark.graft.ListenerBridge.flush(spark.sparkContext, 30000L)
      t.writeSpans(s"$out/spans.jsonl")
      LayerMetrics(t, ops.toSeq, opState.toSeq)
    }
    Json.writeValue(new java.io.File(s"$out/report.json"), Map(
      "setup_rounds_s" -> setupS.toSeq,
      "retained_heap_mb" -> mem,
      "ops" -> ops.toSeq,
      "check_inputs" -> checkInputs,
      "layers" -> layers))
    graft.operators.Dedup.unpersistAll()
    spark.stop()
  }

  private def session(cores: Int, work: String): SparkSession = {
    new java.io.File(work).mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new java.io.File(s"$work/warehouse").getAbsolutePath)
      .config("spark.local.dir", new java.io.File(s"$work/local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.MinHashSig.register(s)
    s
  }

  private def workloadFor(
      name: String, spark: SparkSession, data: String, seed: Long,
      p: Map[String, String], sp: Spans): Workload = {
    def list(k: String) = p(k).split(',').toSeq.filter(_.nonEmpty)
    name match {
      case "diff_tall" =>
        new DiffWorkload(spark, data, list("keys"), p("rows_per_op").toLong, sp)
      case "ingest_neardup" =>
        val budgets = list("budgets").map { kv => val Array(k, v) = kv.split(':'); k -> v.toLong }
        new IngestWorkload(spark, data, seed, p("batches").toInt, budgets, sp)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  private def storage(spark: SparkSession): Map[String, Double] = {
    val infos = spark.sparkContext.getRDDStorageInfo
    Map("cache_mb" -> infos.map(_.memSize).sum / 1048576.0,
      "cache_blocks" -> infos.map(_.numCachedPartitions).sum.toDouble)
  }
}
