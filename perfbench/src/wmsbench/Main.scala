package wmsbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Benchmark entry point: runs one workload in this JVM and writes the result
  * JSON to `--out`. Started by `perfbench/run.py`, which builds the classes,
  * gives every run its own scratch directory and removes it afterwards.
  *
  * Untraced runs report the end-to-end metrics; traced runs report the
  * per-layer record ([[Layers]]), with the tracing overhead measured inside
  * the same run ([[Workloads]]).
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, cpus: Int,
                        scratch: String, data: String, out: String, fingerprints: String,
                        record: Boolean)

  private val heapAfterGc = mutable.ArrayBuffer[Double]()

  /** Collects garbage outside any timer and records the heap used after it
    * (MiB), one sample per operation.
    */
  def settle(): Unit = {
    System.gc()
    heapAfterGc += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Heap samples taken from now on belong to the timed section. */
  def resetHeap(): Unit = heapAfterGc.clear()
  def heapMedianMb: Double = median(heapAfterGc.toSeq)
  def heapPeakMb: Double = if (heapAfterGc.isEmpty) 0.0 else heapAfterGc.max

  /** Drops the in-memory blocks of a locally checkpointed source. */
  def release(spark: SparkSession, df: DataFrame): Unit =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }.foreach(_.unpersist(true))

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum else f.length()

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .master(s"local[${o.cpus}]")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.scratch}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.scratch}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("cpus").toInt, kv("scratch"), kv("data"), kv("out"), kv.getOrElse("fingerprints", ""),
      kv.get("record").contains("1"))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o)
    val tracer = new Tracer
    if (o.trace) spark.sparkContext.addSparkListener(tracer)
    val sessionSecs = (System.currentTimeMillis() - jvmStart) / 1000.0
    System.err.println(f"[wmsbench] session ready after $sessionSecs%.3f s")
    val result = try o.workload match {
      case "wms_trickle" => Workloads.trickle(spark, o, tracer, sessionSecs)
      case "catalog_hot" => Workloads.catalog(spark, o, tracer, sessionSecs)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally spark.stop()
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(o.out), result)
  }

  /** Assembles the result object; `metrics` are (value, unit) pairs. */
  def result(attempted: Int, failed: Int, metrics: Seq[(String, Double, String)],
             problems: Seq[String], extra: Map[String, Any] = Map.empty): Map[String, Any] =
    Map("correct" -> (failed == 0), "attempted" -> math.max(attempted, 1),
      "failed" -> math.min(failed, math.max(attempted, 1)),
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, v, u) =>
        k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) }: _*),
      "problems" -> problems.take(20)) ++ extra

  /** End-to-end metrics of an untraced pass of closed-loop operations. */
  def endToEnd(setupSecs: Double, opSecs: Seq[Double], rows: Double, stateBytes: Long)
      : Seq[(String, Double, String)] = {
    val wall = opSecs.sum
    Seq(("setup_s", setupSecs, "s"), ("wall_s", wall, "s"),
      ("tick_p50_s", median(opSecs), "s"),
      ("staged_rows_per_s", if (wall > 0) rows / wall else 0.0, "1/s"),
      ("state_mb", stateBytes / 1048576.0, "MiB"), ("heap_mb", heapMedianMb, "MiB"))
  }
}
