package wmsbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** The workloads. Each is a closed loop with one client: a scheduler or an
  * analyst waits for every call to return. Sizes are fixed per workload,
  * and generated inputs depend only on the seed.
  */
object Workloads {
  private def now: Long = System.nanoTime()
  private def since(t: Long): Double = (now - t) / 1e9

  /** Switches tracing at an operation boundary, once the listener has seen
    * every event of the previous operation.
    */
  private def tracing(spark: SparkSession, tracer: Tracer, on: Boolean): Unit = {
    org.apache.spark.wmsbench.Bus.drain(spark.sparkContext)
    tracer.setEnabled(on)
  }

  private def pipelineRows(ts: Seq[TickStats]): Map[String, Double] = Map(
    "extracted" -> ts.map(_.extracted).sum.toDouble,
    "new_versions" -> ts.map(_.newVersions).sum.toDouble,
    "staged_in" -> ts.map(_.stagedIn).sum.toDouble,
    "history_inserted" -> ts.map(_.historyInserted).sum.toDouble,
    "latest_upserted" -> ts.map(_.latestUpserted).sum.toDouble)

  private def pipelineResult(spark: SparkSession, o: Main.Opts, tracer: Tracer, setup: Double,
                             p: WmsPipeline, timed: Seq[TickStats], overhead: Double): Map[String, Any] = {
    val t0 = now
    val failed = p.failed + p.check()
    System.err.println(f"[wmsbench] checks took ${since(t0)}%.3f s")
    val metrics =
      if (!o.trace) Main.endToEnd(setup, timed.map(_.secs), timed.map(_.historyInserted).sum.toDouble,
        p.stateBytes)
      else withUnits(Layers.record(tracer.works(spark), tracer.spans.toSeq, "tick", p.stateRoot,
        pipelineRows(timed), overhead))
    Main.result(p.attempted, failed, metrics, p.problems.toSeq, traceRecord(spark, o, tracer))
  }

  /** wms_trickle: a resident state of 5,000 ids per entity, loaded through
    * the pipeline during set-up, then ticks that each change 1% of the
    * active ids. One more tick warms the session before the timed section,
    * which is one tick per 5 s of `--seconds`.
    * Traced runs alternate untraced and traced ticks, twice as many, and
    * report the record of the traced ones.
    */
  def trickle(spark: SparkSession, o: Main.Opts, tracer: Tracer, sessionSecs: Double): Map[String, Any] = {
    val ticks = math.max(1, o.seconds / 5)
    val t0 = now
    val p = new WmsPipeline(spark, s"${o.scratch}/wms", o.seed, o.cpus, tracer)
    p.ticks(1, 0.0, initial = 5000)
    p.ticks(1, 0.01)
    val setup = sessionSecs + since(t0)
    Main.resetHeap()
    if (!o.trace) pipelineResult(spark, o, tracer, setup, p, p.ticks(ticks, 0.01), 0.0)
    else {
      val (on, off) = (0 until 2 * ticks).map { i =>
        tracing(spark, tracer, on = i % 2 == 1)
        (i % 2 == 1, p.ticks(1, 0.01).head)
      }.partition(_._1)
      tracing(spark, tracer, on = false)
      pipelineResult(spark, o, tracer, setup, p, on.map(_._2),
        on.map(_._2.secs).sum / off.map(_._2.secs).sum)
    }
  }

  /** catalog_hot: one pass over the catalogue in list order, starting in
    * the fresh session, each query forced in full and checked against its
    * reference fingerprint. The inputs are the fixed sf0.001 tables, so the
    * seed changes nothing, and a fixed order puts the session's first-use
    * costs on the same queries in every run. Traced runs trace that pass, then
    * measure the tracing overhead on the pipeline-operator family: each of
    * its queries once untraced and once traced, alternating which goes first.
    */
  def catalog(spark: SparkSession, o: Main.Opts, tracer: Tracer, sessionSecs: Double): Map[String, Any] = {
    val dir = s"${o.data}/sf0.001"
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    tracing(spark, tracer, on = o.trace)
    Main.resetHeap()
    val first = Catalog.pass(spark, dir, Catalog.queries, tracer)
    val stateBytes = Main.du(tmp)
    var record: Option[collection.Map[String, Double]] = None
    val results =
      if (!o.trace) first
      else {
        val works = tracer.works(spark)
        val spans = tracer.spans.toSeq
        tracing(spark, tracer, on = false)
        val pairs = Catalog.families.toMap.apply("pipeline_ops").zipWithIndex.map { case (q, i) =>
          val runs = Seq(i % 2 == 1, i % 2 == 0).map { on =>
            tracing(spark, tracer, on)
            on -> Catalog.pass(spark, dir, Seq(q), tracer).head
          }.toMap
          (runs(true), runs(false))
        }
        tracing(spark, tracer, on = false)
        val overhead = pairs.map(_._1.secs).sum / pairs.map(_._2.secs).sum
        record = Some(Layers.record(works, spans, "query", "", Map.empty, overhead))
        first ++ pairs.flatMap(p => Seq(p._1, p._2))
      }
    val expected = if (o.record) Map.empty[String, String] else Catalog.expected(o.fingerprints)
    val problems = ArrayBuffer[String]()
    val bad = results.filter { r =>
      r.error.foreach(e => problems += s"${r.name}: $e")
      val mismatch = !o.record && r.error.isEmpty && !expected.get(r.name).contains(r.fingerprint)
      if (mismatch)
        problems += s"${r.name}: fingerprint ${r.fingerprint} != reference ${expected.getOrElse(r.name, "none")}"
      r.error.nonEmpty || mismatch
    }
    if (o.record) {
      val w = new java.io.PrintWriter(o.fingerprints)
      try {
        w.println("# query<TAB>rows:sum(xxhash64(row)):xor(xxhash64(row)) over data/sf0.001")
        first.sortBy(_.name).foreach(r => w.println(s"${r.name}\t${r.fingerprint}"))
      } finally w.close()
    }
    val metrics =
      if (!o.trace) Main.endToEnd(sessionSecs, first.map(_.secs),
        first.map(r => if (r.error.isEmpty) Catalog.rowsOf(r.fingerprint) else 0L).sum.toDouble,
        stateBytes)
      else withUnits(record.get)
    Main.result(results.length, bad.length, metrics, problems.toSeq, traceRecord(spark, o, tracer))
  }

  private def withUnits(m: collection.Map[String, Double]): Seq[(String, Double, String)] =
    m.toSeq.map { case (k, v) => (k, v, Layers.metrics.find(_._1 == k).get._2) }

  /** The raw spans and charged units of a traced run, for the trace file. */
  private def traceRecord(spark: SparkSession, o: Main.Opts, tracer: Tracer): Map[String, Any] =
    if (!o.trace) Map.empty
    else Map("trace" -> Map(
      "spans" -> tracer.spans.map(s => Map("kind" -> s.kind, "name" -> s.name, "op" -> s.op,
        "start_ms" -> s.t0Ms, "secs" -> s.secs)),
      "work" -> tracer.works(spark).map(w => Map("start_ms" -> w.start, "secs" -> w.secs,
        "jobs" -> w.agg.jobs, "chain" -> w.chain.mkString(" > "),
        "plan" -> w.plan.take(300)))))
}
