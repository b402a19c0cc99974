package wmsbench

import scala.collection.mutable

/** Per-layer record of a traced pass. Every metric is named
  * `<layer>.<metric>`; a layer the workload does not reach reports 0.
  * Times, job counts and bytes are per operation (tick or query) unless the
  * name says otherwise.
  */
object Layers {
  private val sparkMetrics = Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "driver_only_s" -> "s", "executor_cpu_s" -> "s", "gc_s" -> "s",
    "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes")
  private val familyMetrics = Seq("jobs" -> "count", "driver_only_s" -> "s",
    "executor_cpu_s" -> "s", "shuffle_write_bytes" -> "bytes")

  /** (name, unit, better) of every per-layer metric, in report order. */
  val metrics: Seq[(String, String, String)] = {
    val pipeline = Seq(
      ("extractor.s", "s", "lower"), ("extractor.self_s", "s", "lower"),
      ("extractor.jobs", "count", "lower"), ("extractor.rows_in", "count", "lower"),
      ("extractor.new_ratio", "ratio", "higher"),
      ("normalize.s", "s", "lower"), ("landing.s", "s", "lower"),
      ("landing.bytes", "bytes", "lower"),
      ("watermark.s", "s", "lower"), ("watermark.jobs", "count", "lower"),
      ("runlog.s", "s", "lower"), ("runlog.jobs", "count", "lower"),
      ("runlog.rows_rewritten", "count", "lower"),
      ("stager.s", "s", "lower"), ("stager.self_s", "s", "lower"),
      ("stager.jobs", "count", "lower"),
      ("merge.s", "s", "lower"), ("merge.shuffle_bytes", "bytes", "lower"),
      ("history.useful_ratio", "ratio", "higher"),
      ("store.s", "s", "lower"), ("store.bytes_written", "bytes", "lower"),
      ("latest.useful_ratio", "ratio", "higher"))
    val spark = sparkMetrics.map { case (m, u) => (s"spark.$m", u, "lower") }
    val catalog = Catalog.queries.map(q => (s"catalog.${q}_s", "s", "lower")) ++
      Catalog.families.map(f => (s"catalog.${f._1}_s", "s", "lower")) ++
      Catalog.families.flatMap { case (f, _) =>
        familyMetrics.map { case (m, u) => (s"catalog.$f.$m", u, "lower") }
      }
    val trace = Seq(("jvm.heap_peak_mb", "MiB", "lower"),
      ("trace.overhead_ratio", "ratio", "lower"), ("trace.coverage", "ratio", "higher"),
      ("trace.unattributed_s", "s", "lower"), ("trace.ops", "count", "higher"))
    pipeline ++ spark ++ catalog ++ trace
  }

  private val layerOfClass: Map[String, String] = Map(
    "Extractor" -> "extractor", "Normalize" -> "normalize", "Landing" -> "landing",
    "Watermark" -> "watermark", "RunLog" -> "runlog", "Stager" -> "stager",
    "Payload" -> "merge", "Merge" -> "merge",
    "StateStore" -> "store", "TableStore" -> "store", "ManifestStore" -> "store")

  /** Layers a unit of work is charged to. Payload and Merge only build
    * plans, so their work runs in the jobs Stager forces: inside a stage
    * call, every unit outside the run log that is more than the plain
    * landing read (a scan of the landed batch alone: no state table, join,
    * window or write) is merge work.
    */
  def layersOf(w: Work, kind: String, stateRoot: String): Set[String] = {
    val direct = w.classes.flatMap(layerOfClass.get).toSet
    if (kind != "stage" || direct("runlog") || w.plan.isEmpty) direct
    else {
      val landingOnly = !w.plan.contains(stateRoot) &&
        !Seq("Join", "Window", "Execute ", "AppendData", "Overwrite").exists(w.plan.contains)
      direct + (if (landingOnly) "landing" else "merge")
    }
  }

  /** Spark totals of a group of units, and the part of the given spans'
    * wall time not covered by any of their jobs (driver-only seconds).
    */
  private def sparkOf(ws: Seq[Work], spans: Seq[Span]): (Agg, Double) = {
    val a = new Agg
    ws.foreach(w => a += w.agg)
    val jobMs = spans.map(s => Tracer.unionMs(ws.flatMap(_.jobs), s.t0Ms, s.t1Ms)).sum
    (a, spans.map(_.secs).sum - jobMs / 1000.0)
  }

  /** Computes the record. `opKind` is "tick" or "query"; per-op values
    * divide by the number of such spans.
    */
  def record(works: Seq[Work], spans: Seq[Span], opKind: String, stateRoot: String,
             rows: Map[String, Double], overhead: Double): mutable.LinkedHashMap[String, Double] = {
    val out = mutable.LinkedHashMap[String, Double](metrics.map(m => m._1 -> 0.0): _*)
    val ops = spans.filter(_.kind == opKind)
    val n = math.max(ops.length, 1).toDouble
    // innermost call span containing each unit's start
    val owned: Seq[(Work, Span)] = works.flatMap { w =>
      spans.filter(s => s.kind != opKind && s.t0Ms <= w.start && w.start <= s.t1Ms)
        .sortBy(s => s.t1Ms - s.t0Ms).headOption.map(w -> _)
    }
    val inOps = works.filter(w => ops.exists(s => s.t0Ms <= w.start && w.start <= s.t1Ms))
    def sumSecs(ws: Iterable[Work]): Double = ws.map(_.secs).sum
    val charged = owned.map { case (w, s) => (w, s, layersOf(w, s.kind, stateRoot)) }
    // Work charged to a layer: in a tick, one below the entry points
    // (Extractor.runEntity, Stager.run); in a query, any program frame.
    // The rest (harness frames only, or an entry point alone) is unattributed.
    val attributed =
      if (opKind == "tick") charged.filter(c => (c._3 -- Set("extractor", "stager")).nonEmpty).map(_._1)
      else inOps.filter(_.chain.exists(!_.startsWith("bench:")))

    if (opKind == "tick") {
      def layer(l: String) = charged.filter(_._3(l)).map(_._1)
      val ext = spans.filter(_.kind == "extract"); val stg = spans.filter(_.kind == "stage")
      val deeperExt = charged.filter(c => c._2.kind == "extract" &&
        (c._3 & Set("normalize", "landing", "watermark", "store")).nonEmpty).map(_._1)
      val deeperStg = charged.filter(c => c._2.kind == "stage" &&
        (c._3 & Set("runlog", "landing", "merge", "store")).nonEmpty).map(_._1)
      val stageWorks = charged.filter(_._2.kind == "stage").map(_._1)
      val inExtract = charged.filter(_._2.kind == "extract").map(_._1)
      val latestRows = charged.filter { case (w, s, ls) =>
        s.kind == "stage" && ls("store") && !ls("runlog") && mentionsLatest(w.plan, stateRoot)
      }.map(_._1.agg.recordsWritten).sum
      out ++= Seq(
        "extractor.s" -> ext.map(_.secs).sum / n,
        "extractor.self_s" -> (ext.map(_.secs).sum - sumSecs(deeperExt)) / n,
        "extractor.jobs" -> inExtract.map(_.agg.jobs).sum / n,
        "extractor.rows_in" -> rows("extracted") / n,
        "extractor.new_ratio" -> ratio(rows("new_versions"), rows("extracted")),
        "normalize.s" -> sumSecs(layer("normalize")) / n,
        "landing.s" -> sumSecs(layer("landing")) / n,
        "landing.bytes" -> layer("landing").map(_.agg.bytesWritten).sum / n,
        "watermark.s" -> sumSecs(layer("watermark")) / n,
        "watermark.jobs" -> layer("watermark").map(_.agg.jobs).sum / n,
        "runlog.s" -> sumSecs(layer("runlog")) / n,
        "runlog.jobs" -> layer("runlog").map(_.agg.jobs).sum / n,
        "runlog.rows_rewritten" -> layer("runlog").map(_.agg.recordsWritten).sum / n,
        "stager.s" -> stg.map(_.secs).sum / n,
        "stager.self_s" -> (stg.map(_.secs).sum - sumSecs(deeperStg)) / n,
        "stager.jobs" -> stageWorks.map(_.agg.jobs).sum / n,
        "merge.s" -> sumSecs(layer("merge")) / n,
        "merge.shuffle_bytes" -> layer("merge").map(_.agg.shuffleWrite).sum / n,
        "history.useful_ratio" -> ratio(rows("history_inserted"), rows("staged_in")),
        "store.s" -> sumSecs(layer("store")) / n,
        "store.bytes_written" -> layer("store").map(_.agg.bytesWritten).sum / n,
        "latest.useful_ratio" -> ratio(rows("latest_upserted"), latestRows.toDouble))
    } else {
      val bySpan = works.flatMap(w => ops.find(s => s.t0Ms <= w.start && w.start <= s.t1Ms)
        .map(s => s.name -> w)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      ops.foreach(s => out(s"catalog.${s.name}_s") = s.secs)
      Catalog.families.foreach { case (f, qs) =>
        val fs = ops.filter(s => qs.contains(s.name))
        val (a, driverOnly) = sparkOf(qs.flatMap(q => bySpan.getOrElse(q, Nil)), fs)
        out(s"catalog.${f}_s") = fs.map(_.secs).sum
        out(s"catalog.$f.jobs") = a.jobs.toDouble
        out(s"catalog.$f.driver_only_s") = driverOnly
        out(s"catalog.$f.executor_cpu_s") = a.cpuNs / 1e9
        out(s"catalog.$f.shuffle_write_bytes") = a.shuffleWrite.toDouble
      }
    }

    val (a, driverOnly) = sparkOf(inOps, ops)
    val wall = ops.map(_.secs).sum
    def jobMs(ws: Seq[Work]) = ops.map(s => Tracer.unionMs(ws.flatMap(_.jobs), s.t0Ms, s.t1Ms)).sum
    val unattributedMs = jobMs(inOps) - jobMs(attributed)
    out ++= Seq(
      "spark.jobs" -> a.jobs / n, "spark.stages" -> a.stages / n, "spark.tasks" -> a.tasks / n,
      "spark.driver_only_s" -> driverOnly / n, "spark.executor_cpu_s" -> a.cpuNs / 1e9 / n,
      "spark.gc_s" -> a.gcMs / 1000.0 / n, "spark.shuffle_write_bytes" -> a.shuffleWrite / n,
      "spark.spill_bytes" -> a.spill / n,
      "jvm.heap_peak_mb" -> Main.heapPeakMb,
      "trace.overhead_ratio" -> overhead,
      "trace.coverage" -> (if (wall > 0) (jobMs(attributed) / 1000.0 + driverOnly) / wall else 0.0),
      "trace.unattributed_s" -> unattributedMs / 1000.0 / n,
      "trace.ops" -> ops.length.toDouble)
    out
  }

  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  /** Whether a plan names an entity's latest table (`stg_<entity>`, not its
    * `_history` sibling) under the state root. Of the store's units in a
    * stage call, the rows written by those that do are the latest rewrite.
    */
  private def mentionsLatest(plan: String, stateRoot: String): Boolean =
    java.util.regex.Pattern.compile(java.util.regex.Pattern.quote(stateRoot) +
      "/stg_[a-z_]+?(?<!_history)(?=[./\\s,\\]])").matcher(plan).find()
}
