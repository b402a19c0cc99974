package wmsbench

import java.time.Instant
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Payload, RunLog, StateMachine, Watermark}
import graft.pipeline.{Extractor, ExtractorConfig, Stager, StagerConfig}
import graft.sources.Landing

/** What one tick moved, from the program's own return values. */
final case class TickStats(secs: Double, extracted: Long, newVersions: Long, stagedIn: Long,
                           historyInserted: Long, latestUpserted: Long)

/** The reference pipeline over the benchmark's generated sources, driven as
  * its scheduler would: one tick extracts then stages both entities, each
  * call returning before the next starts. Extractor and Stager are built
  * with the program's default store. Each entity-tick has its own run id,
  * so the run log keeps one row per run × entity.
  */
final class WmsPipeline(spark: SparkSession, root: String, seed: Long, cpus: Int,
                        tracer: Tracer) {
  private val landing = s"$root/landing"
  val stateRoot = s"$root/state"
  private val state = stateRoot
  private val pipelineName = "wms_pipeline"
  private val extractor = new Extractor(spark, ExtractorConfig(landing, state, pipelineName))
  private val stager = new Stager(spark, StagerConfig(landing, state, pipelineName))
  private val gens: Seq[WmsGen] = WmsGen.entities.map { e =>
    new WmsGen(e, seed, if (e == "ib_receipts") StateMachine.ibChain else StateMachine.obChain)
  }

  /** Step length of the source clock; changes land uniformly inside it. */
  val stepSeconds = 300L
  private var step = 0
  private val lastRun = mutable.Map[String, String]()
  private val runs = ArrayBuffer[(String, String)]()
  val problems = ArrayBuffer[String]()
  var attempted = 0
  var failed = 0

  def stateBytes: Long = Main.du(new java.io.File(root))

  /** Advances the sources one step (or loads `initial` ids per entity on the
    * first call) and materialises each entity's answer set. Not timed.
    */
  def prepare(frac: Double, initial: Int = 0): Map[String, (DataFrame, Long)] = {
    val tPrev = WmsGen.t0 + (step - 1) * stepSeconds
    val since = gens.map(g => g.entity -> (if (step == 0) Long.MinValue else g.maxUpdated - stepSeconds)).toMap
    gens.foreach { g =>
      if (step == 0) g.initial(initial, WmsGen.t0) else g.step(step, tPrev, tPrev + stepSeconds, frac)
    }
    gens.map { g =>
      g.entity -> tracer.span("source", g.entity, step)(
        (g.snapshot(spark, since(g.entity), cpus), since(g.entity)))
    }.toMap
  }

  /** One timed tick: extract, then stage, both entities. */
  def tick(op: Int, sources: Map[String, (DataFrame, Long)]): TickStats = {
    val now = Instant.ofEpochSecond(WmsGen.t0 + step * stepSeconds + 60)
    val ids = gens.map(g => g.entity -> f"r$step%05d-${g.entity}").toMap
    val bad = mutable.Set[String]()
    var extracted, staged, inserted, upserted = 0L
    val t0 = System.nanoTime()
    gens.foreach { g =>
      val (snap, since) = sources(g.entity)
      val feed = (cursor: Instant) => {
        if (cursor.getEpochSecond < since) {
          problems += s"${ids(g.entity)}: cursor $cursor is behind the last watermark minus one step"
          bad += g.entity
        }
        snap.filter(col("updated_at") > lit(WmsGen.iso(cursor.getEpochSecond)))
      }
      try extracted += tracer.span("extract", g.entity, op)(
        extractor.runEntity(g.entity, ids(g.entity), feed, now)).rowsIn
      catch { case e: Exception => bad += g.entity; problems += s"${ids(g.entity)} extract: $e" }
    }
    gens.foreach { g =>
      if (!bad(g.entity)) try {
        val r = tracer.span("stage", g.entity, op)(stager.run(g.entity, ids(g.entity), now))
        staged += r.rowsIn; inserted += r.rowsInsertedHistory; upserted += r.rowsUpsertedLatest
        lastRun(g.entity) = ids(g.entity)
      } catch { case e: Exception => bad += g.entity; problems += s"${ids(g.entity)} stage: $e" }
      runs += ((ids(g.entity), g.entity))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    attempted += gens.length
    failed += bad.size
    step += 1
    TickStats(secs, extracted, gens.map(_.lastChanged.toLong).sum, staged, inserted, upserted)
  }

  /** Runs `n` ticks; each tick's sources are prepared before its timer.
    * `frac` is drawn again for every tick.
    */
  def ticks(n: Int, frac: => Double, initial: Int = 0): Seq[TickStats] =
    (0 until n).map { _ =>
      val src = prepare(frac, initial)
      val op = step
      val s = tracer.span("tick", s"tick-$op", op)(tick(op, src))
      src.values.foreach { case (df, _) => Main.release(spark, df) }
      Main.settle()
      System.err.println(f"[wmsbench] $root tick $op ${s.secs}%.3f s, ${s.extracted} rows extracted")
      s
    }

  /** End-state checks against the generator's ground truth. Returns the
    * number that failed; each failure is also described in `problems`.
    */
  def check(): Int = {
    var bad = 0
    def expect(ok: Boolean, what: => String): Unit = if (!ok) { bad += 1; problems += what }
    gens.foreach { g =>
      val e = g.entity
      lastRun.get(e) match {
        case None => expect(ok = false, s"$e: no successful run to check")
        case Some(run) =>
          val like = Payload.withPayloadAndHash(Landing.read(spark, landing, e, run))
          val latest = stager.latest(e, like)
            .select(col("id"), col("updated_at"), col("status"))
          val truth = g.truth(spark, 4)
          val missing = truth.exceptAll(latest).count()
          val extra = latest.exceptAll(truth).count()
          expect(missing == 0 && extra == 0,
            s"$e: latest differs from the source: $missing source rows missing, $extra extra rows")
          val hist = stager.history(e, like).count()
          expect(hist == g.versions, s"$e: history has $hist rows, source emitted ${g.versions} versions")
          val wm = new Watermark(spark, s"$state/etl_watermark")
            .get(pipelineName, e, Instant.EPOCH).getEpochSecond
          expect(wm == g.maxUpdated,
            s"$e: watermark ${Instant.ofEpochSecond(wm)} != max updated_at ${Instant.ofEpochSecond(g.maxUpdated)}")
      }
    }
    val log = new RunLog(spark, s"$state/pipeline_run_log").table
      .filter(col("status") === "success")
      .groupBy(col("run_id"), col("entity")).count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val wrong = runs.filter(k => !log.get(k).contains(1L))
    expect(wrong.isEmpty && log.size == runs.size,
      s"run log: ${wrong.size} of ${runs.size} runs lack exactly one success row; ${log.size} success keys")
    bad
  }
}
