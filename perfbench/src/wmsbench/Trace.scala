package wmsbench

import java.util.Properties
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One public call the benchmark made into the program, timed on the client.
  * `op` numbers the closed-loop operation (tick or query) the call belongs to.
  */
final case class Span(kind: String, name: String, op: Int, t0Ms: Long, t1Ms: Long, secs: Double)

/** Task metrics summed over completed stages. */
final class Agg {
  var jobs, stages, tasks, cpuNs, gcMs, shuffleWrite, spill, recordsWritten, bytesWritten = 0L
  def +=(o: Agg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; spill += o.spill
    recordsWritten += o.recordsWritten; bytesWritten += o.bytesWritten
  }
}

/** A unit of Spark work charged as a whole: a root SQL execution with every
  * job it ran, or a job outside any SQL execution. `chain` lists the
  * `graft.*` frames of the call stack Spark recorded for it, outermost
  * first, e.g. `Stager.run › RunLog.start › StateStore.overwrite` (see
  * [[Tracer.chain]]).
  */
final case class Work(start: Long, end: Long, jobs: Seq[(Long, Long)], chain: Seq[String],
                      plan: String, agg: Agg) {
  def secs: Double = (end - start) / 1000.0
  def classes: Seq[String] = chain.map(_.takeWhile(_ != '.'))
}

/** Outside-in tracer. A SparkListener records jobs, stages and SQL
  * executions; the benchmark records a [[Span]] around each public call it
  * makes. Nothing is attributed while the run is timed: records stay in
  * memory and are joined when the run ends. Each unit of work is charged to
  * the call span its start falls in and to the `graft.*` frames on its
  * recorded call stack (`spark.callstack.depth` is raised while tracing so
  * the whole chain survives).
  */
final class Tracer extends SparkListener {
  @volatile var enabled = false

  private final class Job(val id: Int, val start: Long, val exec: Long, val details: String,
                          val stageIds: Seq[Int]) { var end = -1L }
  private final class Exec(val id: Long, val root: Long, val start: Long, val details: String,
                           val plan: String) { var end = -1L }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageAgg = mutable.HashMap[Int, Agg]()
  private val execs = mutable.HashMap[Long, Exec]()
  val spans = ArrayBuffer[Span]()

  private def whenOn(body: => Unit): Unit = if (enabled) synchronized(body)

  override def onJobStart(e: SparkListenerJobStart): Unit = whenOn {
    val props = Option(e.properties).getOrElse(new Properties())
    val exec = Option(props.getProperty("spark.sql.execution.id")).map(_.toLong).getOrElse(-1L)
    val details = e.stageInfos.headOption.map(_.details).getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, e.time, exec, details, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = whenOn {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = whenOn {
    val si = e.stageInfo
    val a = new Agg
    a.stages = 1
    a.tasks = si.numTasks
    Option(si.taskMetrics).foreach { m =>
      a.cpuNs = m.executorCpuTime
      a.gcMs = m.jvmGCTime
      a.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
      a.spill = m.memoryBytesSpilled + m.diskBytesSpilled
      a.recordsWritten = m.outputMetrics.recordsWritten
      a.bytesWritten = m.outputMetrics.bytesWritten
    }
    stageAgg(si.stageId) = a
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => whenOn {
      execs(s.executionId) = new Exec(s.executionId, s.rootExecutionId.getOrElse(s.executionId),
        s.time, s.details, s.physicalPlanDescription + "\n" + nodeNames(s.sparkPlanInfo))
    }
    case s: SparkListenerSQLExecutionEnd => whenOn { execs.get(s.executionId).foreach(_.end = s.time) }
    case _ =>
  }

  private def nodeNames(p: SparkPlanInfo): String =
    (p.nodeName +: p.children.map(nodeNames)).mkString(" ")

  /** Times a public call and records it as a span when tracing is on. */
  def span[T](kind: String, name: String, op: Int)(body: => T): T = {
    val w0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    try body finally {
      val secs = (System.nanoTime() - n0) / 1e9
      if (enabled) synchronized { spans += Span(kind, name, op, w0, System.currentTimeMillis(), secs) }
    }
  }

  /** Turns tracing on or off; the call-stack depth Spark records follows it. */
  def setEnabled(on: Boolean): Unit = {
    enabled = on
    System.setProperty("spark.callstack.depth", if (on) "400" else "20")
  }

  /** Joins the listener records into units of work, after draining the bus. */
  def works(spark: SparkSession): Seq[Work] = {
    org.apache.spark.wmsbench.Bus.drain(spark.sparkContext)
    synchronized {
      def rootOf(id: Long): Long = execs.get(id).map(_.root).getOrElse(id)
      def aggOf(js: Seq[Job]): Agg = {
        val a = new Agg
        js.foreach { j => a.jobs += 1; j.stageIds.flatMap(stageAgg.get).foreach(a += _) }
        a
      }
      val (inSql, plain) = jobs.values.toSeq.filter(_.end >= 0).partition(j => j.exec >= 0)
      val byRoot = inSql.groupBy(j => rootOf(j.exec))
      val sqlWork = execs.values.toSeq.filter(x => x.id == x.root && x.end >= 0).map { x =>
        val js = byRoot.getOrElse(x.id, Nil)
        Work(x.start, x.end, js.map(j => (j.start, j.end)), Tracer.chain(x.details), x.plan, aggOf(js))
      }
      val orphanRoots = byRoot.keySet -- execs.keySet
      val jobWork = (plain ++ orphanRoots.toSeq.flatMap(byRoot)).map { j =>
        Work(j.start, j.end, Seq((j.start, j.end)), Tracer.chain(j.details), "", aggOf(Seq(j)))
      }
      (sqlWork ++ jobWork).sortBy(_.start)
    }
  }
}

object Tracer {
  private val Frame = """\s*(?:at\s+)?([\w$.]+)\.([\w$]+)\(.*""".r

  /** `graft.*` frames of a recorded call stack, outermost first, as
    * `Class.method` with Scala's synthetic suffixes removed. Work with no
    * program frame was forced by the benchmark itself (a catalogue query's
    * lazy plan, or a generated source): it is charged to the innermost
    * benchmark frame, marked `bench:`.
    */
  def chain(details: String): Seq[String] = {
    val frames = Option(details).getOrElse("").split("\n").toSeq.collect {
      case Frame(cls, method) if cls.startsWith("graft.") || cls.startsWith("wmsbench.") =>
        val simple = cls.split('.').last.split('$').headOption.getOrElse(cls)
        val m = method.split('$').filter(p => p.nonEmpty && p != "anonfun" && !p.forall(_.isDigit))
          .headOption.getOrElse(method)
        (cls.startsWith("graft."), s"$simple.$m")
    }
    val program = frames.filter(_._1).map(_._2)
    if (program.isEmpty) frames.headOption.map(f => s"bench:${f._2}").toSeq
    else program.reverse.foldLeft(Vector.empty[String]) { (acc, f) =>
      if (acc.lastOption.contains(f)) acc else acc :+ f
    }
  }

  /** Length of the union of intervals (ms), clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
