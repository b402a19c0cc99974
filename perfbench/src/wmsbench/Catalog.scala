package wmsbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The hot-query catalogue: a fixed list of `SparkEntry.queries`, grouped in
  * the families the per-layer record reports.
  */
object Catalog {
  val families: Seq[(String, Seq[String])] = Seq(
    "manifest_sql" -> Seq("q144_sql_lifecycle", "q145_sql_merge", "q146_sql_evolution",
      "q147_sql_merge_clauses", "q148_sql_partitioned", "q149_scd2_dimension",
      "q150_sql_column_mapping", "q151_sql_type_widening", "q152_sql_defaults",
      "q153_hidden_partitioning", "q154_sql_decimal_widening", "q155_prefix_partitioned",
      "q156_calendar_partitioned", "q157_merge_subquery"),
    "iterative" -> Seq("q82_pagerank", "q48_dedup_clusters", "q101_quality_dedup"),
    "admission" -> Seq("q141_indexed_admit", "q142_indexed_semantic_admit"),
    "pipeline_ops" -> Seq("q04_latest_state", "q08_dedup_keeplast", "q09_history_delta",
      "q10_latest_upsert", "q11_payload_hash", "q13_flatten_json"))

  val queries: Seq[String] = families.flatMap(_._2)

  /** Order-independent fingerprint over every output column: row count, and
    * the sum and xor of a 64-bit hash of each whole row. Hashing all columns
    * forces every column to be computed; a bare `count()` lets the optimizer
    * prune projections (a payload query would never run its `to_json`/`sha2`).
    */
  def fingerprint(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => df.col(s"`$c`")).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)")), bit_xor(h)).collect()(0)
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}:" +
      s"${if (r.isNullAt(2)) 0L else r.getLong(2)}"
  }

  def rowsOf(fp: String): Long = fp.takeWhile(_ != ':').toLong

  final case class Result(name: String, secs: Double, fingerprint: String, error: Option[String])

  /** One closed-loop pass: each query is built and forced in full, then the
    * session's persisted blocks are dropped outside the timer.
    */
  def pass(spark: SparkSession, dir: String, order: Seq[String], tracer: Tracer): Seq[Result] = {
    val all = graft.SparkEntry.queries
    order.zipWithIndex.map { case (q, i) =>
      val t0 = System.nanoTime()
      val out = try Right(tracer.span("query", q, i)(fingerprint(all(q)(spark, dir))))
        catch { case e: Exception => Left(e.toString) }
      val secs = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      graft.functions.Par.unpersistAll(spark, blocking = true)
      Main.settle()
      System.err.println(f"[wmsbench] $q%-30s $secs%.3f s")
      Result(q, secs, out.getOrElse(""), out.left.toOption)
    }
  }

  /** Reference fingerprints, one `name<TAB>fingerprint` line each. */
  def expected(path: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(k, v) = l.split("\t"); k -> v
    }.toMap finally src.close()
  }
}
