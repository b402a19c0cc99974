package wmsbench

import java.time.{Instant, LocalDate, ZoneOffset}
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The benchmark's own seeded WMS source system for one entity: inbound
  * receipts (`ib_receipts`, with `lines`) or outbound orders (`ob_orders`).
  *
  * The generator keeps the source's current rows on the driver. A step moves
  * a share of the active (non-terminal) ids one transition along the
  * entity's status chain, or to CANCELLED with 5% probability, and stamps a
  * fresh `updated_at` inside the step's time window. Ids that reach a terminal
  * status are replaced by as many NEW arrivals in the next step, so the
  * change rate stays steady over many steps. Every random draw comes from a
  * `SplittableRandom` seeded by (seed, entity, step): the same seed gives the
  * same rows whatever the program under test does. Rows have the raw API
  * shape (ISO-8601 strings for times), which the extractor normalizes.
  */
final class WmsGen(val entity: String, seed: Long, chain: Seq[(String, String)]) {
  import WmsGen._

  private val inbound = entity == "ib_receipts"
  val schema: StructType = if (inbound) ibSchema else obSchema
  private val next = chain.toMap
  private val terminal = Set("CANCELLED", chain.last._2)
  private val startStates = chain.map(_._1)

  private val recs = ArrayBuffer[Array[Any]]()
  private val updated = ArrayBuffer[Long]()     // updated_at, epoch seconds
  private val active = ArrayBuffer[Int]()       // indices of non-terminal ids
  private val activePos = ArrayBuffer[Int]()    // index -> position in `active`, -1 if terminal
  private var arrivals = 0

  /** Distinct (id, updated_at) versions emitted so far. */
  var versions = 0L
  /** Largest `updated_at` emitted so far (epoch seconds). */
  var maxUpdated = Long.MinValue
  /** Versions emitted by the latest step. */
  var lastChanged = 0

  private val statusIx = schema.fieldIndex("status")
  private val updatedAtIx = schema.fieldIndex("updated_at")
  private val updatedByIx = schema.fieldIndex("updated_by")
  private val noteIx = schema.fieldIndex("note")
  private val linesIx = schema.fieldIndex("lines")

  private def rng(step: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L + entity.hashCode * 7919L + step)

  private def setActive(i: Int, isActive: Boolean): Unit = {
    val pos = activePos(i)
    if (isActive && pos < 0) { activePos(i) = active.length; active += i }
    else if (!isActive && pos >= 0) {
      val last = active(active.length - 1)
      active(pos) = last; activePos(last) = pos
      active.remove(active.length - 1); activePos(i) = -1
    }
  }

  private def stamp(i: Int, t: Long, r: SplittableRandom): Unit = {
    val rec = recs(i)
    rec(updatedAtIx) = iso(t)
    rec(updatedByIx) = s"user-${r.nextInt(40)}"
    updated(i) = t
    versions += 1
    lastChanged += 1
    if (t > maxUpdated) maxUpdated = t
  }

  private def add(t: Long, status: String, r: SplittableRandom): Unit = {
    val i = recs.length
    val created = t - r.nextInt(3 * 86400)
    recs += (if (inbound) newReceipt(r, created, status) else newOrder(r, created, status))
    updated += t
    activePos += -1
    stamp(i, t, r)
    effects(recs(i), status, t, r)
    setActive(i, !terminal(status))
  }

  /** Initial population: `n` ids spread over the 30 days before `t0`, with
    * statuses drawn from the whole chain (a fifth already terminal).
    */
  def initial(n: Int, t0: Long): Unit = {
    val r = rng(0)
    lastChanged = 0
    (0 until n).foreach { _ =>
      val status =
        if (r.nextInt(5) == 0) (if (r.nextInt(4) == 0) "CANCELLED" else chain.last._2)
        else startStates(r.nextInt(startStates.length))
      add(t0 - r.nextLong(30L * 86400), status, r)
    }
  }

  /** One source step over the window (tPrev, tNow]: `frac` of the active
    * ids change once each, and last step's terminal count arrives as NEW ids.
    */
  def step(stepNo: Int, tPrev: Long, tNow: Long, frac: Double): Unit = {
    val r = rng(stepNo)
    lastChanged = 0
    val span = tNow - tPrev
    val k = math.round(frac * active.length).toInt
    // partial Fisher-Yates over a copy: k distinct active ids
    val pool = active.toArray
    var becameTerminal = 0
    (0 until k).foreach { j =>
      val s = j + r.nextInt(pool.length - j)
      val i = pool(s); pool(s) = pool(j)
      val rec = recs(i)
      val from = rec(statusIx).asInstanceOf[String]
      val to = if (r.nextInt(20) == 0) "CANCELLED" else next.getOrElse(from, from)
      val t = tPrev + 1 + r.nextLong(span)
      rec(statusIx) = to
      if (r.nextInt(5) == 0) rec(noteIx) = s"note-${r.nextInt(1000)}"
      stamp(i, t, r)
      effects(rec, to, t, r)
      if (terminal(to)) { setActive(i, isActive = false); becameTerminal += 1 }
    }
    (0 until arrivals).foreach(_ => add(tPrev + 1 + r.nextLong(span), "NEW", r))
    arrivals = becameTerminal
  }

  private def effects(rec: Array[Any], status: String, t: Long, r: SplittableRandom): Unit =
    if (inbound) {
      val lines = rec(linesIx).asInstanceOf[Seq[Row]]
      if (status == "PROCESSING") {
        val fill = r.nextDouble()
        rec(linesIx) = lines.map(l => Row(l(0), l(1), l(2), l(3), l(4),
          math.min(l.getLong(4), math.floor(l.getLong(4) * fill).toLong)))
        rec(ibSchema.fieldIndex("processed_by")) = rec(updatedByIx)
      } else if (status == "FINISHED") {
        rec(linesIx) = lines.map(l => Row(l(0), l(1), l(2), l(3), l(4), l(4)))
        if (rec(ibSchema.fieldIndex("finished_at")) == null)
          rec(ibSchema.fieldIndex("finished_at")) = iso(t)
      }
    } else if (status == "PACKED") {
      rec(obSchema.fieldIndex("actual_amount")) = rec(obSchema.fieldIndex("total_amount"))
      rec(obSchema.fieldIndex("actual_delivery_date")) = date(t)
    }

  /** The source's answer set for any cursor at or after `since`: every id
    * whose current `updated_at` is later than `since`, materialised in
    * memory so reading it costs the pipeline no generator work.
    */
  def snapshot(spark: SparkSession, since: Long, parts: Int): DataFrame = {
    val rows = recs.indices.filter(i => updated(i) > since).map(i => Row.fromSeq(recs(i).toSeq))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
      .localCheckpoint(eager = true)
  }

  /** Ground truth for the latest table: (id, updated_at, status) of every id. */
  def truth(spark: SparkSession, parts: Int): DataFrame = {
    val rows = recs.indices.map(i => Row(recs(i)(0), new java.sql.Timestamp(updated(i) * 1000L),
      recs(i)(statusIx)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), truthSchema)
  }
}

object WmsGen {
  val entities: Seq[String] = Seq("ib_receipts", "ob_orders")

  /** 2024-03-01T00:00:00Z: the pipeline's clock starts here. */
  val t0: Long = Instant.parse("2024-03-01T00:00:00Z").getEpochSecond

  def iso(t: Long): String = Instant.ofEpochSecond(t).toString
  def date(t: Long): String = LocalDate.ofInstant(Instant.ofEpochSecond(t), ZoneOffset.UTC).toString

  val truthSchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("updated_at", TimestampType),
    StructField("status", StringType)))

  // Raw API row shapes (mock WMS API models; FIXTURES.md §2).
  private val ibLine = StructType(Seq(
    StructField("line_id", StringType), StructField("product_id", LongType),
    StructField("sku", StringType), StructField("qty_unit_id", LongType),
    StructField("expected_qty", LongType), StructField("actual_qty", LongType)))
  private val obLine = StructType(Seq(
    StructField("line_id", StringType), StructField("product_id", LongType),
    StructField("sku", StringType), StructField("qty", LongType)))

  val ibSchema: StructType = StructType(
    Seq("id", "po_code", "po_date", "status", "note", "processed_by", "contact_name",
      "contact_phone").map(StructField(_, StringType)) ++
    Seq("client_id", "warehouse_id").map(StructField(_, LongType)) ++
    Seq("created_by", "created_at", "updated_by", "updated_at", "finished_at")
      .map(StructField(_, StringType)) :+
    StructField("lines", ArrayType(ibLine)))

  val obSchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("so_code", StringType),
    StructField("expected_delivery_date", StringType),
    StructField("actual_delivery_date", StringType),
    StructField("customer_id", LongType), StructField("shipping_address_id", LongType),
    StructField("total_amount", DoubleType), StructField("actual_amount", DoubleType),
    StructField("note", StringType), StructField("client_id", LongType),
    StructField("warehouse_id", LongType), StructField("status", StringType),
    StructField("total_cod_amount", DoubleType), StructField("total_weight", DoubleType),
    StructField("total_volume", DoubleType), StructField("created_by", StringType),
    StructField("created_at", StringType), StructField("updated_by", StringType),
    StructField("updated_at", StringType), StructField("lines", ArrayType(obLine))))

  private def uuid(r: SplittableRandom): String = new java.util.UUID(r.nextLong(), r.nextLong()).toString
  private def money(r: SplittableRandom, max: Int): Double = r.nextInt(max * 100) / 100.0
  private def person(r: SplittableRandom): String = s"user-${r.nextInt(40)}"

  private def newReceipt(r: SplittableRandom, created: Long, status: String): Array[Any] = {
    val lines = (0 to r.nextInt(4)).map { _ =>
      val p = 1L + r.nextInt(5000)
      Row(uuid(r), p, f"SKU-$p%05d", 1L + r.nextInt(3), 1L + r.nextInt(500), 0L)
    }
    Array[Any](uuid(r), f"PO-${r.nextInt(100000000)}%08d", date(created), status,
      if (r.nextInt(3) == 0) null else s"note-${r.nextInt(1000)}", null,
      s"contact-${r.nextInt(5000)}", f"+84${r.nextInt(1000000000)}%09d",
      1L + r.nextInt(50), 1L + r.nextInt(8), person(r), iso(created), null, null, null,
      lines)
  }

  private def newOrder(r: SplittableRandom, created: Long, status: String): Array[Any] = {
    val lines = (0 to r.nextInt(4)).map { _ =>
      val p = 1L + r.nextInt(5000)
      Row(uuid(r), p, f"SKU-$p%05d", 1L + r.nextInt(40))
    }
    val total = money(r, 5000)
    Array[Any](uuid(r), f"SO-${r.nextInt(100000000)}%08d", date(created + 3 * 86400), null,
      1L + r.nextInt(20000), 1L + r.nextInt(40000), total, 0.0,
      if (r.nextInt(3) == 0) null else s"note-${r.nextInt(1000)}",
      1L + r.nextInt(50), 1L + r.nextInt(8), status, money(r, 500), money(r, 80),
      money(r, 3), person(r), iso(created), null, null, lines)
  }
}
