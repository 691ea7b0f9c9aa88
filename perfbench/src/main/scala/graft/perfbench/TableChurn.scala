package graft.perfbench

import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ext.SnapshotLog

/** The table churn of `serve_mix`'s backend client: a snapshot-log table
  * built from the lineitem-shaped input, and a fixed sequence of
  * appends, merge-on-read merges and deletes and copy-on-write updates,
  * interleaved with current reads, keyed point lookups, time-travel
  * reads and change-feed reads, and a compaction once per block.
  * Every read is checked against a plain replay of the same mutations
  * on an in-memory model.
  */
final class TableChurn {
  import TableChurn._
  /** The operation sequence, repeated, and restarted when the timed phase
    * starts. A timed phase holds about six table operations, so the block
    * opens with the merge-on-read cycle: a merge and a delete leave
    * deletion vectors, reads and a lookup pay for them, a compaction folds
    * them away and a read follows. The other kinds come after and are
    * timed only in runs that get that far. Every run walks the same
    * sequence; the seed picks keys and values.
    */
  val block: Seq[String] = Seq(
    "merge", "read", "delete", "lookup", "compact", "read", "append",
    "timetravel", "update", "changes", "lookup", "timetravel", "changes")
  val writeKinds: Set[String] = Set("append", "merge", "delete", "update")

  val schema: StructType = StructType(Seq(
    StructField("l_key", LongType), StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType), StructField("l_quantity", LongType),
    StructField("l_price_cents", LongType), StructField("l_flag", StringType)))

  private def fpCols(sign: Column): Seq[Column] = Seq(
    coalesce(sum(sign), lit(0L)), coalesce(sum(sign * col("l_key")), lit(0L)),
    coalesce(sum(sign * col("l_key") * col("l_quantity")), lit(0L)),
    coalesce(sum(sign * col("l_price_cents")), lit(0L)))
  private def readFp(df: DataFrame, sign: Column = lit(1L)): Fp = {
    val r = df.agg(fpCols(sign).head, fpCols(sign).tail: _*).head()
    Fp(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  private var dir = ""
  private val model = mutable.HashMap.empty[Long, Rec]
  private var fp = Zero
  private val fpAt = mutable.HashMap.empty[Int, Fp]
  private var v0 = 0
  private var nextKey = 0L
  private var userRows = 0L
  private var bytesBefore = 0L
  /** (description, expected, observed) for every read, checked later */
  private val reads = mutable.ArrayBuffer.empty[(String, Any, Any)]
  private var liveRowsRead = 0L
  private var rng: SplittableRandom = _
  private var sequence: Iterator[String] = Iterator.empty
  /** Updates and compactions run so far: each may rewrite up to a full
    * copy of the table (updates are copy-on-write).
    */
  private var rewrites = 0

  def setup(ctx: Ctx): Unit = {
    dir = s"${ctx.work}/churn/table"
    Files.rm(s"${ctx.work}/churn")
    val base = ctx.spark.read.parquet(s"${ctx.inputs}/lineitem.parquet")
    v0 = ctx.span("snapshot.commit") {
      SnapshotLog.append(base, dir, col("l_key"))
    }
  }

  private def rows(ctx: Ctx, recs: Seq[(Long, Rec)]): DataFrame =
    ctx.spark.createDataFrame(java.util.Arrays.asList(recs.map { case (k, r) =>
      Row(k, r._1, r._2, r._3, r._4, r._5) }: _*), schema)

  private def randRec(rng: SplittableRandom, key: Long): Rec =
    (key / 4, 1L + rng.nextInt(2000), 1L + rng.nextInt(50),
      100L + rng.nextInt(999900), Seq("A", "N", "R")(rng.nextInt(3)))

  def warmup(ctx: Ctx): Unit = {
    model.clear()
    ctx.spark.read.parquet(s"${ctx.inputs}/lineitem.parquet").collect().foreach { r =>
      model(r.getLong(0)) = (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))
    }
    fp = model.foldLeft(Zero) { case (a, (k, r)) => a + fpOf(k, r) }
    fpAt(v0) = fp
    nextKey = model.keys.max + 1
    // one untimed read of each kind on the initial version
    readFp(SnapshotLog.readAsOf(ctx.spark, dir, v0))
    SnapshotLog.readAsOfKeys(ctx.spark, dir, v0, Seq("l_key"),
      rows(ctx, model.take(2).toSeq))._1.collect()
    rng = new SplittableRandom(ctx.seed * 7919L)
  }

  private def commit(v: Int): Unit = { fpAt(v) = fp }

  /** Runs one operation; the model update and the expected values are
    * computed outside the timed call.
    */
  private def op(ctx: Ctx, kind: String, rng: SplittableRandom,
      timed: (=> Unit) => Unit): Unit = {
    val spark = ctx.spark
    val live = () => model.keysIterator.drop(rng.nextInt(model.size)).next()
    kind match {
      case "append" =>
        val recs = (0 until 200).map { i => val k = nextKey + i; k -> randRec(rng, k) }
        nextKey += 200
        val df = rows(ctx, recs)
        var v = -1
        timed { v = ctx.span("snapshot.commit") { SnapshotLog.append(df, dir, col("l_key")) } }
        recs.foreach { case (k, r) => model(k) = r; fp += fpOf(k, r) }
        userRows += recs.size
        commit(v)
      case "merge" =>
        val old = (0 until 100).map(_ => live()).distinct
        val fresh = (0 until 50).map(i => nextKey + i)
        nextKey += 50
        val recs = (old ++ fresh).map(k => k -> randRec(rng, k))
        val df = rows(ctx, recs)
        var v = -1
        timed { v = ctx.span("snapshot.commit") {
          SnapshotLog.mergeMor(spark, df, dir, "l_key", col("l_key")) } }
        recs.foreach { case (k, r) =>
          model.get(k).foreach(o => fp -= fpOf(k, o))
          model(k) = r; fp += fpOf(k, r)
        }
        userRows += recs.size
        commit(v)
      case "delete" =>
        val lo = live()
        val pred = col("l_key").between(lo, lo + 300) && col("l_key") % 3 === 0
        var v = -1
        timed { v = ctx.span("snapshot.commit") { SnapshotLog.deleteMor(spark, dir, pred) } }
        model.keys.filter(k => k >= lo && k <= lo + 300 && k % 3 == 0).toSeq
          .foreach { k => fp -= fpOf(k, model(k)); model.remove(k) }
        commit(v)
      case "update" =>
        val o = live() / 4
        val pred = col("l_orderkey").between(o, o + 40)
        var v = -1
        timed { v = ctx.span("snapshot.commit") {
          SnapshotLog.update(spark, dir, pred,
            Seq("l_quantity" -> (col("l_quantity") + 1)), col("l_key")) } }
        model.toSeq.filter { case (_, r) => r._1 >= o && r._1 <= o + 40 }
          .foreach { case (k, r) =>
            val n = r.copy(_3 = r._3 + 1)
            fp -= fpOf(k, r); fp += fpOf(k, n); model(k) = n
            userRows += 1
          }
        rewrites += 1
        commit(v)
      case "compact" =>
        var v = -1
        timed { v = ctx.span("snapshot.maint") { SnapshotLog.compact(spark, dir, col("l_key")) } }
        rewrites += 1
        commit(v)
      case "read" =>
        var got = Zero
        timed { got = ctx.span("snapshot.read") {
          readFp(SnapshotLog.readAsOf(spark, dir, SnapshotLog.version(dir))) } }
        reads += ((s"read v${SnapshotLog.version(dir)}", fp, got))
        liveRowsRead += fp.n
      case "lookup" =>
        val keys = Seq(live(), live(), live(), nextKey + 7, live() + 1).distinct
        val v = SnapshotLog.version(dir)
        var got = Set.empty[(Long, Rec)]
        timed { got = ctx.span("snapshot.lookup") {
          SnapshotLog.readAsOfKeys(spark, dir, SnapshotLog.version(dir), Seq("l_key"),
            rows(ctx, keys.map(k => k -> randRec(rng, k))).select("l_key"))._1
            .select(schema.fieldNames.map(col): _*).collect()
            .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
              r.getLong(4), r.getString(5)): Rec)).toSet } }
        val want = keys.flatMap(k => model.get(k).map(k -> _)).toSet
        reads += ((s"lookup v$v ${keys.mkString(",")}", want, got))
        liveRowsRead += want.size
      case "timetravel" =>
        val vs = fpAt.keys.toSeq.sorted
        val v = vs(rng.nextInt(vs.size))
        var got = Zero
        timed { got = ctx.span("snapshot.read") { readFp(SnapshotLog.readAsOf(spark, dir, v)) } }
        reads += ((s"timetravel v$v", fpAt(v), got))
        liveRowsRead += fpAt(v).n
      case "changes" =>
        val to = SnapshotLog.version(dir)
        val from = math.max(v0, to - 1 - rng.nextInt(4))
        var got = Zero
        val sign = when(col("_change_type").isin("insert", "update_postimage"), lit(1L))
          .otherwise(lit(-1L))
        timed { got = ctx.span("snapshot.read") {
          readFp(SnapshotLog.readCdc(spark, dir, from, to), sign) } }
        reads += ((s"changes ($from, $to]", fpAt(to) - fpAt(from), got))
        liveRowsRead += math.abs(got.n)
    }
  }

  /** Restarts the sequence and zeroes the per-phase counts; every read
    * stays checked.
    */
  def startPhase(): Unit = {
    sequence = Iterator.continually(block).flatten
    bytesBefore = Files.bytesUnder(dir)
    userRows = 0L
    liveRowsRead = 0L
  }

  /** Runs the next operation of the sequence and records it. */
  def step(ctx: Ctx, res: PhaseResult): Unit = {
    val kind = sequence.next()
    val write = writeKinds(kind)
    var t0, t1 = 0L
    val ok = try {
      ctx.tracer.newRequest(op(ctx, kind, rng, body => {
        t0 = System.nanoTime(); body; t1 = System.nanoTime()
      }))
      true
    } catch { case e: Exception =>
      res.fail(s"$kind threw: $e")
      if (t1 == 0L) t1 = System.nanoTime()
      false
    }
    res.synchronized {
      res.ops += Op(if (kind == "compact") "maint" else kind, write, t0, t1, ok)
    }
  }

  def check(ctx: Ctx, res: PhaseResult): Unit = {
    reads.foreach { case (what, want, got) =>
      res.check(want == got, s"$what: replay says $want, table read $got")
    }
    val plain = s"${ctx.work}/churn/plain"
    SnapshotLog.readAsOf(ctx.spark, dir, SnapshotLog.version(dir))
      .coalesce(1).write.parquet(plain)
    val plainBytes = Files.bytesUnder(plain).toDouble
    val tableBytes = Files.bytesUnder(dir).toDouble
    val amp = tableBytes / plainBytes
    res.extra("space_amp") = amp
    res.extra("table_rewrites") = rewrites
    // the log keeps every version for time travel, so the table may hold
    // one copy plus one per rewrite; more than a quarter over that is
    // write or storage overhead
    res.check(amp <= 1.25 * (1 + rewrites),
      f"space_amp $amp%.2f over 1.25 x ${1 + rewrites} table copies")
    res.layer("snapshot.bytes_written_per_user_byte") =
      (tableBytes - bytesBefore) / math.max(1.0, userRows * plainBytes / model.size)
    res.layer("snapshot.live_rows_read") = liveRowsRead.toDouble
  }
}

object TableChurn {
  /** orderkey, partkey, quantity, price in cents, flag */
  type Rec = (Long, Long, Long, Long, String)

  /** Order-free table fingerprint: row count, key sum, key-weighted
    * quantity sum, price sum.
    */
  final case class Fp(n: Long, k: Long, kq: Long, p: Long) {
    def +(o: Fp) = Fp(n + o.n, k + o.k, kq + o.kq, p + o.p)
    def -(o: Fp) = Fp(n - o.n, k - o.k, kq - o.kq, p - o.p)
  }
  val Zero = Fp(0, 0, 0, 0)
  def fpOf(key: Long, r: Rec): Fp = Fp(1, key, key * r._3, r._4)
}
