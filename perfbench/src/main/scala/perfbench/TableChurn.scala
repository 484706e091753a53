package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{GraftExtensions, Lakehouse, Tables}
import graft.api.McpServer
import graft.core.{FilePruning, IceTable}
import graft.streaming.{Changelog, Streaming}

/** `table-churn`: writes beside reads on three IceLite tables, a fixed
  * seeded mix per cycle.
  *
  *  - `orders_cow`: copy-on-write, partitioned by year(o_orderdate);
  *    appends through `Dml.insertDf`, SQL UPDATE / MERGE / DELETE through
  *    `GraftCatalog`.
  *  - `lineitem_mor`: merge-on-read; appends through `IceTable.append`,
  *    `Dml.update` / `Dml.delete` as position deletes.
  *  - `events` and its per-type rollup `ev_rollup`: one micro-batch per
  *    cycle over a newly landed event file, through
  *    `Streaming.writeToTable` and `Streaming.maintainCountSumStream`.
  *
  * Reads: pruned point and range reads (`IceTable.prunedScanStats`, the
  * file skipping behind `prunedRead`, with the filter on top), `readAsOf` time
  * travel, a bounded `Changelog.changesBetween` tail, and SQL through
  * `QueryEngine.execute` and as an MCP `tools/call query`. Every cycle ends with maintenance:
  * `compactDeletes`, `compactSmall` and `expireSnapshots` (plus orphan
  * removal). Deletes remove as many keys as appends add, so live data
  * stays level while history and file count grow.
  *
  * Correctness comes from an expected-state model kept from the generated
  * inputs: per table a row count and key and value checksums. Every read
  * is checked against it, every commit's snapshot row counts too, and all
  * checksums once per cycle; the model's checksum at every retained
  * lineitem snapshot checks time travel and changelog reads. */
final class TableChurn(ctx: Ctx) extends Workload {
  import ctx.spark

  val InitialOrders = 4000
  val OrderBatch = 200
  val MergeNew = 50
  val LineOrders = 60
  val EventBatch = 500
  val RetainSnapshots = 8

  private val rnd = new scala.util.Random(ctx.seed)
  private var lh: Lakehouse = _
  private var cat = ""
  private var dir: Path = _
  private var rep = 0
  private var msgId = 0
  private implicit val formats: Formats = DefaultFormats

  /** key -> value of the live rows: orders cents of o_totalprice;
    * lineitem (l_orderkey * 8 + l_linenumber) -> l_discount hundredths. */
  private val orders = mutable.TreeMap.empty[Long, Long]
  private val lines = mutable.TreeMap.empty[Long, Long]
  private var nextOrder = 0L
  private var nextLineOrder = 0L
  private var nextEvent = 0L
  private var evCount, evKeySum, evCents = 0L
  private val evByType = mutable.Map.empty[String, (Long, Long)]
  /** lineitem snapshot id -> model checksum at that snapshot. */
  private val liHistory = mutable.LinkedHashMap.empty[Long, (Long, Long, Long)]

  // per-layer counters, filled only in traced cycles
  private var filesConsidered, filesKept = 0L
  private var commitBytes, commitOps, bytesRewritten, streamRows, streamOps = 0L

  private def ordersT: IceTable = lh.catalog.loadTable("default.orders_cow")
  private def linesT: IceTable = lh.catalog.loadTable("default.lineitem_mor")

  def build(d: Path): Unit = {
    dir = d
    lh = Lakehouse.open(spark, d.toString)
    GraftExtensions.register(spark)
    cat = s"pbchurn$rep"
    rep += 1
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.engine.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", d.toString)
    val ord = Tables.load(spark, ctx.dataDir, "orders")
      .where(col("o_orderkey") < InitialOrders)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority")
    lh.catalog.createTable("default.orders_cow", ord.schema, Seq("year(o_orderdate)"))
    ordersT.append(ord.repartition(2))
    val li = Tables.load(spark, ctx.dataDir, "lineitem")
      .where(col("l_orderkey") < InitialOrders)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_shipdate")
    lh.catalog.createTable("default.lineitem_mor", li.schema, Nil,
      Map("write.update.mode" -> "merge-on-read",
        "write.delete.mode" -> "merge-on-read"))
    linesT.append(li.repartition(2))
    // the model starts from the same generated rows
    orders.clear(); lines.clear(); liHistory.clear(); evByType.clear()
    ord.select("o_orderkey", "o_totalprice").collect().foreach { r =>
      orders(r.getLong(0)) = math.round(r.getDouble(1) * 100) }
    li.select("l_orderkey", "l_linenumber", "l_discount").collect().foreach { r =>
      lines(r.getLong(0) * 8 + r.getInt(1)) = math.round(r.getDouble(2) * 100) }
    nextOrder = InitialOrders
    nextLineOrder = InitialOrders
    nextEvent = 0L
    evCount = 0; evKeySum = 0; evCents = 0
    recordLines()
  }

  def oracleRequests: Map[String, String] = Map.empty
  def useOracle(expected: Map[String, Seq[String]]): Unit = ()

  def cycleSeconds: Double = 20.0

  /** No warm-up cycle: the three table builds run the write path first,
    * and a full extra cycle (about 20 s on a 4-core host) does not fit the
    * benchmark's run budget, so the measured cycle is the first one. */
  def warm(rec: Recorder): Unit = ()

  // ---- the model ---------------------------------------------------------

  private def sums(m: collection.Map[Long, Long]): (Long, Long, Long) =
    (m.size.toLong, m.keysIterator.sum, m.valuesIterator.sum)

  private def recordLines(): Unit =
    linesT.currentSnapshot.foreach(s => liHistory(s.id) = sums(lines))

  private def lineSums(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(col("l_orderkey") * 8 + col("l_linenumber")), lit(0L)),
      coalesce(sum(round(col("l_discount") * 100).cast("long")), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** After each commit: the live row counts the snapshots record must
    * match the model (metadata only). Full checksums of every table are
    * compared once per cycle, after its last operation. */
  private def checkCounts(what: String): Unit = {
    Stats.expectEq(ordersT.currentSnapshot.map(_.liveRows), Some(orders.size.toLong),
      s"orders rows $what")
    Stats.expectEq(linesT.currentSnapshot.map(_.liveRows), Some(lines.size.toLong),
      s"lineitem rows $what")
    recordLines()
  }

  private def checkState(): Unit = {
    val o = ordersT.read().agg(count(lit(1)), sum("o_orderkey"),
      sum(round(col("o_totalprice") * 100).cast("long"))).head()
    Stats.expectEq((o.getLong(0), o.getLong(1), o.getLong(2)), sums(orders), "orders")
    Stats.expectEq(lineSums(linesT.read()), sums(lines), "lineitem")
    checkEvents()
    checkRollup()
  }

  private def checkEvents(): Unit = {
    val e = lh.catalog.loadTable("default.events").read()
      .agg(count(lit(1)), sum("event_id"),
        sum(round(col("value") * 100).cast("long"))).head()
    Stats.expectEq((e.getLong(0), e.getLong(1), e.getLong(2)),
      (evCount, evKeySum, evCents), "events")
  }

  private def checkRollup(): Unit = {
    val got = lh.catalog.loadTable("default.ev_rollup").read()
      .select("event_type", "n", "sum_micro").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    Stats.expectEq(got, evByType.toMap, "ev_rollup")
  }

  // ---- inputs, all drawn from the seeded generator -----------------------

  private val orderSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampNTZType),
    StructField("o_orderpriority", StringType)))

  private def orderRows(keys: Seq[Long]): Seq[(Long, Long)] =
    keys.map(k => k -> (100000L + rnd.nextInt(49000000)))

  private def ordersDf(rows: Seq[(Long, Long)]): DataFrame =
    spark.createDataFrame(rows.map { case (k, cents) =>
      Row(k, rnd.nextInt(1500).toLong, cents / 100.0,
        java.time.LocalDateTime.of(1995, 1, 1, 0, 0).plusDays(rnd.nextInt(2405)),
        s"${1 + rnd.nextInt(5)}-PRIO")
    }.asJava, orderSchema)

  private def lineBatch(): (DataFrame, Seq[(Long, Long)]) = {
    val rows = (0 until LineOrders).flatMap { _ =>
      val o = nextLineOrder
      nextLineOrder += 1
      (1 to 1 + rnd.nextInt(7)).map { ln =>
        Row(o, ln, (1 + rnd.nextInt(50)).toDouble,
          (90000 + rnd.nextInt(10000000)) / 100.0, rnd.nextInt(11) / 100.0,
          java.time.LocalDateTime.of(1995, 1, 2, 0, 0).plusDays(rnd.nextInt(2499)))
      }
    }
    val model = rows.map(r => (r.getLong(0) * 8 + r.getInt(1)) ->
      math.round(r.getDouble(4) * 100))
    (spark.createDataFrame(rows.asJava, linesT.schema), model)
  }

  private def landEvents(): Unit = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val rows = (0 until EventBatch).map { _ =>
      val id = nextEvent
      nextEvent += 1
      val cents = rnd.nextInt(56000).toLong
      val t = types(rnd.nextInt(types.size))
      evCount += 1; evKeySum += id; evCents += cents
      val (n, s) = evByType.getOrElse(t, (0L, 0L))
      evByType(t) = (n + 1, s + cents * 10000)
      Row(id, java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")
        .plusSeconds(id)), rnd.nextInt(1500).toLong, t, cents / 100.0)
    }
    spark.createDataFrame(rows.asJava, eventSchema).coalesce(1)
      .write.mode("append").parquet(dir.resolve("landing").toString)
  }

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  // ---- the cycle ---------------------------------------------------------

  private def tableBytes(): Long =
    Files.walk(dir.resolve("default")).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size(_)).sum

  /** A commit operation: times `call`, then checks the model; in traced
    * cycles also counts the bytes the commit added. */
  private def commit(rec: Recorder, name: String)(call: => Any)(check: => Unit): Unit = {
    val before = if (ctx.tracer.enabled) tableBytes() else 0L
    val traced = ctx.tracer.enabled
    rec.op("commit", name)(call) { _ =>
      check
      if (traced) { commitBytes += tableBytes() - before; commitOps += 1 }
    }
    ()
  }

  private def maintain(rec: Recorder, name: String)(call: => Any)(check: => Unit): Unit = {
    val before = (ordersT.currentSnapshot.toSeq ++ linesT.currentSnapshot.toSeq)
      .flatMap(_.files).map(f => f.path -> f.bytes).toMap
    val traced = ctx.tracer.enabled
    rec.op("maintain", name)(call) { _ =>
      check
      if (traced) {
        val after = (ordersT.currentSnapshot.toSeq ++ linesT.currentSnapshot.toSeq)
          .flatMap(_.files).map(_.path).toSet
        bytesRewritten += before.filter { case (p, _) => !after(p) }.values.sum
      }
    }
    ()
  }

  /** A pruned read as `prunedRead` does it: skip files by partition and
    * column bounds (`prunedScanStats`, which also reports kept and total
    * files), then filter what is left. `use` executes the read. */
  private def pruned[T](t: IceTable, filter: Column)(use: DataFrame => T): T = {
    val (df, kept, total) = ctx.tracer.span("core.scan_plan")(
      t.prunedScanStats(FilePruning.conjunctsOf(filter, t.schema)))
    if (ctx.tracer.enabled) { filesKept += kept; filesConsidered += total }
    ctx.tracer.span("core.read")(use(df.where(filter)))
  }

  private def liveRange(m: mutable.TreeMap[Long, Long], n: Int): (Long, Long) = {
    val ks = m.keysIterator.take(n).toSeq
    (ks.head, ks.last)
  }

  def cycle(rec: Recorder): Unit = {
    val tr = ctx.tracer

    // orders: append a batch of new keys
    val batch = orderRows(nextOrder until nextOrder + OrderBatch)
    nextOrder += OrderBatch
    val batchDf = ordersDf(batch)
    commit(rec, "orders.insert")(tr.span("dml.insert")(
      lh.dml.insertDf("default.orders_cow", batchDf))) {
      orders ++= batch; checkCounts("after insert") }

    // orders: point read by key
    val k = orders.keysIterator.drop(rnd.nextInt(orders.size)).next()
    rec.op("read", "orders.point")(
      pruned(ordersT, col("o_orderkey") === k)(_.collect())) { rows =>
      Stats.expectEq(rows.map(r => math.round(r.getAs[Double]("o_totalprice") * 100)).toSeq,
        Seq(orders(k)), s"orders point $k") }

    // lineitem: core append of new orders' lines
    val (liDf, liModel) = lineBatch()
    commit(rec, "lineitem.append")(tr.span("core.commit")(linesT.append(liDf))) {
      lines ++= liModel; checkCounts("after append") }

    // lineitem: merge-on-read update of a key range
    val (ua, ub) = {
      val lo = lines.firstKey / 8 + rnd.nextInt(((nextLineOrder - lines.firstKey / 8) max 1).toInt)
      (lo, lo + 20)
    }
    val disc = rnd.nextInt(11)
    commit(rec, "lineitem.update")(tr.span("dml.update")(lh.dml.update(
      "default.lineitem_mor", s"l_orderkey BETWEEN $ua AND $ub",
      Map("l_discount" -> disc / 100.0)))) {
      lines.keysIterator.filter(x => x / 8 >= ua && x / 8 <= ub).toList
        .foreach(lines(_) = disc)
      checkCounts("after update") }

    // lineitem: range read
    val (ra, rb) = { val a = lines.firstKey / 8 + rnd.nextInt(1000); (a, a + 200) }
    rec.op("read", "lineitem.range")(
      pruned(linesT, col("l_orderkey").between(ra, rb))(lineSums)) { got =>
      Stats.expectEq(got, sums(lines.filter { case (x, _) => x / 8 >= ra && x / 8 <= rb }),
        s"lineitem range $ra..$rb") }

    // orders: SQL UPDATE through the catalog
    val sKeys = orders.keysIterator.drop(rnd.nextInt(orders.size - 100)).take(40).toSeq
    val price = 100000L + rnd.nextInt(49000000)
    commit(rec, "orders.sql_update")(tr.span("engine.sql_dml")(spark.sql(
      s"UPDATE $cat.default.orders_cow SET o_totalprice = ${price / 100.0} " +
        s"WHERE o_orderkey BETWEEN ${sKeys.head} AND ${sKeys.last}").collect())) {
      sKeys.foreach(orders(_) = price); checkCounts("after UPDATE") }

    // events: land a file, then one micro-batch into the table and one
    // into the rollup
    landEvents()
    val stream = spark.readStream.schema(eventSchema).parquet(dir.resolve("landing").toString)
    commit(rec, "events.stream")(tr.span("streaming.batch")(Streaming.writeToTable(
      stream, lh, "default.events", dir.resolve("ckpt-events").toString)
      .awaitTermination())) {
      Stats.expectEq(lh.catalog.loadTable("default.events").currentSnapshot
        .map(_.liveRows), Some(evCount), "events rows") }
    commit(rec, "events.rollup")(tr.span("streaming.rollup")(
      Streaming.maintainCountSumStream(stream, lh, "default.ev_rollup",
        Seq("event_type"), "value", dir.resolve("ckpt-rollup").toString)
        .awaitTermination())) { checkRollup() }
    if (tr.enabled) { streamRows += 2L * EventBatch; streamOps += 2 }

    // lineitem: time travel to a retained earlier snapshot
    val past = liHistory.keys.toSeq.takeRight(RetainSnapshots - 1)
    val sid = past(rnd.nextInt(past.size))
    rec.op("read", "lineitem.as_of")(
      tr.span("core.time_travel")(lineSums(linesT.readAsOf(sid.toString)))) { got =>
      Stats.expectEq(got, liHistory(sid), s"lineitem as of $sid") }

    // orders: SQL MERGE — update a live range, insert new keys
    val mKeys = orders.keysIterator.drop(rnd.nextInt(orders.size - 60)).take(30).toSeq
    val upd = orderRows(mKeys)
    val ins = orderRows(nextOrder until nextOrder + MergeNew)
    nextOrder += MergeNew
    ordersDf(upd ++ ins).createOrReplaceTempView("pb_merge_src")
    commit(rec, "orders.sql_merge")(tr.span("engine.sql_dml")(spark.sql(
      s"""MERGE INTO $cat.default.orders_cow t USING pb_merge_src s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect())) {
      orders ++= upd; orders ++= ins; checkCounts("after MERGE") }

    // lineitem: merge-on-read delete of the oldest orders' lines
    val dOrders = LineOrders
    val d0 = lines.firstKey / 8
    commit(rec, "lineitem.delete")(tr.span("dml.delete")(lh.dml.delete(
      "default.lineitem_mor", s"l_orderkey < ${d0 + dOrders}"))) {
      lines.keysIterator.takeWhile(_ / 8 < d0 + dOrders).toList.foreach(lines.remove)
      checkCounts("after delete") }

    // orders: SQL DELETE of the oldest keys, as many as were added
    val (da, db) = liveRange(orders, OrderBatch + MergeNew)
    commit(rec, "orders.sql_delete")(tr.span("engine.sql_dml")(spark.sql(
      s"DELETE FROM $cat.default.orders_cow WHERE o_orderkey BETWEEN $da AND $db").collect())) {
      orders.keysIterator.takeWhile(_ <= db).toList.foreach(orders.remove)
      checkCounts("after DELETE") }

    // lineitem: bounded changelog tail over the last few commits
    val ids = liHistory.keys.toSeq.takeRight(4)
    val (from, to) = (ids.head, ids.last)
    rec.op("read", "lineitem.changes")(tr.span("streaming.changelog_tail") {
      val sign = when(col(Changelog.ChangeTypeCol) === "delete", -1L).otherwise(1L)
      Changelog.changesBetween(linesT, Some(from), to)
        .agg(coalesce(sum(sign), lit(0L)),
          coalesce(sum(sign * (col("l_orderkey") * 8 + col("l_linenumber"))), lit(0L)),
          coalesce(sum(sign * round(col("l_discount") * 100).cast("long")), lit(0L)))
        .head()
    }) { r =>
      val (a, b) = (liHistory(from), liHistory(to))
      Stats.expectEq((r.getLong(0), r.getLong(1), r.getLong(2)),
        (b._1 - a._1, b._2 - a._2, b._3 - a._3), s"changes $from..$to")
    }

    // orders: SQL read through the query engine
    val (qa, qb) = { val a = orders.firstKey + rnd.nextInt(2000); (a, a + 500) }
    rec.op("read", "orders.sql")(tr.span("engine.sql_read")(lh.engine.execute(
      s"""SELECT COUNT(*) AS n, SUM(o_orderkey) AS keys,
         | SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
         |FROM default.orders_cow WHERE o_orderkey BETWEEN $qa AND $qb""".stripMargin)
      .collect())) { rows =>
      val r = rows.head
      val want = sums(orders.filter { case (x, _) => x >= qa && x <= qb })
      Stats.expectEq((r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2)), want, s"orders sql $qa..$qb") }

    // orders: the same kind of SQL sent as an MCP tools/call
    val (ma, mb) = { val a = orders.firstKey + rnd.nextInt(2000); (a, a + 500) }
    msgId += 1
    val msg = Mcp.request(msgId,
      s"""SELECT o_orderpriority, COUNT(*) AS n, SUM(o_orderkey) AS keys,
         | SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
         |FROM default.orders_cow WHERE o_orderkey BETWEEN $ma AND $mb
         |GROUP BY o_orderpriority""".stripMargin)
    rec.op("read", "orders.mcp")(tr.span("api.mcp")(McpServer.handleMessage(lh, msg))) { resp =>
      val text = Mcp.text(resp)
      val got = text.split('\n').filter(_.startsWith("{")).map(JsonMethods.parse(_))
        .map(j => ((j \ "n").extract[Long], (j \ "keys").extract[Long], (j \ "cents").extract[Long]))
      Stats.expectEq((got.map(_._1).sum, got.map(_._2).sum, got.map(_._3).sum),
        sums(orders.filter { case (x, _) => x >= ma && x <= mb }), s"orders mcp $ma..$mb")
    }

    // maintenance
    maintain(rec, "lineitem.compact_deletes")(tr.span("orchestration.compact")(
      linesT.compactDeletes())) { checkCounts("after compactDeletes") }
    maintain(rec, "orders.compact_small")(tr.span("orchestration.compact")(
      ordersT.compactSmall(64L << 10, 2))) { checkCounts("after compactSmall") }
    maintain(rec, "expire")(tr.span("orchestration.expire") {
      Seq(ordersT, linesT).foreach { t =>
        t.expireSnapshots(retainLast = Some(RetainSnapshots))
        t.orphanFiles(delete = true)
      }
    }) {
      val kept = linesT.snapshots.map(_.id).toSet
      liHistory.keys.filterNot(kept).toList.foreach(liHistory.remove)
      checkState()
    }
  }

  def layerMetrics(rec: Recorder, traced: Seq[Sample]): Map[String, Double] = {
    val snaps = Seq(ordersT, linesT)
    val cur = snaps.flatMap(_.currentSnapshot)
    // space amplification: every byte under the table dirs over the live
    // rows written once as compact parquet
    val compact = dir.resolve("compact")
    val liveTables = Seq("default.orders_cow", "default.lineitem_mor",
      "default.events", "default.ev_rollup")
    liveTables.foreach(t => lh.catalog.loadTable(t).read().coalesce(1).write
      .mode("overwrite").parquet(compact.resolve(t).toString))
    def bytes(p: Path) = Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
      .map(Files.size(_)).sum
    val all = Files.walk(dir.resolve("default")).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size(_)).sum
    // stall: the first foreground operation after maintenance, less that
    // operation's median
    val ordered = rec.samples.toSeq
    val medians = ordered.groupBy(_.name).map { case (n, ss) => n -> Stats.median(ss.map(_.seconds)) }
    val stalls = ordered.sliding(2).collect {
      case Seq(a, b) if a.kind == "maintain" && b.kind != "maintain" =>
        b.seconds - medians(b.name)
    }.toSeq
    val nTraced = math.max(traced.size, 1).toDouble
    Map(
      "core.files_considered" -> filesConsidered / nTraced,
      "core.files_kept" -> filesKept / nTraced,
      "core.prune_keep_ratio" -> (if (filesConsidered > 0) filesKept.toDouble / filesConsidered else 0.0),
      "core.commit_bytes" -> (if (commitOps > 0) commitBytes.toDouble / commitOps else 0.0),
      "core.snapshots" -> snaps.map(_.snapshots.size).sum.toDouble,
      "core.data_files" -> cur.map(_.files.size).sum.toDouble,
      "core.delete_files" -> cur.map(_.deleteFiles.size).sum.toDouble,
      "core.space_amp" -> all.toDouble / bytes(compact),
      "streaming.rows" -> (if (streamOps > 0) streamRows.toDouble / streamOps else 0.0),
      "orchestration.bytes_rewritten" -> bytesRewritten / nTraced,
      "orchestration.stall_s" -> (if (stalls.isEmpty) 0.0 else stalls.sum / stalls.size))
  }
}
