package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.SnapshotCatalog
import graft.ops.{Retrieval, TextIndex}

/** `churn` — a seeded keyed-ingest stream, with derived state kept fresh.
  *
  * Base tables: `orders` (keyed by `o_orderkey`), `customer` and
  * `documents`. Derived from them: a retractable aggregate MV (`agg_mv`:
  * count and sum per order status), a join-aggregate MV (`join_mv`:
  * orders ⋈ customer, per market segment) and a BM25 `TextIndex` over
  * documents. A pass is one round:
  *
  *  1. base commits: `upsertMoR` on orders (updates of live keys plus new
  *     keys), `deleteMoREq` on orders, one new customer, eight documents
  *     appended one commit each, two documents equality-deleted;
  *  2. two merged reads of orders through the catalog: a point lookup (of
  *     a just-deleted key in odd rounds, a live key in even ones) and a
  *     full aggregate;
  *  3. a refresh of both MVs and the index;
  *  4. three queries through the SQL catalog plugin: each MV, and the
  *     aggregate MV's body over the base — a query the plugin's MV rewrite
  *     can answer from the fresh MV;
  *  5. table maintenance on orders: equality deletes convert to
  *     positions, position deletes fold, old snapshots expire.
  *
  * Commit fixed costs, the delete-set merge and the refresh machinery
  * dominate; nothing here is data-plane bound. Latency classes: write =
  * the twelve base commits (the median falls among the nine small appends),
  * read = the two merged reads, refresh = MV and index refreshes and the
  * table maintenance (its three calls timed as one operation; the trace
  * times each call). The SQL queries are counted, checked and traced, in
  * no latency class: their cost shows in `wall_s`. A refresh that
  * silently falls back from incremental to `full` shows in the traced
  * `catalog.refresh.full_share`.
  *
  * The expectation is a driver-side model of the three bases, updated with
  * each operation. Every read is checked against it — each MV query
  * against the MV's body evaluated over the model — and at the end the
  * merged orders table must equal it row for row and the index's top-k must
  * equal BM25 recomputed from scratch over the base. */
final class Churn(spark: SparkSession, gen: Gen, rec: Rec) extends Workload {
  private val Db = "c"
  private val Orders = 8000
  private val Customers = 400
  private val Docs = 200
  private val Statuses = Seq("F", "O", "P")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  private val orderSchema = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalcents", LongType),
    StructField("o_comment", StringType)))
  private val custSchema = StructType(Seq(
    StructField("c_custkey", LongType, nullable = false), StructField("c_mktsegment", StringType)))
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))

  /** An order: key -> (custkey, status, cents, comment). */
  private type Order = (Long, (Long, String, Long, String))
  private def orderOf(r: Row): Order =
    r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getLong(3), r.getString(4)))
  private def orderRow(o: Order): Row = o match { case (k, (c, s, t, m)) => Row(k, c, s, t, m) }
  private def newOrder(r: java.util.Random, k: Long): Order =
    k -> ((1L + r.nextInt(Customers + 8), Statuses(r.nextInt(3)), r.nextInt(50000000).toLong,
      gen.words(r, 2 + r.nextInt(4))))

  private val initOrders = gen.rows("orders", Orders)((r, i) => orderRow(newOrder(r, i + 1)))
  private val initCust = gen.rows("customer", Customers)((r, i) =>
    Row(i + 1, Segments(r.nextInt(Segments.size))))
  private val initDocs = gen.rows("documents", Docs)((r, i) => Row(i + 1, gen.words(r, 10 + r.nextInt(30))))

  private var orders = mutable.TreeMap.empty[Long, (Long, String, Long, String)]
  private var cust = mutable.TreeMap.empty[Long, String]
  private var docs = mutable.TreeMap.empty[Long, String]
  private var nextOrder, nextCust, nextDoc = 0L
  private var round = 0
  private var cat: SnapshotCatalog = _
  /** The SQL catalog plugin's name for the fixture warehouse. */
  private val sqlCat = "bench"
  private val modes = mutable.ArrayBuffer.empty[String]
  private val liveDeletes = mutable.ArrayBuffer.empty[Int]

  private def aggSql(c: String) =
    s"SELECT o_orderstatus, count(*) AS n, sum(o_totalcents) AS s FROM $c.$Db.orders GROUP BY o_orderstatus"
  private def joinSql(c: String) =
    s"SELECT c.c_mktsegment, count(*) AS n, sum(o.o_totalcents) AS s FROM $c.$Db.orders o " +
      s"JOIN $c.$Db.customer c ON o.o_custkey = c.c_custkey GROUP BY c.c_mktsegment"

  def build(dir: Path): Unit = {
    spark.conf.set(s"spark.sql.catalog.$sqlCat", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set(s"spark.sql.catalog.$sqlCat.warehouse", dir.toString)
    cat = new SnapshotCatalog(spark, dir.toString)
    cat.createTable(Db, "orders", orderSchema)
    cat.createTable(Db, "customer", custSchema)
    cat.createTable(Db, "documents", docSchema)
    initOrders.grouped(Orders / 2).foreach(b =>
      rec.tracer.span("catalog.commit.append")(cat.append(Db, "orders", gen.frame(b, orderSchema))))
    rec.tracer.span("catalog.commit.append")(cat.append(Db, "customer", gen.frame(initCust, custSchema)))
    rec.tracer.span("catalog.commit.append")(cat.append(Db, "documents", gen.frame(initDocs, docSchema)))
    cat.createMaterializedView(Db, "agg_mv", aggSql(sqlCat))
    cat.createMaterializedView(Db, "join_mv", joinSql(sqlCat))
    TextIndex.create(cat, Db, "documents", "doc_idx", "doc_id", "text", nbuckets = 16)
    orders = mutable.TreeMap.from(initOrders.map(orderOf))
    cust = mutable.TreeMap.from(initCust.map(r => r.getLong(0) -> r.getString(1)))
    docs = mutable.TreeMap.from(initDocs.map(r => r.getLong(0) -> r.getString(1)))
    nextOrder = Orders + 1L; nextCust = Customers + 1L; nextDoc = Docs + 1L
  }

  def nominalPassS: Double = 17.0

  private def pickKey[V](m: mutable.TreeMap[Long, V]): Long =
    m.keysIterator.drop(gen.rnd.nextInt(m.size)).next()
  private def keys(name: String, ks: Seq[Long]): DataFrame =
    gen.frame(ks.map(Row(_)), StructType(Seq(StructField(name, LongType, nullable = false))))

  /** A base commit; the model changes only if it succeeded. */
  private def commit(name: String)(f: => Any)(onOk: => Unit): Unit =
    if (rec.op(rec.write, name)(f).isDefined) onOk

  def pass(): Unit = {
    round += 1
    val r = gen.rnd
    // 1. base deltas: orders 20 updates + 10 inserts, 15 deletes; one
    //    customer; documents +8 (one commit each) and -2
    val ups = (Seq.fill(20)(pickKey(orders)).distinct ++
      Seq.fill(10) { nextOrder += 1; nextOrder - 1 }).map(newOrder(r, _))
    val delOrders = Seq.fill(15)(pickKey(orders)).distinct.filterNot(k => ups.exists(_._1 == k))
    val newCust = nextCust -> Segments(r.nextInt(Segments.size)); nextCust += 1
    val newDocs = (1 to 8).map { _ => nextDoc += 1; (nextDoc - 1) -> gen.words(r, 10 + r.nextInt(30)) }
    val delDocs = Seq.fill(2)(pickKey(docs)).distinct
    gen.note(s"o~:$ups o-:$delOrders c+:$newCust d+:$newDocs d-:$delDocs")

    commit("catalog.commit.upsertMoR")(cat.upsertMoR(Db, "orders",
      gen.frame(ups.map(orderRow), orderSchema), Seq("o_orderkey")))(orders ++= ups)
    commit("catalog.commit.deleteMoREq")(
      cat.deleteMoREq(Db, "orders", keys("o_orderkey", delOrders)))(orders --= delOrders)
    commit("catalog.commit.append")(cat.append(Db, "customer",
      gen.frame(Seq(Row(newCust._1, newCust._2)), custSchema)))(cust += newCust)
    newDocs.foreach { case (k, t) =>
      commit("catalog.commit.append")(cat.append(Db, "documents",
        gen.frame(Seq(Row(k, t)), docSchema)))(docs += k -> t)
    }
    commit("catalog.commit.deleteMoREq")(
      cat.deleteMoREq(Db, "documents", keys("doc_id", delDocs)))(docs --= delDocs)

    // 2. merged reads: a point lookup (a just-deleted key in odd rounds,
    //    the warm-up's among them; a live key in even ones) and a full
    //    aggregate
    val k = if (round % 2 == 1 && delOrders.nonEmpty) delOrders.head else pickKey(orders)
    gen.note(s"p:$k")
    val hit = scan(_.where(col("o_orderkey") === k).collect().toSeq)
    rec.check(s"point $k")(hit.exists(_.map(orderOf) == orders.get(k).map(k -> _).toSeq))
    val agg = scan(_.agg(count(lit(1)), sum("o_totalcents")).head())
    rec.check("aggregate")(agg.exists(a => a.getLong(0) == orders.size &&
      a.getLong(1) == orders.valuesIterator.map(_._3).sum))

    // 3. refresh the derived state
    Seq("agg_mv", "join_mv").foreach { mv =>
      rec.op(rec.refresh, s"catalog.mv_refresh.$mv")(cat.refreshMaterializedView(Db, mv))
        .foreach(m => modes += m._1)
    }
    rec.op(rec.refresh, "ops.text_index.refresh")(TextIndex.refresh(cat, Db, "doc_idx"))
      .foreach(m => modes += m._1)

    // 4. SQL queries, checked against aggregates of the model: each MV,
    //    and the aggregate MV's body over the base
    val byStatus = expectedAgg(orders.valuesIterator.map(o => (o._2, o._3)))
    query(s"SELECT * FROM $sqlCat.$Db.agg_mv", "agg_mv", byStatus)
    query(s"SELECT * FROM $sqlCat.$Db.join_mv", "join_mv",
      expectedAgg(orders.valuesIterator.flatMap(o => cust.get(o._1).map(seg => (seg, o._3)))))
    query(aggSql(sqlCat), "rewritten base aggregate", byStatus)

    // 5. table maintenance: one client operation of three catalog calls
    rec.op(rec.refresh, "bench.maintenance") {
      rec.tracer.span("catalog.commit.convertEqualityDeletes")(cat.convertEqualityDeletes(Db, "orders"))
      rec.tracer.span("catalog.commit.compactDeleteFiles")(cat.compactDeleteFiles(Db, "orders"))
      // keep the MVs' pinned base snapshot (the round's delete, three
      // commits back): expiring it would force both MVs to refresh in full
      rec.tracer.span("catalog.commit.expireSnapshots")(cat.expireSnapshots(Db, "orders", 3))
    }
  }

  /** A read of latency class `cls`, traced as planning (building the frame
    * plus its physical plan) then execution (the action). */
  private def read[T](cls: mutable.ArrayBuffer[Double], span: String)(frame: => DataFrame)(
      action: DataFrame => T): Option[T] =
    rec.op(cls, span) {
      val df = rec.tracer.span(s"$span.plan") {
        val d = frame
        d.queryExecution.executedPlan
        d
      }
      rec.tracer.span(s"$span.exec")(action(df))
    }

  /** A merged read of orders through the catalog. */
  private def scan[T](action: DataFrame => T): Option[T] = {
    if (rec.tracer.on) liveDeletes += cat.currentSnapshot(Db, "orders").deleteFiles.size
    read(rec.read, "catalog.scan")(cat.readLatest(Db, "orders"))(action)
  }

  /** A SQL query through the plugin (counted and traced, in no latency
    * class); its rows must be (group, count, sum) equal to `want`. */
  private def query(sql: String, what: String, want: Map[String, (Long, Long)]): Unit = {
    val got = read(rec.other, "sql")(spark.sql(sql))(_.collect())
    rec.check(what)(got.exists(rs =>
      rs.map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap == want))
  }

  /** group -> (count, sum) over (group, amount) pairs. */
  private def expectedAgg(xs: Iterator[(String, Long)]): Map[String, (Long, Long)] =
    xs.toSeq.groupBy(_._1).map { case (g, v) => g -> ((v.size.toLong, v.map(_._2).sum)) }

  def bytesPerUserByte(): Double = {
    val live = orders.iterator.map(o => Gen.userBytes(orderRow(o))).sum +
      cust.iterator.map { case (k, s) => Gen.userBytes(Row(k, s)) }.sum +
      docs.iterator.map { case (k, t) => Gen.userBytes(Row(k, t)) }.sum
    Gen.dirBytes(java.nio.file.Paths.get(cat.warehouse)).toDouble / live
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  def finalCheck(): Unit = {
    println(s"refresh modes (agg_mv, join_mv, doc_idx per round): ${modes.mkString(",")}")
    val got = cat.readLatest(Db, "orders").collect().map(orderOf).sortBy(_._1).toSeq
    rec.check("orders equals the model")(got == orders.toSeq)
    val queries = gen.frame(Seq.tabulate(4)(i => Row(i.toLong, gen.words(gen.rnd, 3))),
      StructType(Seq(StructField("qid", LongType), StructField("q", StringType))))
    val cols = Seq("query_id", "doc_id", "score_q", "rank").map(col)
    rec.check("text index top-k equals a from-scratch BM25")(
      sorted(TextIndex.topK(cat, Db, "doc_idx", queries, "qid", "q", 5).select(cols: _*)) ==
        sorted(Retrieval.bm25TopK(cat.readLatest(Db, "documents"), "doc_id", "text",
          queries, "qid", "q", 5).select(cols: _*)))
  }

  /** Change one order's amount behind the model's back. */
  def tamper(): Unit = {
    val (k, (c, s, t, m)) = orders.head
    cat.upsertMoR(Db, "orders", gen.frame(Seq(orderRow(k -> ((c, s, t + 1, m)))), orderSchema),
      Seq("o_orderkey"))
  }

  override def layerValues(): Map[String, Double] = Map(
    "catalog.refresh.full_share" ->
      (if (modes.isEmpty) 0.0 else modes.count(_ == "full").toDouble / modes.size),
    "catalog.live_delete_files" ->
      (if (liveDeletes.isEmpty) 0.0 else liveDeletes.sum.toDouble / liveDeletes.size))
}
