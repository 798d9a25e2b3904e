package graftbench

import java.nio.file.Path
import java.time.Instant

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.SnapshotCatalog
import graft.stages._

/** `migrate` — the paper's job: a whole source database through all six
  * stages, as of a seeded timestamp in the middle of its history.
  *
  * The source holds large fact tables (lineitem, orders, events,
  * documents), small dimensions (customer, nation, region), and one
  * Hive-partitioned table (events, by event_type). Every table has the
  * same history, committed round-robin one round a minute: append, append,
  * overwrite. The as-of timestamp falls (at a seeded second) inside the
  * minute after the second append, so every table resolves to its second
  * snapshot and the pipeline must time-travel past the overwrite.
  *
  * A pass migrates into a fresh target warehouse (stages 1–6), then
  * catches the target up to the source's latest snapshot, the overwrite
  * (stages 1–2 and 5–6 again over the now-existing target) — the delta
  * sync a migration runs before cut-over. Latency classes: write = per-table migration,
  * read = per-table data verification, refresh = per-table catch-up
  * migration. The workload is data-plane bound and has no delete files,
  * so it is the no-change control for MoR and commit-cost work. */
final class Migrate(spark: SparkSession, gen: Gen, rec: Rec) extends Workload {
  private val Db = "sales"
  private val T0 = Instant.parse("2026-01-01T00:00:00Z")
  /** Rounds 0..2: append, append, overwrite (two batches' worth). */
  private val Rounds = 3
  private val AsOfRound = 1
  private val OverwriteRound = 2
  private def roundBatches(r: Int): Seq[Int] = Seq(Seq(0), Seq(1), Seq(2, 3))(r)

  private def f(n: String, t: DataType) = StructField(n, t)
  private def ts(r: java.util.Random) =
    new java.sql.Timestamp((1700000000L + r.nextInt(86400 * 365)) * 1000L)
  private def one[T](r: java.util.Random, xs: T*): T = xs(r.nextInt(xs.size))

  /** (name, rows per batch, partition columns, schema, row generator). */
  private val tables: Seq[(String, Int, Seq[String], StructType, (java.util.Random, Long) => Row)] = Seq(
    ("lineitem", 6000, Nil, StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", TimestampType))),
      (r, i) => Row(i / 4 + 1, 1L + r.nextInt(20000), 1L + r.nextInt(1000), (i % 4 + 1).toInt,
        1.0 + r.nextInt(50), r.nextInt(10000000) / 100.0, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        one(r, "A", "N", "R"), one(r, "F", "O"), ts(r))),
    ("orders", 2000, Nil, StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType), f("o_orderdate", TimestampType),
      f("o_orderpriority", StringType))),
      (r, i) => Row(i + 1, 1L + r.nextInt(1500), one(r, "F", "O", "P"), r.nextInt(50000000) / 100.0,
        ts(r), one(r, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))),
    ("events", 2000, Seq("event_type"), StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType), f("props", StringType))),
      (r, i) => Row(i + 1, ts(r), 1L + r.nextInt(5000), one(r, "click", "view", "purchase", "search"),
        r.nextInt(100000) / 100.0, s"""{"k":${r.nextInt(100)}}""")),
    ("documents", 150, Nil, StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (r, i) => { val t = gen.words(r, 20 + r.nextInt(40))
        Row(i + 1, t, one(r, "en", "de", "fr"), one(r, "web", "book", "news"), t.length.toLong) }),
    ("nation", 25, Nil, StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (r, i) => Row((i % 25).toInt, s"NATION${i % 25}-${r.nextInt(1000)}", (i % 5).toInt)),
    ("region", 5, Nil, StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      (r, i) => Row((i % 5).toInt, s"REGION-${r.nextInt(1000)}")))

  /** Generated rows per table and batch (4 batches). */
  private val batches: Map[String, IndexedSeq[IndexedSeq[Row]]] = tables.map { case (n, rows, _, _, g) =>
    n -> gen.rows(n, rows * 4)(g).grouped(rows).toIndexedSeq
  }.toMap
  private def schemaOf(t: String) = tables.find(_._1 == t).get._4
  /** Rows a table holds at the end of round `r` — the independent
    * expectation, straight from the generated inputs. */
  private def rowsAsOf(t: String, r: Int): Seq[Row] =
    (if (r >= OverwriteRound) OverwriteRound to r else 0 to r).flatMap(roundBatches).flatMap(batches(t))

  private val asOf = T0.plusSeconds(60L * AsOfRound + 30 + gen.rnd.nextInt(29))
  gen.note(s"asof:$asOf")

  private var src: SnapshotCatalog = _
  private var dir: Path = _
  private var passNo = 0
  private var dst: SnapshotCatalog = _
  private var dstDir: Path = _

  def build(dir: Path): Unit = {
    this.dir = dir
    var now = T0
    src = new SnapshotCatalog(spark, dir.resolve("src").toString, clock = () => now)
    for (r <- 0 until Rounds; ((t, _, parts, schema, _), i) <- tables.zipWithIndex) {
      now = T0.plusSeconds(60L * r + i)
      val df = gen.frame(roundBatches(r).flatMap(batches(t)), schema)
      if (r == 0) src.createTable(Db, t, schema, partitionCols = parts)
      if (r == OverwriteRound) rec.tracer.span("catalog.commit.overwrite")(src.overwrite(Db, t, df))
      else rec.tracer.span("catalog.commit.append")(src.append(Db, t, df))
    }
  }

  /** Stages 1–2: snapshot collection, as-of resolution, schema capture. */
  private def capture(at: Option[Instant]): Seq[TableInfo] = {
    val infos = rec.op(rec.other, "stages.collect")(SnapshotCollector.run(src, Db))
      .getOrElse(Nil)
    rec.check("collect: every table")(infos.size == tables.size)
    rec.op(rec.other, "stages.capture") {
      val resolved = at match {
        case Some(t) => AsOfResolver.resolve(infos, t.toString)
        case None => infos.map(i => s"$Db.${i.tableName}" -> i.snapshots.last.snapshotId).toMap
      }
      SchemaCapture.run(src, Db, resolved)
    }.getOrElse(Nil)
  }

  def nominalPassS: Double = 7.5

  def pass(): Unit = {
    passNo += 1
    dstDir = dir.resolve(s"dst$passNo")
    dst = new SnapshotCatalog(spark, dstDir.toString)
    val infos = capture(Some(asOf))
    rec.check("capture: every table")(infos.size == tables.size)
    infos.foreach { info =>
      val c = rec.op(rec.other, "stages.create")(TableCreator.createOne(dst, info))
      rec.check(s"create ${info.tableName}")(c.exists(_.status == "success"))
      val v = rec.op(rec.other, "stages.verify_schema")(SchemaVerifier.verifyOne(dst, info))
      rec.check(s"schema ${info.tableName}")(v.exists(_.ok))
    }
    migrateAndVerify(infos, rec.write, AsOfRound)
    // catch-up to the latest snapshot over the existing target
    migrateAndVerify(capture(None), rec.refresh, Rounds - 1)
    if (passNo > 1) rec.untimed("cleanup")(deleteTree(dir.resolve(s"dst${passNo - 1}")))
  }

  private def deleteTree(p: Path): Unit = {
    val st = java.nio.file.Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(java.nio.file.Files.delete(_))
    finally st.close()
  }

  private def migrateAndVerify(infos: Seq[TableInfo],
      cls: scala.collection.mutable.ArrayBuffer[Double], round: Int): Unit =
    infos.foreach { info =>
      val m = rec.op(cls, "stages.migrate")(Migrator.migrateOne(src, dst, info))
      rec.check(s"migrate ${info.tableName}")(m.exists(r =>
        r.status == "success" && r.recordsCount == rowsAsOf(info.tableName, round).size))
      val v = rec.op(rec.read, "stages.verify_data")(IntegrityVerifier.verifyOne(src, dst, info))
      rec.check(s"verify ${info.tableName}")(v.exists(_.ok))
    }

  /** Every table of the last target equals the generated rows it should
    * hold: `exceptAll` empty both ways is multiset equality. (The as-of
    * state was checked per table by its row count and `IntegrityVerifier`.) */
  def finalCheck(): Unit = tables.foreach { case (t, _, _, schema, _) =>
    val want = gen.frame(rowsAsOf(t, Rounds - 1), schema)
    val got = dst.readLatest(Db, t).select(schema.fieldNames.map(col): _*)
    rec.check(s"$t equals its inputs")(got.exceptAll(want).union(want.exceptAll(got)).isEmpty)
  }

  def bytesPerUserByte(): Double =
    Gen.dirBytes(dstDir).toDouble /
      tables.map(t => rowsAsOf(t._1, Rounds - 1).map(Gen.userBytes).sum).sum

  /** Drop one migrated row behind the pipeline's back. */
  def tamper(): Unit = {
    val t = dst.readLatest(Db, "orders")
    dst.overwrite(Db, "orders", t.where(col("o_orderkey") =!= t.agg(min("o_orderkey")).head().getLong(0))
      .localCheckpoint())
  }
}
