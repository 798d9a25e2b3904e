package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload: a fixture warehouse built from generated inputs, and a
  * fixed sequence of client operations (a pass) run against it in a closed
  * loop — each operation starts when the previous one returns. */
trait Workload {
  /** Build the fixture warehouse under `dir` from the generated inputs. */
  def build(dir: Path): Unit
  /** One pass of the workload's fixed operation sequence. */
  def pass(): Unit
  /** A pass's duration on the reference machine (4 cores): a run of
    * `--seconds s` measures round(s / nominalPassS) passes, at least one. */
  def nominalPassS: Double
  /** Warehouse bytes on disk per byte of live logical data, now. */
  def bytesPerUserByte(): Double
  /** Checks of the final state against an independent recomputation. */
  def finalCheck(): Unit
  /** Corrupt one output of the program (tests that the checks bite). */
  def tamper(): Unit
  /** Per-layer values only the workload knows (e.g. refresh modes). */
  def layerValues(): Map[String, Double] = Map.empty
}

object Main {
  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    def req(k: String) = arg(args, k).getOrElse(sys.error(s"missing $k"))
    val workload = req("--workload")
    val seed = req("--seed").toLong
    val seconds = req("--seconds").toInt
    val traceOn = req("--trace") == "1"
    val cpus = req("--cpus").toInt
    val work = Paths.get(req("--work-dir"))
    val traceDir = Paths.get(req("--trace-dir"))

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.extensions", "graft.catalog.spark.GraftSparkExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, workload, seed, seconds, traceOn, cpus, work, traceDir,
      tamper = args.contains("--tamper"), digestOnly = args.contains("--digest-only"))
    finally spark.stop()
  }

  private def run(spark: SparkSession, name: String, seed: Long, seconds: Int,
      traceOn: Boolean, cpus: Int, work: Path, traceDir: Path,
      tamper: Boolean, digestOnly: Boolean): Unit = {
    val tracer = new Tracer(spark.sparkContext, traceOn)
    val rec = new Rec(tracer)
    val t0 = System.nanoTime()
    val gen = new Gen(spark, seed)
    val wl: Workload = name match {
      case "migrate" => new Migrate(spark, gen, rec)
      case "churn" => new Churn(spark, gen, rec)
    }
    val genS = (System.nanoTime() - t0) / 1e9
    println(f"workload=$name seed=$seed seconds=$seconds trace=${if (traceOn) 1 else 0} " +
      f"cpus=$cpus input_digest=${gen.digest} input_gen_s=$genS%.3f")
    if (digestOnly) return

    // set-up: the fixture build, then one unrecorded warm-up pass
    val b0 = System.nanoTime()
    wl.build(work.resolve("wh"))
    val buildS = (System.nanoTime() - b0) / 1e9
    wl.pass()
    val setupS = (System.nanoTime() - b0) / 1e9
    val passes = math.max(1, math.round(seconds / wl.nominalPassS).toInt)
    println(f"setup: fixture build $buildS%.3f s, warm-up pass ${setupS - buildS}%.3f s; " +
      f"measuring $passes pass(es)")

    // measured passes: a fixed amount of work per --seconds, so every run
    // of a seed performs the same operations on the same states
    rec.recording = true
    val walls = mutable.ArrayBuffer.empty[Double]
    var bytesRatio = 0.0
    for (p <- 1 to passes) {
      tracer.pass = p
      val u0 = rec.untimedNs
      val p0 = System.nanoTime()
      tracer.span("bench.pass")(wl.pass())
      walls += (System.nanoTime() - p0 - (rec.untimedNs - u0)) / 1e9
      if (p == 1) bytesRatio = rec.untimed("bytes")(wl.bytesPerUserByte())
    }
    rec.recording = false
    tracer.pass = 0
    if (tamper) wl.tamper()
    wl.finalCheck()

    val (wt, wq) = Stats.tail(rec.write.toSeq)
    val (rt, rq) = Stats.tail(rec.read.toSeq)
    val (ft, fq) = Stats.tail(rec.refresh.toSeq)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", Stats.median(walls.toSeq), "s"),
      ("write_p50_ms", Stats.median(rec.write.toSeq), "ms"),
      ("write_tail_ms", wt, "ms"),
      ("read_p50_ms", Stats.median(rec.read.toSeq), "ms"),
      ("read_tail_ms", rt, "ms"),
      ("refresh_p50_ms", Stats.median(rec.refresh.toSeq), "ms"),
      ("refresh_tail_ms", ft, "ms"),
      ("bytes_per_user_byte", bytesRatio, "B/B"))
    val errorRate = if (rec.attempted == 0) 0.0 else rec.failed.toDouble / rec.attempted
    println(f"passes=${walls.size} samples: write=${rec.write.size} (tail p$wq%.1f) " +
      f"read=${rec.read.size} (tail p$rq%.1f) refresh=${rec.refresh.size} (tail p$fq%.1f)")
    println(s"inputs and operations digest=${gen.digest}")
    println(f"attempted=${rec.attempted} failed=${rec.failed} error_rate=$errorRate%.6f")
    rec.errors.foreach(e => println(s"error: $e"))
    println("flush policy: the catalog's own (local filesystem, no fsync); " +
      "latencies are the host's, not a storage device's")
    e2e.foreach { case (n, v, u) => println(f"  $n%-22s $v%14.4f $u") }

    val metrics: Seq[(String, Double, String)] =
      if (!traceOn) e2e
      else {
        tracer.drain()
        val layer = Layers.compute(tracer, walls.size, wl.layerValues() +
          ("trace.wall_s" -> Stats.median(walls.toSeq)))
        Files.createDirectories(traceDir)
        val out = traceDir.resolve(s"$name-seed$seed.jsonl")
        Files.write(out, tracer.dump().mkString("\n").getBytes("UTF-8"))
        println(s"spans: ${tracer.spans.size} written to ${traceDir.getFileName}/${out.getFileName}")
        layer.foreach { case (n, v, u) => println(f"  $n%-44s $v%14.4f $u") }
        layer
      }
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${rec.failed == 0}, "attempted": ${rec.attempted}, """ +
      s""""failed": ${rec.failed}, "metrics": {$body}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
