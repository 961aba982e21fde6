package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.DoubleAdder

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.operators.{GmallDwd, GmallDwdDb, GmallDws}
import graft.serving.{AdsStore, QueryServer}
import graft.streaming.LogStream

/** The `ods-to-rest` workload: the reference topology ODS → DWD → DWS →
  * ADS → REST, built from the engine's public functions.
  *
  *  - traffic leg: `topic_log` files → `LogStream.parse/clean/splitLog`
  *    → DWD page-log parquet append → page-view DWS delta merged by
  *    `GmallDws.mergeDwsDelta` → `AdsStore.publish`;
  *  - trade leg: `topic_db` files → `maxwellEnvelope` →
  *    `tradeOrderDetailStreamOn` (stream-stream joins) → DWD parquet
  *    append → province DWS delta merge → `AdsStore.publish`;
  *  - a `QueryServer` with both stores bound serves them over REST next
  *    to library-backed sugar routes.
  *
  * A separate load process (`perfbench/load.py`) writes the ODS files,
  * drawn from line pools staged once per build by [[stagePools]], and
  * sends the REST requests. The two processes meet through files under
  * `<work>/ctl`: the engine starts serving and writes its port; the load
  * process writes primer files, which the engine drains to start its
  * pipeline; the load process stages a backlog, which the engine drains
  * (catch-up); then the load process runs the live phase.
  *
  * `topic_db` files arrive only with the primer: a trade-leg micro-batch
  * costs seconds, and in the timed phases it set every figure's pace.
  * The trade leg's left-outer joins keep an order detail that lacks its
  * activity or coupon row in state until the watermark passes the 3-day
  * join bound; with event times re-stamped to file creation no run gets
  * there, so the trade store holds the fully matched details. */
object StreamWorkload {
  val PageStore = "perfbench_ads_page"
  val ProvinceStore = "perfbench_ads_province"
  /** Sugar routes whose named queries back the pure read side. */
  val SugarRoutes = Seq("/gmall/realtime/traffic/uvCt", "/api/sugar/ch")
  /** Catch-up drains the 48-file `topic_log` backlog in six
    * micro-batches; a live batch takes the files that arrived while the
    * last one ran (about four). */
  val MaxFilesPerTrigger = 8

  final class LegStats {
    val parseDwdS = new DoubleAdder
    val dwsMergeS = new DoubleAdder
    val publishS = new DoubleAdder
    val batches = new java.util.concurrent.atomic.AtomicLong
  }

  private def timed[T](acc: DoubleAdder)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally acc.add((System.nanoTime() - t0) / 1e9)
  }

  def pageDws(page: DataFrame): DataFrame = page
    .groupBy(to_date(timestamp_millis(col("ts"))).as("dt"),
      col("common.ch").as("ch"), col("page.page_id").as("page_id"))
    .agg(count(lit(1)).as("pv_ct"))

  def provinceDws(wide: DataFrame): DataFrame = wide
    .groupBy(col("province_id"))
    .agg(count(lit(1)).as("detail_ct"),
      sum((col("split_total_amount").cast("decimal(18,4)") * 10000).cast("long")).as("amount_e4"))

  /** Start both legs over `ods`, writing DWD and ADS under `root`. */
  def startLegs(spark: SparkSession, ods: Path, root: Path, trace: Trace,
                stats: LegStats, maxFiles: Int): Seq[StreamingQuery] = {
    val sc = spark.sparkContext
    val dic = GmallDwdDb.baseDic(spark)
    val logQ = LogStream.parse(
        spark.readStream.option("maxFilesPerTrigger", maxFiles.toString)
          .text(ods.resolve("topic_log/*").toString), LogStream.pageLogSchema)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", root.resolve("ckpt/log").toString)
      .foreachBatch { (b: DataFrame, id: Long) =>
        trace.span(s"log#$id", "streaming", sc) {
          stats.batches.incrementAndGet()
          val page = LogStream.splitLog(LogStream.clean(b.cache()))("page")
          try {
            timed(stats.parseDwdS)(trace.span(s"log#$id.parse_dwd", "streaming.parse_dwd", sc) {
              page.write.mode("append").parquet(root.resolve("dwd/page").toString)
            })
            val store = root.resolve(s"ads/$PageStore").toString
            val merged = timed(stats.dwsMergeS)(trace.span(s"log#$id.dws_merge", "operators.dws_merge", sc) {
              GmallDws.mergeDwsDelta(AdsStore.read(spark, store).map(_._2),
                pageDws(page), Seq("dt", "ch", "page_id"), Seq("pv_ct"))
            })
            timed(stats.publishS)(trace.span(s"log#$id.publish", "serving.publish", sc) {
              AdsStore.publish(merged, store, id)
            })
          } finally b.unpersist()
        }
        ()
      }.start()
    val dbQ = GmallDwdDb.tradeOrderDetailStreamOn(LogStream.maxwellEnvelope(
        spark.readStream.option("maxFilesPerTrigger", maxFiles.toString)
          .text(ods.resolve("topic_db").toString)), dic)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", root.resolve("ckpt/db").toString)
      .foreachBatch { (b: DataFrame, id: Long) =>
        trace.span(s"db#$id", "streaming", sc) {
          stats.batches.incrementAndGet()
          val rows = b.cache()
          try {
            timed(stats.parseDwdS)(trace.span(s"db#$id.parse_dwd", "streaming.parse_dwd", sc) {
              rows.write.mode("append").parquet(root.resolve("dwd/trade_order_detail").toString)
            })
            val store = root.resolve(s"ads/$ProvinceStore").toString
            val merged = timed(stats.dwsMergeS)(trace.span(s"db#$id.dws_merge", "operators.dws_merge", sc) {
              GmallDws.mergeDwsDelta(AdsStore.read(spark, store).map(_._2),
                provinceDws(rows), Seq("province_id"), Seq("detail_ct", "amount_e4"))
            })
            timed(stats.publishS)(trace.span(s"db#$id.publish", "serving.publish", sc) {
              AdsStore.publish(merged, store, id)
            })
          } finally rows.unpersist()
        }
        ()
      }.start()
    Seq(logQ, dbQ)
  }

  private def await(path: Path, limitS: Double): Unit = {
    val t0 = System.nanoTime()
    while (!Files.exists(path)) {
      if ((System.nanoTime() - t0) / 1e9 > limitS)
        throw new IllegalStateException(s"timed out waiting for $path")
      Thread.sleep(20)
    }
  }

  private def writeAtomically(path: Path, text: String): Unit = {
    val tmp = path.resolveSibling("." + path.getFileName + ".tmp")
    Files.writeString(tmp, text)
    Files.move(tmp, path, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def rowSet(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  /** The ODS line pools the load process draws from: the engine's own
    * `topic_log` and `topic_db` generators over one fixed data set. */
  def stagePools(a: Main.Args): Unit = {
    val spark = Main.session(a, s"local[${a.cpus}]")
    import spark.implicits._
    Files.write(a.work.resolve("pool_log.jsonl"),
      GmallDwd.logJson(spark, a.data).as[String].collect().toSeq.asJava)
    Files.write(a.work.resolve("pool_db.jsonl"),
      GmallDwdDb.envelopeJson(spark, a.data).as[String].collect().toSeq.asJava)
    spark.stop()
  }

  def run(a: Main.Args, trace: Trace, out: mutable.Map[String, Any]): Unit = {
    val ctl = Files.createDirectories(a.work.resolve("ctl"))
    val ods = a.work.resolve("ods")
    Seq("topic_log", "topic_db").foreach(t => Files.createDirectories(ods.resolve(t)))
    val pipe = a.work.resolve("pipeline")
    val spark = trace.span("session", "GraftSession")(Main.session(a, s"local[${a.cpus}]"))
    val sc = spark.sparkContext
    val server = new QueryServer(spark, a.data)
    val port = trace.span("server_start", "serving")(server.start())
    Seq(PageStore, ProvinceStore).foreach(n => server.bindStore(n, pipe.resolve(s"ads/$n").toString))
    val routes = SugarRoutes ++ Seq(PageStore, ProvinceStore).map(n => s"/api/query/$n")
    writeAtomically(ctl.resolve("server.json"), Json.obj(Seq("port" -> port)))

    // set-up work that does not depend on each other runs side by side:
    // the first touch of every route, and the pipeline start, where both
    // legs drain the primer files so their first (cold) micro-batches are
    // part of set-up
    val touched = Future(trace.span("touch_routes", "serving") {
      routes.foreach { r =>
        val body = scala.io.Source.fromURL(s"http://127.0.0.1:$port$r", "UTF-8").mkString
        require(body.contains("\"status\":0"), s"route $r answered $body")
      }
    })(ExecutionContext.global)
    trace.span("await_primer", "load")(await(ctl.resolve("primer.done"), 120))
    val stats = new LegStats
    val queries = trace.span("pipeline_start", "streaming", sc) {
      val qs = startLegs(spark, ods, pipe, trace, stats, MaxFilesPerTrigger)
      qs.foreach(_.processAllAvailable())
      qs
    }
    Await.result(touched, Duration.Inf)
    val setupS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // catch-up: from the go signal until the backlog the load process
    // then stages is published
    val c0 = System.nanoTime()
    trace.span("catchup", "harness", sc) {
      writeAtomically(ctl.resolve("catchup.go"), "{}")
      await(ctl.resolve("backlog.done"), 120)
      queries.foreach(_.processAllAvailable())
    }
    val catchupS = (System.nanoTime() - c0) / 1e9
    val catchupProgress = queries.map(_.recentProgress.length)
    // the local[1] leg's input: the files drained so far
    if (a.traced) trace.span("copy_backlog", "harness.copy") {
      Files.walk(ods).iterator.asScala.toSeq.sorted.foreach { f =>
        val to = a.work.resolve("ods_backlog").resolve(ods.relativize(f))
        if (Files.isDirectory(f)) Files.createDirectories(to) else Files.copy(f, to)
      }
    }

    // live: the load process feeds files and requests on its own clock
    writeAtomically(ctl.resolve("live.go"), "{}")
    trace.span("live", "load")(await(ctl.resolve("live.done"), a.seconds + 120))
    trace.span("drain", "harness", sc)(queries.foreach(_.processAllAvailable()))
    out("live_heap_mb") = trace.span("live_heap", "jvm")(Main.liveHeapMb())
    val liveProgress = queries.zip(catchupProgress).flatMap { case (q, n) => q.recentProgress.drop(n) }

    trace.span("pipeline_stop", "streaming")(queries.foreach(_.stop()))
    traceTriggers(trace, queries)
    trace.span("server_stop", "serving")(server.stop())

    // correctness: final ADS stores == batch recompute over the same lines
    val mismatches = trace.span("verify", "check", sc) {
      val logLines = spark.read.text(ods.resolve("topic_log/*").toString)
      val wantPage = rowSet(pageDws(LogStream.splitLog(LogStream.clean(
        LogStream.parse(logLines, LogStream.pageLogSchema)))("page")))
      val gotPage = AdsStore.read(spark, pipe.resolve(s"ads/$PageStore").toString)
        .map(v => rowSet(v._2)).getOrElse(Set.empty)
      val dbLines = spark.read.option("pathGlobFilter", "db-*").text(ods.resolve("topic_db").toString)
      val env = LogStream.maxwellEnvelope(dbLines)
      val wide = GmallDwdDb.tradeOrderDetailWideOn(GmallDwdDb.orderDetailSliceOn(env),
        GmallDwdDb.orderInfoSliceOn(env), GmallDwdDb.activitySliceOn(env),
        GmallDwdDb.couponSliceOn(env), GmallDwdDb.baseDic(spark))
      // the left-outer joins hold a detail without its activity or
      // coupon row until the watermark passes the 3-day bound, which no
      // run reaches: the stream has emitted exactly the fully matched rows
      val wantProv = rowSet(provinceDws(
        wide.filter(col("activity_id").isNotNull && col("coupon_id").isNotNull)))
      val gotProv = AdsStore.read(spark, pipe.resolve(s"ads/$ProvinceStore").toString)
        .map(v => rowSet(v._2)).getOrElse(Set.empty)
      Seq(
        Option.when(wantPage.isEmpty || gotPage != wantPage)(
          s"page store: ${gotPage.size} rows, batch recompute ${wantPage.size}"),
        Option.when(wantProv.isEmpty || gotProv != wantProv)(
          s"province store: ${gotProv.size} rows, batch recompute ${wantProv.size}")).flatten
    }
    mismatches.foreach(m => System.err.println(s"[perfbench] ADS mismatch: $m"))

    def phaseMs(name: String): Seq[Double] =
      liveProgress.flatMap(p => Option(p.durationMs.get(name)).map(_.toDouble))
    val stateOps = (queries.flatMap(_.recentProgress)).flatMap(_.stateOperators)
    out("setup_s") = setupS
    out("time_to_results_s") = catchupS
    out("batches") = stats.batches.get
    out("ads_mismatches") = mismatches
    out("queries_failed") = queries.count(_.exception.isDefined).toLong
    out("layers") = Map(
      "streaming.parse_dwd_s" -> stats.parseDwdS.sum / stats.batches.get.max(1),
      "operators.dws_merge_s" -> stats.dwsMergeS.sum / stats.batches.get.max(1),
      "serving.publish_s" -> stats.publishS.sum / stats.batches.get.max(1),
      "streaming.trigger_ms.addBatch" -> median(phaseMs("addBatch")),
      "streaming.trigger_ms.queryPlanning" -> median(phaseMs("queryPlanning")),
      "streaming.trigger_ms.getBatch" -> median(phaseMs("getBatch")),
      "streaming.trigger_ms.walCommit" -> median(phaseMs("walCommit")),
      "streaming.state_rows" -> stateOps.map(_.numRowsTotal).maxOption.getOrElse(0L).toDouble,
      "streaming.state_bytes" -> stateOps.map(_.memoryUsedBytes).maxOption.getOrElse(0L).toDouble)
    trace.span("stop", "GraftSession")(spark.stop())

    if (a.traced) {
      // single-threaded baseline: the same backlog through local[1]
      val backlog = a.work.resolve("ods_backlog")
      val local1 = trace.span("session_local1", "GraftSession")(Main.session(a, "local[1]"))
      val l0 = System.nanoTime()
      // the whole leg is streaming work: start, drain and stop
      val qs = trace.span("catchup_local1", "streaming") {
        val qs = startLegs(local1, backlog, a.work.resolve("pipeline_local1"), trace, new LegStats, MaxFilesPerTrigger)
        qs.foreach(_.processAllAvailable())
        qs.foreach(_.stop())
        qs
      }
      out("catchup_local1_s") = (System.nanoTime() - l0) / 1e9
      traceTriggers(trace, qs)
      trace.span("stop_local1", "GraftSession")(local1.stop())
    }
  }

  /** Every trigger the queries' `StreamingQueryProgress` reports, as a
    * span: Spark's own work between micro-batches (offsets, planning,
    * commit log) runs outside the harness's `foreachBatch` functions. */
  private def traceTriggers(trace: Trace, qs: Seq[StreamingQuery]): Unit =
    if (trace.enabled) qs.flatMap(_.recentProgress).foreach { p =>
      Option(p.durationMs.get("triggerExecution")).foreach { ms =>
        val start = Trace.nanosAt(java.time.Instant.parse(p.timestamp).toEpochMilli)
        trace.record(s"trigger#${p.batchId}", "streaming.trigger", start, start + ms * 1000000L)
      }
    }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
