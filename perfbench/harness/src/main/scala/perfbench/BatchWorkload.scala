package perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.operators._

/** The `batch` workload: a fresh JVM starts one engine session, which
  * runs one cold pass over the named queries in the order given. Each
  * query's result is collected to the driver, as a caller of the query
  * library receives it; after the pass (untimed) every result is written
  * as parquet for the correctness check, so the checked rows are the
  * timed rows. */
object BatchWorkload {
  type Builder = (SparkSession, String) => DataFrame

  /** The query modules, warehouse then corpus; per-layer figures are
    * reported per module. Lazy, so that initialising the library is
    * timed inside the run's `library` span. */
  lazy val modules: Seq[(String, Map[String, Builder])] = Seq(
    "Relational" -> Relational.queries, "Analytic" -> Analytic.queries,
    "AsOf" -> AsOf.queries, "GmallDwdDb" -> GmallDwdDb.queries,
    "DimRouter" -> DimRouter.queries, "GmallDws" -> GmallDws.queries,
    "GmallAds" -> GmallAds.queries, "Scd2" -> Scd2.queries,
    "Governance" -> Governance.queries,
    "Dedup" -> Dedup.queries, "Similarity" -> Similarity.queries,
    "TextAnalysis" -> TextAnalysis.queries, "Curation" -> Curation.queries,
    "Search" -> Search.queries, "Multimodal" -> Multimodal.queries,
    "Graph" -> Graph.queries)

  def run(a: Main.Args, trace: Trace, out: mutable.Map[String, Any]): Unit = {
    // the first touch of the modules initialises the whole query library
    val byName: Map[String, (String, Builder)] = trace.span("library", "operators") {
      modules.flatMap { case (m, qs) => qs.map { case (n, f) => n -> (m, f) } }.toMap
    }
    val unknown = a.queries.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val resultDir = a.work.resolve("results")

    val latencyMs = mutable.ArrayBuffer.empty[Double]
    val resultAtS = mutable.ArrayBuffer.empty[Double]
    val moduleS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val results = mutable.ArrayBuffer.empty[(String, StructType, Array[Row])]
    val failed = mutable.LinkedHashSet.empty[String]

    val session = trace.span("session", "GraftSession")(Main.session(a, s"local[${a.cpus}]"))
    val setupS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val sc = session.sparkContext
    val tm = if (trace.enabled) Some(new TaskMetrics) else None
    trace.span("attach_listeners", "trace")(tm.foreach(_.attach(session)))
    val p0 = System.nanoTime()
    trace.span("cold_pass", "harness") {
      a.queries.foreach { q =>
        val (module, build) = byName(q)
        val layer = s"operators.$module"
        val q0 = System.nanoTime()
        try trace.span(q, layer, sc) {
          tm.foreach(_.currentGroup = s"$layer|$q")
          val df = trace.span(s"$q.build", s"$layer.build", sc)(build(session, a.data))
          val e0 = System.nanoTime()
          val rows = trace.span(s"$q.exec", s"$layer.exec", sc)(df.collect())
          val e1 = System.nanoTime()
          moduleS(s"$layer.build_s") += (e0 - q0) / 1e9
          moduleS(s"$layer.exec_s") += (e1 - e0) / 1e9
          results += ((q, df.schema, rows))
          tm.foreach(_ => TaskMetrics.drain(sc))
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $q failed: $e")
            failed += q
        }
        latencyMs += (System.nanoTime() - q0) / 1e6
        resultAtS += (System.nanoTime() - p0) / 1e9
      }
    }
    val passS = (System.nanoTime() - p0) / 1e9
    out("live_heap_mb") = trace.span("live_heap", "jvm")(Main.liveHeapMb())
    // the results and their oracles, laid out as `tools/compare.py` reads them
    tm.foreach(_.currentGroup = "check|write_results")
    trace.span("write_results", "check", sc) {
      Files.createDirectories(resultDir)
      results.foreach { case (q, schema, rows) =>
        session.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(resultDir.resolve(q).toString)
      }
      Files.writeString(resultDir.resolve("oracle_sql.json"),
        Json.value(graft.SparkEntry.oracleSql.filter { case (k, _) => a.queries.contains(k) }))
    }
    trace.span("stop", "GraftSession")(session.stop())

    out("attempted") = a.queries.size.toLong
    out("failures") = failed.toSeq
    out("setup_s") = setupS
    out("time_to_results_s") = passS
    out("latency_ms") = latencyMs.toSeq
    out("freshness_s") = resultAtS.toSeq
    val layers = mutable.LinkedHashMap.empty[String, Any]
    modules.foreach { case (m, _) =>
      Seq("build_s", "exec_s").foreach { k =>
        layers(s"operators.$m.$k") = moduleS(s"operators.$m.$k")
      }
    }
    tm.foreach { m =>
      // the query calls' jobs and plans only: the result writes are not timed
      val accs = m.byGroup.collect { case (g, acc) if g.startsWith("operators.") => acc }.toSeq
      def total(f: TaskMetrics#Acc => Double): Double = accs.map(f).sum
      layers("planning.analysis_s") = total(_.analysisMs) / 1000
      layers("planning.optimization_s") = total(_.optimizationMs) / 1000
      layers("planning.physical_s") = total(_.planningMs) / 1000
      layers("spark.jobs") = total(_.jobs.toDouble)
      layers("spark.tasks") = total(_.tasks.toDouble)
      layers("spark.shuffle_write_bytes") = total(_.shuffleWrite.toDouble)
      layers("spark.spill_bytes") = total(_.spill.toDouble)
      layers("spark.gc_ms") = total(_.gcMs.toDouble)
      layers("spark.peak_task_mem_bytes") = accs.map(_.peakMem).maxOption.getOrElse(0L).toDouble
      val busyS = accs.map(_.busyNs).sum / 1e9
      layers("spark.core_idle_share") = 1 - busyS / (a.cpus * passS)
    }
    out("layers") = layers.toMap
  }
}
