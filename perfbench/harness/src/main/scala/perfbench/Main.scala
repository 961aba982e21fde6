package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Engine side of the benchmark: drives the engine only through its
  * public functions and writes every figure it measures to
  * `<work>/engine.json` (spans to `<work>/trace.jsonl` when traced).
  *
  * {{{
  * perfbench.Main --workload batch|ods-to-rest|stage-pools --data <dir>
  *   --work <dir> --seconds <n> --trace 0|1 [--queries a,b,c] [--cpus n]
  * }}}
  */
object Main {
  final case class Args(workload: String, data: String, work: Path, seconds: Double,
                        traced: Boolean, queries: Seq[String], cpus: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), Paths.get(m("work")), m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1",
      m.get("queries").toSeq.flatMap(_.split(',')).filter(_.nonEmpty),
      m.getOrElse("cpus", "4").toInt)
  }

  /** A fresh engine session, with every scratch location of Spark's
    * inside the benchmark's work directory. */
  def session(a: Args, master: String): SparkSession = {
    val spark = GraftSession.builder(master, a.cpus)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", a.work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Heap in use right after a full collection, in MB: the data the
    * engine keeps live (memos, join state, cached results). */
  def liveHeapMb(): Double = {
    // a second collection catches what the first one's finalization and
    // reference processing released
    System.gc()
    Thread.sleep(100)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val trace = new Trace(a.traced)
    val out = mutable.LinkedHashMap.empty[String, Any]
    trace.root {
      a.workload match {
        case "batch" => BatchWorkload.run(a, trace, out)
        case "ods-to-rest" => StreamWorkload.run(a, trace, out)
        case "stage-pools" => StreamWorkload.stagePools(a)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    }
    if (a.traced) {
      trace.writeJsonl(a.work.resolve("trace.jsonl"))
      out("span_self_s") = trace.selfTimeByLayer
      out("span_covered_s") = trace.coveredSeconds
    }
    Files.writeString(a.work.resolve("engine.json"), Json.value(out.toMap))
  }
}
