package perfbench

import graft.GraftSession
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload and writes its raw
  * result as JSON. `perfbench/run.py` builds this, prepares inputs,
  * checks the query outputs and prints the final result line.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <dir> --out <file> --nproc <n>
  *     [--sf <dir> --fixture-s <s>]
  */
/** Outcome of one workload run. */
final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double],
    attempted: Long, failed: Long, info: Map[String, Any])

object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val trace = args("trace") == "1"
    val work = args("work")
    val nproc = args("nproc")

    val t0 = System.nanoTime()
    // Settings the benchmark adds on top of the engine's own
    // GraftSession.configure; all of them are recorded with the result.
    val benchConf = Seq(
      "spark.master" -> s"local[$nproc]",
      "spark.app.name" -> "perfbench",
      "spark.sql.shuffle.partitions" -> nproc,
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/warehouse")
    val spark = benchConf.foldLeft(GraftSession.configure(SparkSession.builder())) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = Clock.secondsSince(t0)

    val log = new ProgressLog
    spark.streams.addListener(log)
    val engine = if (trace) Some(new EngineProbe) else None
    engine.foreach(spark.sparkContext.addSparkListener)

    val o = workload match {
      case "live_events" => new Live(spark, events = true, seed, seconds, work, log).run(sessionS, engine)
      case "live_services" => new Live(spark, events = false, seed, seconds, work, log).run(sessionS, engine)
      case "query_mix" => QueryMix.run(spark, args("sf"), work, seconds, sessionS,
        args.getOrElse("fixture-s", "0").toDouble, engine)
      case "train" =>
        // Loads the classes every workload uses, for the build's
        // class-data-sharing archive; its result is not a measurement.
        new Live(spark, events = true, seed, 2, s"$work/events", log).run(sessionS, engine)
        QueryMix.run(spark, args("sf"), work, 0, sessionS, 0, engine, minWarm = 1)
        Outcome(Map.empty, Map.empty, 0, 0, Map.empty)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val conf = spark.conf.getAll.toSeq.sortBy(_._1).toMap
    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "attempted" -> o.attempted, "failed" -> o.failed,
      "e2e" -> o.e2e, "layers" -> o.layers, "info" -> o.info,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.vm.version")}",
      "bench_conf" -> benchConf.toMap,
      "session_conf" -> conf)
    Files.writeString(Paths.get(args("out")), Json.render(result))
    spark.stop()
  }
}
