package perfbench

import graft.SparkEntry
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** The query_mix workload: one closed-loop client running a fixed list
  * of queries in rounds, in a fresh JVM. The first round is cold: it
  * pays JIT and codegen of each query shape and the engine's
  * derived-relation builds, and counts as set-up. The next two rounds
  * are not measured either: the JIT is still compiling query code through
  * them (the second runs ~20% slower than the fourth, and single runs
  * still step down by ~10% in the third). The warm rounds that follow
  * are the measurement: at least three, and more while another round
  * still fits in the run's `--seconds`. Each query's time is its median
  * over the warm rounds, so a short host stall in one round does not
  * move it. Every result is written as one parquet file per round for
  * the DuckDB oracle check that follows.
  */
object QueryMix {
  /** Seven query families of SparkEntry: aggregation, star join, a
    * custom physical plan, banded-LSH similarity, TF-IDF text scoring,
    * file-replay streaming and k8s enrichment. */
  val Names: Seq[String] = Seq("agg_pricing", "join_star", "topk_custom_plan",
    "vec_cosine_lsh_banded", "text_tfidf", "stream_tumble",
    "k8s_enrich_project")
  val WarmupRounds = 2
  val MinWarmRounds = 3

  /** Same between-query hygiene as graft.Verify: drop what a query pinned. */
  private def release(spark: SparkSession): Unit = {
    try spark.catalog.clearCache() catch { case _: Throwable => () }
    try spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    catch { case _: Throwable => () }
    try spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("st_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
    catch { case _: Throwable => () }
  }

  def run(spark: SparkSession, sfDir: String, work: String, seconds: Int,
      sessionS: Double, fixtureS: Double, engine: Option[EngineProbe],
      minWarm: Int = MinWarmRounds): Outcome = {
    val out = s"$work/qout"
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Json.render(Names.map(n => n -> SparkEntry.oracleSql(n)).toMap))

    def round(r: Int): Seq[Map[String, Any]] = Names.map { name =>
      val q0 = System.nanoTime()
      val err =
        try {
          SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$out/r$r/$name")
          None
        } catch { case e: Throwable => Some(String.valueOf(e.getMessage).take(300)) }
      val dt = Clock.secondsSince(q0)
      release(spark)
      Map("query" -> name, "round" -> r, "seconds" -> dt, "error" -> err)
    }
    def total(rs: Seq[Map[String, Any]]) = rs.map(_("seconds").asInstanceOf[Double]).sum

    val cold = round(0)
    val coldS = total(cold)
    val warmup = (1 to WarmupRounds).map(round)
    val eng0 = engine.map(_.snapshot())
    val t0 = System.nanoTime()
    val first = WarmupRounds + 1
    val warm = scala.collection.mutable.ArrayBuffer(round(first))
    while (warm.length < minWarm ||
        Clock.secondsSince(t0) + total(warm.last) <= seconds)
      warm += round(first + warm.length)
    val warmS = Clock.secondsSince(t0)
    val eng1 = engine.map(_.snapshot())
    val rss = Rss.peakMb()
    val perQuery = Names.map { name =>
      name -> Stats.median(warm.toSeq.map(_.find(_("query") == name).get("seconds").asInstanceOf[Double]))
    }
    val medians = perQuery.map(_._2)
    val passS = medians.sum

    val e2e = Map(
      "setup_s" -> (sessionS + fixtureS + coldS),
      "sustained_eps" -> Names.length / passS,
      "lag_p50_s" -> Stats.quantile(medians, 0.5),
      "lag_p99_s" -> Stats.quantile(medians, 0.99),
      "pass_s" -> passS,
      "rss_peak_mb" -> rss)
    val layers: Map[String, Double] = engine.map { _ =>
      perQuery.map { case (n, t) => s"queries.${n}_s" -> t }.toMap ++
        EngineProbe.delta(eng0.get, eng1.get)
    }.getOrElse(Map.empty)
    val runs = cold ++ warmup.flatten ++ warm.flatten
    val failed = runs.count(_("error") != None).toLong
    Outcome(e2e, layers, runs.length.toLong, failed, Map(
      "session_s" -> sessionS, "fixture_s" -> fixtureS,
      "cold_round_s" -> coldS, "warmup_round_s" -> warmup.map(total),
      "warm_rounds" -> warm.length, "warm_wall_s" -> warmS,
      "warm_round_s" -> warm.map(total), "queries" -> runs))
  }
}
