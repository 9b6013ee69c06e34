package perfbench

import graft.api.CacheScope
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import scala.collection.mutable

/** `analytic`: passes over a fixed slice of the relational registry
  * queries (Core, Facet, Stats, Event and Schema sets) on seeded
  * TPC-H-like tables, each pass in an order the seed sets. Every query
  * is collected; the rows of its last run are checked
  * against the registry's own DuckDB oracle SQL outside the JVM.
  */
object AnalyticWorkload {
  /** The queries run, by registry set. A fixed list, not a rule over the
    * registry, so adding a query to a set does not change the workload.
    */
  val Slice: Seq[(String, Seq[String])] = Seq(
    "core" -> Seq("q_find_range", "q1_agg", "q_join_multi", "q_window_topn"),
    "facet" -> Seq("q_facet_batched"),
    "stats" -> Seq("q_group_quantiles", "q_corr_matrix"),
    "event" -> Seq("q_sessionize", "q_funnel", "q_ewma"),
    "schema" -> Seq("q_ref_integrity"))

  /** The tables the slice reads. */
  val Tables = Seq("nation", "customer", "orders", "lineitem", "events", "documents")
  val Setups = 2

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val d = ctx.dir("tables")
    val g = new Gen(spark, ctx.seed)
    ctx.phase("inputs") {
      g.write(g.nation, d, "nation")
      g.write(g.customer(1500), d, "customer")
      g.write(g.orders(15000, 1500), d, "orders")
      g.write(g.lineitem(60000, 15000, 2000, 100), d, "lineitem")
      g.write(g.events(10000, 150), d, "events")
      g.write(g.documents(500), d, "documents")
    }

    var rowsIn = 0L
    val setupS = (0 until Setups).map { _ =>
      val t0 = System.nanoTime()
      rowsIn = ctx.trace.span("io.import")(Tables.map(t => graft.Tables.df(spark, d, t).count()).sum)
      (System.nanoTime() - t0) / 1e9
    }
    ctx.metrics("input_rows") = rowsIn.toDouble
    ctx.metrics("input_mb") = SessionWorkload.dirBytes(d) / 1e6
    ctx.metrics("setup_s") = Stats.median(setupS)

    val registry = graft.SparkEntry.queries
    val setOf = Slice.flatMap { case (s, qs) => qs.map(_ -> s) }.toMap
    val missing = setOf.keySet -- registry.keySet
    require(missing.isEmpty, s"queries missing from the registry: ${missing.mkString(", ")}")

    val last = mutable.Map.empty[String, (org.apache.spark.sql.types.StructType, Array[Row])]
    def runQuery(name: String, opId: Int): Unit = {
      val fn = registry(name)
      val t = ctx.trace
      val r = ctx.timed(s"query.$name", opId) {
        t.span(s"queries.${setOf(name)}") {
          val df = t.span("ops.construct")(fn(spark, d))
          val rows = t.span("ops.exec")(df.collect())
          (df.schema, rows)
        }
      }
      CacheScope.global.release(blocking = true)
      r.foreach(last(name) = _)
    }

    // no warm-up: the first pass runs cold, as a report run in a fresh
    // session does, and pays each query's planning and code generation
    val passS = mutable.ArrayBuffer.empty[Double]
    var opId = 0
    while (ctx.busyNs / 1e9 < ctx.seconds) {
      val t0 = System.nanoTime()
      ctx.rng.shuffle(setOf.keys.toSeq.sorted).foreach { q => runQuery(q, opId); opId += 1 }
      passS += (System.nanoTime() - t0) / 1e9
    }
    val lat = ctx.allLatencies
    ctx.metrics("work_per_s") = lat.size / (lat.sum / 1000)
    ctx.metrics("analytic.total_s") = Stats.median(passS.toSeq)
    ctx.notes += f"analytic: ${setOf.size} queries, ${passS.size} passes, ${lat.size} samples"
    for ((set, _) <- Slice) {
      val (s, _) = ctx.trace.total(s"queries.$set")
      ctx.metrics(s"queries.${set}_s") = s / passS.size
    }
    for (name <- Seq("ops.construct", "ops.exec")) {
      val (s, _) = ctx.trace.total(name)
      ctx.metrics(name + "_s") = s / passS.size
    }

    // untimed: the last rows of every query, plus its oracle SQL, for
    // the DuckDB comparison outside the JVM
    val out = ctx.dir("results")
    ctx.phase("results") {
      last.foreach { case (name, (schema, rows)) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/$name")
      }
    }
    val oracle = graft.SparkEntry.oracleSqlFiltered(setOf.contains)
    Files.writeString(Paths.get(out, "oracle_sql.json"), Json.obj(oracle))
  }
}
