package graft.perfbench

import graft.SparkEntry

/** A fixed list of `SparkEntry.queries` on the packaged sf0.01 tables: every
  * query family, with the slowest leaves of the last full pass named one by
  * one. Each query's result is written as parquet; `run.py` then checks it
  * against the query's `SparkEntry.oracleSql` under DuckDB, outside the timed
  * region. Scheduler and TableStore do no work here. */
object Catalog extends Workload {
  val Queries: Seq[String] = Seq(
    "a3_multi_agg", "ann3_ivf_topk", "d10_dup_components", "d13_containment",
    "f9_extract_links", "g1_pagerank", "h2_mirror_hosts", "j1_equi_join", "m3_image_dhash",
    "o1_topk", "p13_ilike_search", "s1_scan_paginate", "st1_tumbling_window",
    "t14_tfidf_topk", "x2_weighted_mix")

  val Families: Seq[String] = Seq("d", "a", "ann", "t", "g", "st", "s", "j", "h", "x", "p", "f", "m", "misc")

  /** Leaves reported on their own. */
  val Leaves: Seq[String] = Seq("d13_containment", "d10_dup_components", "ann3_ivf_topk",
    "g1_pagerank")

  def family(q: String): String = {
    val prefix = q.takeWhile(_.isLetter)
    if (Families.contains(prefix)) prefix else "misc"
  }

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val data = ctx.dataDir
    // set-up: open every table (footer and schema), five times
    val setups = (0 until 5).map { _ =>
      ctx.timed("catalog.open")(Tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").schema))._2
    }
    ctx.e2e("setup_s") = Measure.median(setups)

    val ran = Queries.flatMap { q =>
      ctx.op(s"catalog.q.$q")(SparkEntry.queries(q)(spark, data).write.parquet(ctx.dir(s"catalog/$q")))
        .map(q -> _._2)
    }
    val total = ran.map(_._2).sum
    ctx.e2e("run_s") = total
    ctx.e2e("items_per_s") = ran.length / total
    Queries.foreach(q => ctx.check(SparkEntry.oracleSql.contains(q), s"$q has no oracle"))
    ctx.observed("catalog_results") = ctx.dir("catalog")
    ctx.observed("catalog_oracle") =
      ran.map(_._1).filter(SparkEntry.oracleSql.contains).map(q => q -> SparkEntry.oracleSql(q)).toMap

    if (ctx.traced) {
      val L = ctx.layer
      for (f <- Families) {
        val spans = Queries.filter(family(_) == f).flatMap(q => ctx.trace.named(s"catalog.q.$q"))
        val w = ctx.work(spans)
        L(s"catalog.${f}_s") = spans.map(_.seconds).sum
        L(s"catalog.${f}_jobs") = w.jobs.toDouble
        L(s"catalog.${f}_shuffle_bytes") = w.shuffleBytes.toDouble
      }
      for (q <- Leaves) L(s"catalog.q.${q}_s") = ctx.trace.named(s"catalog.q.$q").map(_.seconds).sum
    }
  }
}
