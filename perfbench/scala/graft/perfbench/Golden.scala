package graft.perfbench

import graft.crawl.{Scheduler, TableStore}

/** Prints the scale_crawl digest of each seed in [from, to), crawled with
  * `Scheduler.run`, as lines of perfbench/golden/scale_crawl.json. Re-record
  * the golden file with it only when a change to the program is meant to
  * change what the crawl produces.
  *
  * usage: Golden <from> <to> <work dir> */
object Golden {
  def main(args: Array[String]): Unit = {
    val Array(from, to, work) = args
    val spark = Main.session("golden", work)
    for (seed <- from.toLong until to.toLong) {
      val store = new TableStore(spark, s"$work/scale-$seed")
      val sched = new Scheduler(spark, store, ScaleCrawl.cfg)
      ScaleCrawl.bootstrap(spark, sched, ScaleCrawl.site(seed))
      sched.run(ScaleCrawl.Waves)
      println(s"""    "$seed": "${ScaleCrawl.digest(sched)}",""")
    }
    spark.stop()
  }
}
