package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.crawl.TableStore

/** The store's plan cache: one read plan per committed version list and
  * union schema. */
class TableStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("a read after a schema-widening stage is rebuilt with the wider schema") {
    val store = new TableStore(spark, SparkTestBase.tempDir("store-widen"))
    store.stageAppend("t", Seq(("u1", 1L)).toDF("url", "seq"))
    store.commitWave(0)
    val first = store.readAppendOnly("t").get
    assert(store.readAppendOnly("t").get eq first, "an unchanged table rebuilt its plan")
    // staged, not committed: the version list is unchanged, the schema wider
    store.stageAppend("t", Seq(("u2", 2L, 5L)).toDF("url", "seq", "f_wave"))
    val widened = store.readAppendOnly("t").get
    assert(widened ne first)
    assert(widened.columns.toSeq == Seq("url", "seq", "f_wave"))
    assert(widened.select("url").as[String].collect().toSeq == Seq("u1"))
    store.commitWave(1)
    assert(store.readAppendOnly("t").get.count() == 2)
  }
}
