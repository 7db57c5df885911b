package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite
import graft.crawl.Scheduler

/** The J8 URL-seen probe against its definition, on random frames: the
  * plain string `left_anti` of the candidates against the seen urls. */
class SeenProbeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // urls from a few hosts and paths that share prefixes, so candidates
  // repeat, differ from a seen url by one trailing character, and overlap
  // the seen table
  private val url: Gen[String] = for {
    host <- Gen.oneOf("h0", "h1", "h10", "h0.h1")
    path <- Gen.oneOf("", "/", "/a", "/a/", "/ab", "/a/b", "/a?b=1", "/a#b", "/%C3%A9")
  } yield s"http://$host$path"
  private val maybeUrl: Gen[Option[String]] =
    Gen.frequency(8 -> url.map(Some(_)), 1 -> Gen.const(None))
  private val candRow: Gen[(Option[String], Long, String)] = for {
    dst <- maybeUrl
    tag <- Gen.choose(0L, 3L)
    note <- Gen.oneOf("", "x", "y")
  } yield (dst, tag, note)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("hashProbeNewUrls equals the plain left_anti as a multiset, column order kept") {
    val prop = Prop.forAll(Gen.listOf(candRow), Gen.listOf(maybeUrl)) { (c, s) =>
      val cand = c.toDF("dst", "tag", "note")
      val seen = s.toDF("url")
      val probed = Scheduler.hashProbeNewUrls(cand, seen)
      val plain = cand.join(seen.withColumnRenamed("url", "dst"), Seq("dst"), "left_anti")
      probed.columns.toSeq == cand.columns.toSeq && rows(probed) == rows(plain)
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(25).withMaxSize(40).withWorkers(1)
    val result = Test.check(params, prop)
    assert(result.passed, Pretty.pretty(result))
  }
}
