package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.crawl._

class BloomSpec extends AnyFunSuite {

  test("no false negatives (property over 200 random sets)") {
    val rnd = new scala.util.Random(42)
    (0 until 200).foreach { trial =>
      val n = rnd.nextInt(200) + 1
      val items = (0 until n).map(_ => rnd.alphanumeric.take(rnd.nextInt(30) + 1).mkString)
      val b = Bloom.create(math.max(64, items.size.toLong))
      items.foreach(b.add)
      items.foreach(i => assert(b.mightContain(i), s"false negative in trial $trial"))
    }
  }

  test("serialization round-trip preserves membership") {
    val b = Bloom.create(1000)
    (0 until 500).foreach(i => b.add(s"http://host$i/page"))
    val b2 = Bloom.deserialize(b.serialize)
    (0 until 500).foreach(i => assert(b2.mightContain(s"http://host$i/page")))
    assert(b2.numHashes == b.numHashes)
  }

  test("false positive rate is in the right ballpark") {
    val b = Bloom.create(10000, 0.01)
    (0 until 10000).foreach(i => b.add(s"in-$i"))
    val fp = (0 until 10000).count(i => b.mightContain(s"out-$i"))
    assert(fp < 300, s"fp rate too high: $fp/10000")
  }

  test("merge is a bitwise union") {
    val a = Bloom.create(1000); val b = Bloom.create(1000)
    a.add("only-a"); b.add("only-b")
    val m = a.mergeInPlace(b)
    assert(m.mightContain("only-a") && m.mightContain("only-b"))
  }
}
