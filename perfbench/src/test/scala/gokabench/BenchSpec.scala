package gokabench

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Codecs.StringCodec
import graft.testkit.Tester

class BenchSpec extends AnyFunSuite {

  test("replay input is a function of the seed") {
    val a = ReplayInput(7L, messages = 5000, users = 300)
    val b = ReplayInput(7L, messages = 5000, users = 300)
    val c = ReplayInput(8L, messages = 5000, users = 300)
    assert(a.senders.toSeq == b.senders.toSeq && a.texts.toSeq == b.texts.toSeq)
    assert(a.blocked == b.blocked && a.dict == b.dict)
    assert(a.senders.toSeq != c.senders.toSeq)
  }

  test("stream events and serve keys are functions of the seed") {
    val a = StreamEvents(3L, 20000)
    val b = StreamEvents(3L, 20000)
    assert(a.messages.map(m => (m.key, m.topic, new String(m.value, UTF_8))).toSeq ==
      b.messages.map(m => (m.key, m.topic, new String(m.value, UTF_8))).toSeq)
    assert(a.isInput.toSeq == b.isInput.toSeq)
    val share = a.isInput.count(!_).toDouble / a.size
    assert(share > 0.005 && share < 0.02, s"profile share $share")
    assert(StreamEvents(4L, 20000).messages.map(_.key).toSeq != a.messages.map(_.key).toSeq)
    val present = (0 until 500).map(i => f"u$i%05d")
    val k1 = new ServeKeys(present, 5L, 0)
    val k2 = new ServeKeys(present, 5L, 0)
    val s1 = Seq.fill(2000)(k1.next())
    assert(s1 == Seq.fill(2000)(k2.next()))
    val absent = s1.count(!present.contains(_)).toDouble / s1.size
    assert(absent > 0.07 && absent < 0.13, s"absent share $absent")
    assert(Seq.fill(2000)(new ServeKeys(present, 5L, 1).next()) != s1)
  }

  test("a percentile needs ten samples beyond it") {
    assert(Stats.minSamples(0.5) == 20)
    assert(Stats.minSamples(0.9) == 100)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assertThrows[IllegalArgumentException](Stats.percentile(xs.take(99), 0.9))
    assertThrows[IllegalArgumentException](Stats.percentile(xs.take(19), 0.5))
    // a replay job stands for every message in it
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 0.9, weight = 200000L) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("union of intervals counts overlaps once") {
    assert(TraceMath.unionMs(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0)
    assert(TraceMath.unionMs(Nil) == 0.0)
  }

  test("the replay reference equals Tester at a tiny size") {
    val in = ReplayInput(11L, messages = 3000, users = 200)
    val ref = Reference.replay(in)
    val t = new Tester(Graphs.replay())
    in.blocked.foreach(k => t.setTableValue(Graphs.Blocked, k, "1"))
    in.dict.foreach { case (k, v) => t.setTableValue(Graphs.Dict, k, v) }
    (0 until in.size).foreach(i => t.consume(Graphs.Msgs, in.senders(i), in.texts(i)))
    assert(t.tableKeys.toSet == ref.table.keySet)
    ref.table.foreach { case (k, v) => assert(t.tableValue(k) == v, k) }
    val q = t.queueTracker(Graphs.Delivered)
    val out = Iterator.continually(q.nextMessage()).takeWhile(_.isDefined).flatten
      .map(m => Digest.row(m.key, m.value)).foldLeft(Digest.Zero)(_ + _)
    assert(out == ref.outputDigest)
    assert(ref.outputDigest.rows > 0 && ref.table.nonEmpty)
  }

  test("the stream reference equals Tester at a tiny size") {
    val ev = StreamEvents(13L, 5000)
    val ref = Reference.stream(ev)
    val t = new Tester(Graphs.stream())
    val q = t.queueTracker(Graphs.Counts)
    var joined = 0
    (0 until ev.size).foreach { i =>
      val m = ev.messages(i)
      if (!ev.isInput(i)) t.setTableValue(Graphs.Profile, m.key, StringCodec.decode(m.value))
      else {
        t.consume(Graphs.Events, m.key, i.toLong)
        val (key, v) = q.next().get
        val (n, id, j) = v.asInstanceOf[(Long, Long, Long)]
        assert(key == m.key && id == i && n == ref.count(i) && (j == 1L) == ref.joined(i))
        if (j == 1L) joined += 1
      }
    }
    assert(joined > 0)
    val counts = Reference.finalCounts(ev, ev.size)
    counts.foreach { case (k, n) => assert(t.tableValue(k) == n) }
  }
}
