package gokabench

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import scala.util.hashing.MurmurHash3

/** Order-independent digest of a multiset of (key, value) rows: row count
  * plus a wrapping sum of per-row hashes. */
final case class Digest(rows: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
}

object Digest {
  val Zero: Digest = Digest(0L, 0L)
  def row(key: String, value: Array[Byte]): Digest = {
    val h1 = MurmurHash3.bytesHash(key.getBytes(UTF_8), 0x6b6579)
    val h2 = if (value == null) 0 else MurmurHash3.bytesHash(value, 0x76616c)
    Digest(1L, (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL))
  }
}

/** Plain-Scala folds over the same seeded inputs, written without the
  * engine: what every run's results are checked against. */
object Reference {

  final case class Replay(table: Map[String, List[String]], tableDigest: Digest,
      outputDigest: Digest)

  def replay(in: ReplayInput): Replay = {
    val state = mutable.HashMap.empty[String, List[String]]
    var out = Digest.Zero
    for (i <- 0 until in.size) {
      val from = in.senders(i)
      if (!in.blocked(from)) {
        val Array(to, body) = in.texts(i).split("\\|", 2)
        val text = body.split(' ').map(w => in.dict.getOrElse(w, w)).mkString(" ")
        state(from) = (state.getOrElse(from, Nil) :+ text).takeRight(5)
        out += Digest.row(to, s"$from>$text".getBytes(UTF_8))
      }
    }
    val table = state.toMap
    val td = table.foldLeft(Digest.Zero) { case (d, (k, v)) =>
      d + Digest.row(k, v.mkString("\n").getBytes(UTF_8))
    }
    Replay(table, td, out)
  }

  /** Per slot: the count its emitted row must carry (0 for profile slots)
    * and whether its key had a profile row before it. */
  final case class Stream(count: Array[Long], joined: Array[Boolean])

  def stream(ev: StreamEvents): Stream = {
    val counts = mutable.HashMap.empty[String, Long]
    val profiled = mutable.HashSet.empty[String]
    val count = new Array[Long](ev.size)
    val joined = new Array[Boolean](ev.size)
    for (i <- 0 until ev.size) {
      val k = ev.messages(i).key
      if (ev.isInput(i)) {
        val n = counts.getOrElse(k, 0L) + 1L
        counts(k) = n
        count(i) = n
        joined(i) = profiled(k)
      } else profiled += k
    }
    Stream(count, joined)
  }

  /** Final count per key over the first `slots` slots. */
  def finalCounts(ev: StreamEvents, slots: Int): Map[String, Long] =
    (0 until slots).filter(ev.isInput(_)).groupBy(ev.messages(_).key)
      .map { case (k, is) => k -> is.size.toLong }

  /** Status and body `GET /query/{table}/{key}` must return. */
  def serveReply(table: Map[String, List[String]], name: String,
      key: String): (Int, String) = table.get(key) match {
    case Some(texts) =>
      200 -> s"""{"table":"$name","key":"$key","value":${
        texts.map(t => "\"" + t + "\"").mkString("[", ",", "]")}}"""
    case None => 404 -> s"""{"table":"$name","key":"$key","value":null}"""
  }
}
