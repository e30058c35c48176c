package gokabench

import java.sql.Timestamp
import java.util.SplittableRandom
import graft.core.Codecs.{Int64Codec, StringCodec}
import graft.core.Message

/** Zipf(s) sampler over ranks 0 until n by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Input of the replay graph (goka's messaging filter): senders send short
  * texts to recipients; blocked senders are dropped through a Join table;
  * words are translated through a Lookup table. Everything derives from
  * the seed. */
final case class ReplayInput(
    senders: Array[String],  // message i's key
    texts: Array[String],    // message i's value: "<recipient>|w w w w"
    blocked: Set[String],    // Join table rows (value "1")
    dict: Map[String, String]) {
  def size: Int = senders.length
}

object ReplayInput {
  final val Messages = 200000
  final val Users = 20000
  final val Words = 1000
  final val WordsPerText = 4
  final val ZipfS = 1.0

  def user(i: Int): String = f"u$i%05d"
  def word(i: Int): String = f"w$i%03d"

  def apply(seed: Long, messages: Int = Messages, users: Int = Users): ReplayInput = {
    val r = new SplittableRandom(seed)
    val hot = Array.tabulate(users)(user)
    for (i <- hot.length - 1 to 1 by -1) {  // rank -> user, shuffled
      val j = r.nextInt(i + 1); val t = hot(i); hot(i) = hot(j); hot(j) = t
    }
    val blocked = (0 until users).filter(_ => r.nextDouble() < 0.02).map(user).toSet
    val dict = (0 until Words).filter(_ => r.nextDouble() < 0.2)
      .map(i => word(i) -> f"x$i%03d").toMap
    val zipf = new Zipf(users, ZipfS)
    val senders = new Array[String](messages)
    val texts = new Array[String](messages)
    val sb = new StringBuilder
    for (i <- 0 until messages) {
      senders(i) = hot(zipf.sample(r))
      sb.setLength(0)
      sb.append(user(r.nextInt(users))).append('|')
      for (w <- 0 until WordsPerText) {
        if (w > 0) sb.append(' ')
        sb.append(word(r.nextInt(Words)))
      }
      texts(i) = sb.toString
    }
    ReplayInput(senders, texts, blocked, dict)
  }
}

/** The stream workload's event sequence. Slot i is due at tick
  * `i / perTick` of a fixed 5 ms schedule. About 1% of slots are
  * changelog rows of the joined `profile` table; the input event right
  * after one uses the same key, so the join is exercised. Keys are
  * uniform over a space far larger than one micro-batch. */
final case class StreamEvents(messages: Array[Message], isInput: Array[Boolean]) {
  def size: Int = messages.length
}

object StreamEvents {
  final val KeySpace = 1000000
  final val ProfileShare = 0.01
  final val TickNs = 5000000L

  def apply(seed: Long, slots: Int): StreamEvents = {
    val r = new SplittableRandom(seed ^ 0x5eed5eedL)
    val msgs = new Array[Message](slots)
    val isInput = new Array[Boolean](slots)
    var pending: String = null
    def key(): String = f"k${r.nextInt(KeySpace)}%07d"
    for (i <- 0 until slots) {
      val ts = new Timestamp(i.toLong)
      if (r.nextDouble() < ProfileShare) {
        val k = key()
        pending = k
        msgs(i) = Message(k, StringCodec.encode(s"p$i"), Graphs.Profile, 0,
          i.toLong, ts, Map.empty)
      } else {
        val k = if (pending != null) pending else key()
        pending = null
        isInput(i) = true
        msgs(i) = Message(k, Int64Codec.encode(i.toLong), Graphs.Events, 0,
          i.toLong, ts, Map.empty)
      }
    }
    StreamEvents(msgs, isInput)
  }
}

/** Key sequence of one serve client: ~90% Zipf-hot present keys, ~10%
  * keys that are never in the table (the 404 path). */
final class ServeKeys(present: IndexedSeq[String], seed: Long, client: Int) {
  private val r = new SplittableRandom(seed * 31L + client + 7L)
  private val hot: IndexedSeq[String] = {
    val a = present.toArray
    val rr = new SplittableRandom(seed + 2L)
    for (i <- a.length - 1 to 1 by -1) {
      val j = rr.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }
  private val zipf = new Zipf(hot.size, ReplayInput.ZipfS)
  def next(): String =
    if (r.nextDouble() < 0.1) f"z${r.nextInt(1000000)}%06d"
    else hot(zipf.sample(r))
}
