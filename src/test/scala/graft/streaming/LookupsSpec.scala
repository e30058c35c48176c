package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.TempDirs

/** The compacted lookup-snapshot file behind [[FileLookups]] — write /
  * read round-trip, tombstone handling, atomic republish, and the
  * per-batch cache behavior the CatchupForever semantics rely on. */
class LookupsSpec extends AnyFunSuite with TempDirs {

  private def tmpFile(): String =
    tempDir("graft_lkp").toString + "/t.lkp"

  test("write/read round-trip; null values are tombstones dropped on read") {
    val f = tmpFile()
    LookupFile.write(f, Map(
      "a" -> Array[Byte](1, 2, 3),
      "b" -> Array.emptyByteArray,
      "dead" -> null))
    val m = LookupFile.read(f)
    assert(m.keySet == Set("a", "b"))
    assert(m("a").toSeq == Seq[Byte](1, 2, 3))
    assert(m("b").isEmpty)
  }

  test("republish atomically replaces the snapshot") {
    val f = tmpFile()
    LookupFile.write(f, Map("k" -> "v1".getBytes("UTF-8")))
    assert(new String(LookupFile.read(f)("k"), "UTF-8") == "v1")
    LookupFile.write(f, Map("k" -> "v2".getBytes("UTF-8")))
    assert(new String(LookupFile.read(f)("k"), "UTF-8") == "v2")
    // no leftover temp file from the rename dance
    val dir = new java.io.File(f).getParentFile
    assert(dir.listFiles().map(_.getName).count(_.endsWith(".tmp")) == 0)
  }

  test("FileLookups re-reads when the batch id advances, caches within it") {
    val f = tmpFile()
    val run = java.util.UUID.randomUUID()
    LookupFile.write(f, Map("k" -> "v1".getBytes("UTF-8")))
    val lk = FileLookups(Map("t" -> f))
    assert(new String(lk.resolve(run, 0L)("t")("k"), "UTF-8") == "v1")
    LookupFile.write(f, Map("k" -> "v2".getBytes("UTF-8")))
    // same batch id: cached snapshot (consistent within a micro-batch)
    assert(new String(lk.resolve(run, 0L)("t")("k"), "UTF-8") == "v1")
    // next batch id: fresh read sees the republished value
    assert(new String(lk.resolve(run, 1L)("t")("k"), "UTF-8") == "v2")
    // a RESTARTED query (new run id, batch ids reset) must not be served
    // the old run's cache
    LookupFile.write(f, Map("k" -> "v3".getBytes("UTF-8")))
    val run2 = java.util.UUID.randomUUID()
    assert(new String(lk.resolve(run2, 0L)("t")("k"), "UTF-8") == "v3")
  }

  test("recentResolutions records exactly one snapshot read per (run, batch)") {
    val f = tmpFile()
    val run = java.util.UUID.randomUUID()
    LookupFile.write(f, Map("k" -> "v1".getBytes("UTF-8")))
    val lk = FileLookups(Map("t" -> f))
    lk.resolve(run, 0L); lk.resolve(run, 0L) // second hit is cached
    LookupFile.write(f, Map("k" -> "v2".getBytes("UTF-8")))
    lk.resolve(run, 1L)
    val mine = FileLookups.recentResolutions.filter(_.runId == run)
    assert(mine.map(_.batchId) == Seq(0L, 1L)) // one entry per batch, ordered
    // the recorded content hash proves WHICH snapshot version the batch saw
    val Seq(h0, h1) = mine.map(_.tables("t"))
    assert(h0._1 == 1 && h1._1 == 1 && h0._2 != h1._2)
  }

  test("cache cap evicts oldest-first, not every run but the current one") {
    val f = tmpFile()
    LookupFile.write(f, Map("k" -> "v".getBytes("UTF-8")))
    val lk = FileLookups(Map("t" -> f))
    // 66 concurrent runs insert one entry each — the cap (64) evicts the
    // 2 OLDEST entries. The pre-round-4 behavior kept only the CURRENT
    // runId on overflow, wiping every other live run's in-flight batch.
    val runs = (1 to 66).map(_ => java.util.UUID.randomUUID())
    runs.foreach(r => lk.resolve(r, 0L))
    LookupFile.write(f, Map("k" -> "CHANGED".getBytes("UTF-8")))
    // a recent (but not newest) run is still cached — within-batch
    // snapshot consistency survives other runs' inserts...
    assert(new String(lk.resolve(runs(60), 0L)("t")("k"), "UTF-8") == "v")
    // ...while the genuinely oldest entry was aged out (re-read)
    assert(new String(lk.resolve(runs.head, 0L)("t")("k"), "UTF-8") == "CHANGED")
  }

  test("StaticLookups never refreshes") {
    val run = java.util.UUID.randomUUID()
    val s = StaticLookups(Map("t" -> Map("k" -> Array[Byte](9))))
    assert(s.resolve(run, 0L)("t")("k").toSeq == Seq[Byte](9))
    assert(s.resolve(run, 99L)("t")("k").toSeq == Seq[Byte](9))
  }
}
