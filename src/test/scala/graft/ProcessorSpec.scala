package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.core.Codecs._

/** The goka-shaped top-level lifecycle: define group → run → view. */
class ProcessorSpec extends AnyFunSuite with SparkFixture with TempDirs {

  test("define -> runBatch -> view -> visitAll, goka-style") {
    import spark.implicits._
    val g = GroupGraph.define("facade")(
      Input("in", StringCodec, ProcessCallback { (ctx, _) =>
        val c = ctx.value match { case null => 0L; case n: Long => n }
        ctx.setValue(c + 1L)
      }),
      Persist(Int64Codec),
      VisitorEdge("reset", ProcessCallback { (ctx, _) => ctx.setValue(0L) }))
    val p = Processor(spark, g)
    val msgs = Seq("a", "a", "b").zipWithIndex.map { case (k, i) =>
      Message(k, Array[Byte]('x'), "in", 0, i.toLong,
        new Timestamp(i * 1000L), Map.empty)
    }
    val res = p.runBatch(Map("in" -> spark.createDataset(msgs)))
    val v = p.view(res.table)
    assert(v.get("a").map(Int64Codec.decode) == Some(2L))
    assert(v.get("b").map(Int64Codec.decode) == Some(1L))
    val visited = p.visitAll("reset", res.table)
    assert(p.view(visited.table).get("a").map(Int64Codec.decode) == Some(0L))
  }

  test("runWithLoopback deletes its checkpoint once it returns") {
    import spark.implicits._
    val g = GroupGraph.define("loopckpt")(
      Input("in", StringCodec, ProcessCallback { (ctx, m) =>
        ctx.loopback(ctx.key, m)
      }),
      Loop(StringCodec, ProcessCallback { (ctx, m) => ctx.setValue(m) }),
      Persist(StringCodec))
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def ckpts = tmp.listFiles().map(_.getName)
      .filter(_.startsWith("graft_loop_ckpt")).toSet
    val staging = tempDir("graft_lc_in")
    val results = tempDir("graft_lc_out")
    spark.createDataset(Seq(Message("a", "v".getBytes("UTF-8"), "in", 0, 0L,
        new Timestamp(1000L), Map.empty[String, Array[Byte]])))
      .write.mode("overwrite").parquet(staging.toString)
    val before = ckpts
    Processor(spark, g).runWithLoopback(staging.toString, results.toString)
    assert(spark.read.parquet(results.toString).count() > 0)
    assert((ckpts -- before).isEmpty, "a loop checkpoint outlived the run")
  }
}
