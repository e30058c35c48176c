package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Codecs._

/** Graph validation rules, mirroring the reference's
  * `graph.go:238-260` checks (tested at `graph_test.go:18-78`). */
class GraphSpec extends AnyFunSuite {
  private val noop = ProcessCallback((_, _) => ())

  test("at least one input required") {
    assertThrows[IllegalArgumentException] {
      GroupGraph.define("g")(Persist(Int64Codec))
    }
  }

  test("at most one loop") {
    assertThrows[IllegalArgumentException] {
      GroupGraph.define("g")(Input("t", StringCodec, noop),
        Loop(StringCodec, noop), Loop(StringCodec, noop))
    }
  }

  test("at most one persist") {
    assertThrows[IllegalArgumentException] {
      GroupGraph.define("g")(Input("t", StringCodec, noop),
        Persist(Int64Codec), Persist(StringCodec))
    }
  }

  test("duplicate consumed topic rejected") {
    assertThrows[IllegalArgumentException] {
      GroupGraph.define("g")(Input("t", StringCodec, noop),
        Join("t", StringCodec))
    }
  }

  test("internal topics not directly usable") {
    assertThrows[IllegalArgumentException] {
      GroupGraph.define("g")(Input("g-table", StringCodec, noop))
    }
    assertThrows[IllegalArgumentException] {
      GroupGraph.define("g")(Input("x", StringCodec, noop),
        Output("g-loop", StringCodec))
    }
  }

  test("codec and callback resolution incl. loop topic") {
    val loopCb = ProcessCallback((_, _) => ())
    val g = GroupGraph.define("g")(Input("in", StringCodec, noop),
      Loop(Int64Codec, loopCb))
    assert(g.inputCodec("in") eq StringCodec)
    assert(g.inputCodec("g-loop") eq Int64Codec)
    assert(g.callbackFor("g-loop") eq loopCb)
    assertThrows[IllegalArgumentException](g.inputCodec("nope"))
  }

  test("visit topics are internal and resolve to the visitor") {
    val visit = GroupGraph("g", Nil).visitTopic("v")
    assertThrows[IllegalArgumentException] {
      GroupGraph.define("g")(Input(visit, StringCodec, noop),
        VisitorEdge("v", noop))
    }
    assertThrows[IllegalArgumentException] {
      GroupGraph.define("g")(Input("in", StringCodec, noop),
        Output(visit, StringCodec), VisitorEdge("v", noop))
    }
    val visitor = ProcessCallback((_, _) => ())
    val g = GroupGraph.define("g")(Input("in", StringCodec, noop),
      VisitorEdge("v", visitor))
    assert(g.inputCodec(visit) eq JsonValueCodec)
    assert(g.callbackFor(visit) eq visitor)
  }

  test("multi-topic Inputs edge expands") {
    val g = GroupGraph.define("g")(Inputs(Seq("a", "b"), StringCodec, noop))
    assert(g.inputs.map(_._1) == Seq("a", "b"))
  }
}
