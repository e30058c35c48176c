package graft.core

/** Per-message user callback — the reference's `ProcessCallback`
  * (`/root/reference/processor.go:33-35`). It is goka's UDF/UDAF/UDTF in
  * one: it can read state (agg buffer), emit 0..N messages (generator),
  * and update state. `msg` is the codec-decoded input value. */
trait ProcessCallback extends Serializable {
  def apply(ctx: Context, msg: Any): Unit
}

object ProcessCallback {
  def apply(f: (Context, Any) => Unit): ProcessCallback =
    new ProcessCallback { def apply(ctx: Context, msg: Any): Unit = f(ctx, msg) }
}

/** What user code can do while processing one message — the reference's
  * `Context` interface (`/root/reference/context.go:41-135`). */
trait Context {
  /** Key of the current message (`context.go:278-280`). */
  def key: String
  /** Topic the message arrived on. */
  def topic: String
  def partition: Int
  def offset: Long
  /** Event timestamp of the input message (`context.go:273-276`). */
  def timestamp: java.sql.Timestamp
  /** Kafka-style headers (`context.go:298-303`). */
  def headers: Map[String, Array[Byte]]
  /** The processor group name. */
  def group: String

  /** Read the group-table row for the current key (`context.go:255-262`).
    * Returns null when absent — matching the reference, where a missing
    * row decodes to nil. */
  def value: Any
  /** Upsert the group-table row for the current key
    * (`context.go:264-271`). */
  def setValue(v: Any): Unit
  /** Delete the row: local removal + tombstone in the changelog
    * (`context.go:247-253`). */
  def delete(): Unit

  /** Emit a message to a declared Output topic (`context.go:185-217`).
    * Fails on undeclared topics, like the reference. */
  def emit(topic: String, key: String, value: Any): Unit
  def emitWithHeaders(topic: String, key: String, value: Any,
      headers: Map[String, Array[Byte]]): Unit
  /** Emit to the group's loop topic under a new key
    * (`context.go:219-234`). */
  def loopback(key: String, value: Any): Unit

  /** Point read of a co-partitioned joined table at the current key
    * (`context.go:305-325`). */
  def join(table: String): Any
  /** Point read of a replicated lookup table at an arbitrary key
    * (`context.go:327-340`). */
  def lookup(table: String, key: String): Any

  /** Abort processing with an error (`context.go:464-467`). */
  def fail(err: Throwable): Unit = throw err

  /** Defer the commit of the current message (`context.go:128-134`,
    * semantics pinned by `context_test.go:72-130`): the message does
    * NOT count as processed when the callback returns; the returned
    * function MUST eventually be called — `None` commits, `Some(err)`
    * refuses the commit and routes the error to the processor's
    * failure path. Callable multiple times; every returned function
    * must then be called. In the batch executor, a defer left
    * unresolved when the fold drains fails the job loudly — the batch
    * analogue of the reference's "the processor might reprocess the
    * message": surfaced, never silently committed. */
  def deferCommit(): Option[Throwable] => Unit
}

/** Typed link of the dataflow graph to a topic — the reference's `Edge`
  * (`/root/reference/graph.go:262-268`). */
sealed trait Edge { def topics: Seq[String] }

/** Subscribe a stream topic with a codec and callback
  * (`graph.go:319-326`). */
final case class Input(topic: String, codec: Codec[_], cb: ProcessCallback)
    extends Edge { def topics: Seq[String] = Seq(topic) }

/** Same callback/codec over multiple co-partitioned topics
  * (`graph.go:357-368`). */
final case class Inputs(streams: Seq[String], codec: Codec[_],
    cb: ProcessCallback) extends Edge { def topics: Seq[String] = streams }

/** Declare an emit-able sink topic (`graph.go:462-469`). */
final case class Output(topic: String, codec: Codec[_]) extends Edge {
  def topics: Seq[String] = Seq(topic)
}

/** Group-private feedback topic `<group>-loop` (`graph.go:395-407`). */
final case class Loop(codec: Codec[_], cb: ProcessCallback) extends Edge {
  def topics: Seq[String] = Seq.empty
}

/** Subscribe a co-partitioned compacted table for key-equality point
  * reads (`graph.go:409-420`). */
final case class Join(topic: String, codec: Codec[_]) extends Edge {
  def topics: Seq[String] = Seq(topic)
}

/** Subscribe a non-co-partitioned table, fully replicated — served as a
  * broadcast in Spark (`graph.go:422-433`). */
final case class Lookup(topic: String, codec: Codec[_]) extends Edge {
  def topics: Seq[String] = Seq(topic)
}

/** Declare the group table (state) with its value codec
  * (`graph.go:435-456`). */
final case class Persist(codec: Codec[_]) extends Edge {
  def topics: Seq[String] = Seq.empty
}

/** Named callback runnable over every key of the live state
  * (`graph.go:370-393`). The visitor `meta` payload is JSON
  * round-tripped ([[Codecs.JsonValueCodec]]): callbacks receive
  * Long/Double/Boolean/String/Map/List — integers always as Long, case
  * classes as Maps (the reference's `interface{}` meta is equally
  * schemaless, `processor.go:954-996`). */
final case class VisitorEdge(name: String, cb: ProcessCallback) extends Edge {
  def topics: Seq[String] = Seq.empty
}

/** The dataflow DAG of one processor group — the reference's
  * `GroupGraph` (`/root/reference/graph.go:47-76`). Validation mirrors
  * `graph.go:238-260`: ≥1 input, ≤1 loop, ≤1 persist, no duplicate
  * consumed topics, internal topics not directly usable. */
final case class GroupGraph(group: String, edges: Seq[Edge]) {

  val loopTopic: String = s"$group-loop"
  val tableTopic: String = s"$group-table"

  val inputs: Seq[(String, Codec[_], ProcessCallback)] = edges.collect {
    case Input(t, c, cb) => Seq((t, c, cb))
    case Inputs(ts, c, cb) => ts.map(t => (t, c, cb))
  }.flatten
  val outputs: Map[String, Codec[_]] =
    edges.collect { case Output(t, c) => t -> c }.toMap
  val joins: Map[String, Codec[_]] =
    edges.collect { case Join(t, c) => t -> c }.toMap
  val lookups: Map[String, Codec[_]] =
    edges.collect { case Lookup(t, c) => t -> c }.toMap
  val loop: Option[Loop] = edges.collectFirst { case l: Loop => l }
  val persist: Option[Persist] = edges.collectFirst { case p: Persist => p }
  val visitors: Map[String, ProcessCallback] =
    edges.collect { case VisitorEdge(n, cb) => n -> cb }.toMap

  /** Topic of visitor `name`'s visit messages, one per key. */
  def visitTopic(name: String): String = s"@visit:$name"

  /** Codec and callback per consumed topic: inputs, loop and visits. */
  private val consumers: Map[String, (Codec[_], ProcessCallback)] =
    inputs.map { case (t, c, cb) => t -> (c, cb) }.toMap ++
      loop.map(l => loopTopic -> (l.codec, l.cb)) ++
      visitors.map { case (n, cb) => visitTopic(n) -> (Codecs.JsonValueCodec, cb) }

  def validate(): Unit = {
    require(group.nonEmpty, "group name must not be empty")
    require(inputs.nonEmpty, s"group $group: at least one Input is required")
    require(edges.count(_.isInstanceOf[Loop]) <= 1,
      s"group $group: at most one Loop edge")
    require(edges.count(_.isInstanceOf[Persist]) <= 1,
      s"group $group: at most one Persist edge")
    val consumed = inputs.map(_._1) ++ joins.keys ++ lookups.keys
    val dups = consumed.groupBy(identity).collect { case (t, xs) if xs.size > 1 => t }
    require(dups.isEmpty, s"group $group: topics consumed twice: ${dups.mkString(",")}")
    val internal = Set(loopTopic, tableTopic) ++ visitors.keys.map(visitTopic)
    val direct = consumed ++ outputs.keys
    require(!direct.exists(internal), s"group $group: internal topics " +
      s"(${internal.mkString(", ")}) cannot be used directly")
  }

  /** Decode codec and callback of consumed `topic`. */
  def consumer(topic: String): (Codec[_], ProcessCallback) =
    consumers.getOrElse(topic, throw new IllegalArgumentException(
      s"topic $topic is not consumed by $group"))

  /** Codec used to decode messages of `topic` when consumed. */
  def inputCodec(topic: String): Codec[_] = consumer(topic)._1

  def callbackFor(topic: String): ProcessCallback = consumer(topic)._2
}

object GroupGraph {
  /** Build + validate, mirroring `DefineGroup` (`graph.go:168-220`). */
  def define(group: String)(edges: Edge*): GroupGraph = {
    val g = GroupGraph(group, edges)
    g.validate()
    g
  }
}
