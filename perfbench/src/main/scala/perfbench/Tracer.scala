package perfbench

import scala.collection.mutable

/** One traced call: where it sits in its operation, how long it took, what
  * work it caused and the cached blocks still held when it returned.
  * `forced` says whether the span's action is the program's own (""), an
  * action the program runs later in the operation that the benchmark moved
  * onto this call ("moved"), or an action the program never runs ("extra"). */
final case class Span(op: Int, id: Int, parent: Int, name: String,
    forced: String, startNs: Long, endNs: Long, work: Counts, rowsOut: Long,
    retainedMb: Double, extra: Map[String, Double])

/** Records a span around each call into a layer. Spans are kept in memory
  * and written out when the run ends. All spans of one operation share its
  * operation id; a span's parent is the span open when it started. Each
  * boundary drains the listener bus, which is part of the tracing overhead.
  */
final class Tracer(ledger: Ledger) {
  val spans = mutable.ArrayBuffer[Span]()
  private var op = -1
  private var nextId = 0
  private final class Frame(val id: Int) {
    val extra = mutable.Map[String, Double]()
  }
  private var open: List[Frame] = Nil

  /** Trace one operation with `root` as its outermost span. */
  def operation[T](opIndex: Int, root: String)(body: => (T, Long)): T = {
    op = opIndex
    call(root)(body)
  }

  /** Trace `body`, which returns its result and the rows it produced; a
    * negative row count stands for the records the call's sink wrote. */
  def call[T](name: String, forced: String = "")(body: => (T, Long)): T = {
    val frame = new Frame(nextId)
    nextId += 1
    val parent = open.headOption.map(_.id).getOrElse(-1)
    open = frame :: open
    val before = ledger.snapshot()
    val t0 = System.nanoTime()
    try {
      val (result, rows) = body
      val t1 = System.nanoTime()
      val work = ledger.snapshot() - before
      spans += Span(op, frame.id, parent, name, forced, t0, t1, work,
        if (rows < 0) work.outputRecords else rows, ledger.retainedMb(),
        frame.extra.toMap)
      result
    } finally open = open.tail
  }

  /** Attach a count to the innermost open span. */
  def note(key: String, value: Double): Unit =
    open.headOption.foreach(_.extra(key) = value)
}
