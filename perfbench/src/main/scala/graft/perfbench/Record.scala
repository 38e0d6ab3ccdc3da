package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.json4s._

/** One operation the benchmark issued by one closed-loop `client`.
  * `phase` is "warmup", "measure", "write" or "check"; only ok
  * "measure" ops become latency samples, every op counts as attempted,
  * and every op that is not ok counts as failed. */
final case class Op(kind: String, phase: String, startMs: Double, ms: Double,
                    ok: Boolean, traced: Boolean, client: Int)

/** A traced interval. `parent` is the id of the span that caused it
  * ("" for a root). Times are epoch milliseconds. */
final case class Span(id: String, parent: String, name: String,
                      start: Double, end: Double,
                      attrs: Map[String, Double] = Map.empty)

/** Everything one run records, kept in memory and written when the run
  * ends. Thread-safe: client threads, the HTTP handler pool and the
  * Spark listener bus all add to it. */
final class Recorder {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * scale as Spark's event times. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Whether the current block is traced. The untraced runs never set
    * it; the traced run alternates it between blocks. */
  val tracing = new AtomicBoolean(false)

  private val ops = new ConcurrentLinkedQueue[Op]()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val failures = new ConcurrentLinkedQueue[String]()
  private val layer = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  def op(o: Op): Unit = ops.add(o)
  def span(s: Span): Unit = spans.add(s)
  def layerValue(name: String, v: Double): Unit = layer.put(name, v)

  /** Note how far set-up has come: seconds since the JVM started. */
  def mark(step: String): Unit = {
    val s = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    layer.put(s"mark.$step", s)
    System.err.println(f"perfbench: $step at $s%.1f s")
  }

  /** Record a failed check or request; only the first few messages are
    * kept, the count lives in the ops. */
  def fail(msg: String): Unit = if (failures.size < 20) failures.add(msg)

  /** Time `body` as one op and record it, as a root span too when the
    * block is traced and `spanId` is given. `check` turns the body's
    * result into None (correct) or Some(reason); it runs outside the
    * timed interval. An exception, in the body or in the check, is a
    * failure too and never a latency sample. */
  def timed[T](kind: String, phase: String, client: Int, spanId: String = "", spanName: String = "")(
      body: => T)(check: T => Option[String]): Option[T] = {
    val traced = tracing.get
    val t0 = nowMs()
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val t1 = nowMs()
    val ms = t1 - t0
    if (traced && spanId.nonEmpty) span(Span(spanId, "", spanName, t0, t1))
    val outcome = res match {
      case Right(v) => (try check(v) catch { case e: Throwable => Some(e.toString) }) match {
        case None => Some(v)
        case Some(why) => fail(s"$kind: $why"); None
      }
      case Left(e) => fail(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"); None
    }
    op(Op(kind, phase, t0, ms, outcome.isDefined, traced, client))
    outcome
  }

  def opsJson: JValue = JArray(ops.asScala.toList.map { o =>
    JObject("kind" -> JString(o.kind), "phase" -> JString(o.phase),
      "start" -> JDouble(o.startMs), "ms" -> JDouble(o.ms),
      "ok" -> JBool(o.ok), "traced" -> JBool(o.traced), "client" -> JInt(o.client))
  })

  def spansJson: Seq[JValue] = spans.asScala.toList.map { s =>
    JObject("id" -> JString(s.id), "parent" -> JString(s.parent),
      "name" -> JString(s.name), "start" -> JDouble(s.start), "end" -> JDouble(s.end),
      "attrs" -> JObject(s.attrs.toList.map { case (k, v) => k -> JDouble(v) }))
  }

  def layerJson: JValue =
    JObject(layer.asScala.toList.sortBy(_._1).map { case (k, v) => k -> JDouble(v) })

  def failuresJson: JValue = JArray(failures.asScala.toList.map(JString(_)))
}
