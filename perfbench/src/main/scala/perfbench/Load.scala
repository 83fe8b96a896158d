package perfbench

import scala.collection.mutable.ArrayBuffer

/** One operation of a round. `run` does the timed work and returns an
  * error text when the outcome is wrong. */
final case class Op(id: String, kind: String, run: () => Option[String])

final case class Sample(phase: String, client: Int, op: String, kind: String,
    ms: Double, error: Option[String]) {
  def toJson: Map[String, Any] = Map("phase" -> phase, "client" -> client,
    "op" -> op, "kind" -> kind, "ms" -> ms, "ok" -> error.isEmpty) ++
    error.map(e => "error" -> e.take(300))
}

/** Closed-loop load: each of `clients` threads runs whole rounds of
  * operations back to back, waiting for every answer before the next
  * request, until `seconds` have passed. At least one round per client
  * runs, and a started round always finishes, so every run attempts whole
  * rounds. Client c may start each round at a different offset, so
  * clients do not all issue the same operation at once. */
object Load {

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)

  def timeOp(phase: String, client: Int, op: Op): Sample = {
    val t0 = System.nanoTime()
    val err = try op.run() catch { case e: Throwable => Some(describe(e)) }
    Sample(phase, client, op.id, op.kind, (System.nanoTime() - t0) / 1e6, err)
  }

  /** One unit of a traced split: its fields with `ok` true, or, when it
    * throws, `ok` false and the reason, so one failing unit neither ends
    * the run nor enters the layer figures. */
  def record(op: String)(body: => Map[String, Any]): Map[String, Any] =
    try Map("op" -> op, "ok" -> true) ++ body
    catch { case e: Throwable => Map("op" -> op, "ok" -> false, "error" -> describe(e)) }

  /** Returns the samples and the phase's wall seconds. `round(c)` is the
    * round client c repeats. */
  def closedLoop(phase: String, clients: Int, seconds: Double,
      round: Int => Seq[Op]): (Seq[Sample], Double) = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val out = Array.fill(clients)(ArrayBuffer.empty[Sample])
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val ops = round(c)
        val k = if (ops.isEmpty) 0 else c * ops.size / clients
        val rotated = ops.drop(k) ++ ops.take(k)
        var n = 0
        while (n == 0 || System.nanoTime() < deadline) {
          rotated.foreach(op => out(c) += timeOp(phase, c, op))
          n += 1
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (out.toSeq.flatten, (System.nanoTime() - t0) / 1e9)
  }
}

/** Minimal JSON writer for the raw result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => graft.olap.Renderer.jsonString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
