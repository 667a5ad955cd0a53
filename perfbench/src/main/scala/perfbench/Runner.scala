package perfbench

import org.apache.spark.sql.SparkSession

/** A measured operation: wall time of the body alone, or an error. */
final case class Outcome[A](name: String, kind: String, wallS: Double, value: Option[A], error: Option[String]) {
  def ok: Boolean = value.isDefined && error.isEmpty
}

/** Runs one operation at a time on a worker thread under its own job
  * group, with a wall-time cap: an operation that hits the cap is
  * cancelled and counted as failed instead of stalling the run. Between
  * operations it cleans up outside the timed interval, as `graft.Bench`
  * does (cached plans, per-query scratch dirs, loaded state stores).
  */
final class Runner(spark: SparkSession, capS: Double) {
  var tracer: Option[Tracer] = None
  private var seq = 0

  def op[A](name: String, kind: String)(body: => A): Outcome[A] = {
    seq += 1
    val group = f"perfbench-$seq%05d-$name"
    val span = new OpSpan(name, kind, group)
    tracer.foreach(_.begin(span))
    @volatile var result: Option[A] = None
    @volatile var error: Option[String] = None
    @volatile var done = false
    val worker = new Thread(() => {
      try {
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
        result = Some(body)
      } catch {
        case e: Throwable => error = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally done = true
    }, s"perfbench-$name")
    worker.setDaemon(true)
    span.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    worker.start()
    worker.join((capS * 1000).toLong)
    val wall = (System.nanoTime() - t0) / 1e9
    span.endMs = System.currentTimeMillis()
    if (!done) {
      spark.sparkContext.cancelJobGroup(group)
      worker.interrupt()
      worker.join(15000)
      error = Some(s"timeout: exceeded ${capS}s cap")
    }
    span.wallS = wall
    span.error = error
    tracer.foreach(_.end(span))
    cleanup()
    Outcome(name, kind, wall, if (error.isEmpty) result else None, error)
  }

  def cleanup(): Unit = {
    spark.catalog.clearCache()
    graft.operators.Scratch.sweep()
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
  }
}

object Pair {
  /** Evaluates `a` and `b` in turn, `a` first when `i` is even. */
  def inTurn[A, B](i: Int, a: => A, b: => B): (A, B) =
    if (i % 2 == 0) { val x = a; (x, b) } else { val y = b; (a, y) }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
