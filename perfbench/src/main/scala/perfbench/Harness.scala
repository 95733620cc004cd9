package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.control.NonFatal

/** A benchmark workload: a seeded, deterministic stream of ops against data
  * it builds itself. Op `i` is a pure function of (seed, i); the program
  * only ever sees the generated inputs.
  */
trait Workload {
  /** Ops in one pass; `pass_s` is the time of one complete pass. */
  def passLength: Int

  def kindOf(i: Long): String

  /** Builds the workload's data from scratch, replacing any earlier set-up. */
  def setup(rep: Int): Unit

  /** Untimed first executions; checks that can run before timing. */
  def warmUp(): Unit

  /** Runs op `i` and returns the number of result rows. Throws on failure;
    * a wrong result is reported through [[Harness.opFailed]].
    */
  def op(i: Long): Long

  /** Untimed checks of op `i`, run right after it. */
  def afterOp(i: Long): Unit = ()

  /** The vector store the kernel probe reads. */
  def probeData(): org.apache.spark.sql.DataFrame

  /** Workload-specific figures for the run report (amplification, read and write percentiles). */
  def figures(): Map[String, Double]
}

/** Runs one workload: set-up, warm-up, a timed closed loop with a single
  * client and per-op checks, repeated set-ups, and (traced) the per-layer
  * accounting.
  */
final class Harness(val spark: SparkSession, val seed: Long, val work: String) {
  val tracer = new Tracer(false, spark.sparkContext)
  val listener = new LayerListener
  val phases = new PhaseListener

  import Harness.Sample
  val samples = mutable.ArrayBuffer.empty[Sample]
  val setupSeconds = mutable.ArrayBuffer.empty[Double]
  /** Wall time of each warm-up op, in order (shows when the JIT settles). */
  val warmUpSeconds = mutable.ArrayBuffer.empty[Double]
  /** Wall time of each phase of the run, in order. */
  val phaseSeconds = mutable.LinkedHashMap.empty[String, Double]

  private val failedOps = mutable.LinkedHashSet.empty[Long]
  private var extraAttempted = 0L
  private var extraFailed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  private def note(msg: String): Unit = {
    System.err.println(s"[perfbench] FAILED: $msg")
    if (failures.size < 50) failures += msg
  }

  /** Marks timed op `i` as failed (a wrong result found now or later). */
  def opFailed(i: Long, msg: String): Unit = {
    failedOps += i
    note(s"op $i: $msg")
  }

  /** An untimed correctness check that counts as an op of its own. */
  def checkOp(ok: Boolean, msg: => String): Unit = {
    extraAttempted += 1
    if (!ok) { extraFailed += 1; note(msg) }
  }

  /** An untimed warm-up op: counted as attempted, and failed if it throws. */
  def warmUpOp(i: Long)(body: => Unit): Unit = {
    extraAttempted += 1
    val t0 = System.nanoTime()
    try body
    catch { case NonFatal(e) => opFailed(i, s"warm-up op threw $e") }
    warmUpSeconds += (System.nanoTime() - t0) / 1e9
  }

  def attempted: Long = samples.size + extraAttempted
  def failed: Long = failedOps.size + extraFailed

  private def timeSetup(w: Workload, rep: Int): Double = {
    val t0 = System.nanoTime()
    w.setup(rep)
    (System.nanoTime() - t0) / 1e9
  }

  /** Closed loop over whole passes from op `from` (a pass boundary) for
    * about `seconds`: a pass starts only while `seconds` minus the elapsed
    * time exceeds half the mean pass so far, and at least `passes` passes
    * run (capped at three times `seconds`). Stopping only at pass
    * boundaries keeps every timed pass complete, so the samples of a run
    * always hold each op of the cycle equally often. Returns the next op
    * index.
    */
  def measure(w: Workload, from: Long, seconds: Double, traced: Boolean, passes: Int): Long = {
    require(from % w.passLength == 0, s"op $from is not at a pass boundary")
    val sc = spark.sparkContext
    if (traced) {
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      listener.active = true
      phases.active = true
    }
    tracer.enabled = traced
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var i = from
    var done = 0
    while (Harness.anotherPass(done, elapsed, seconds, passes)) {
      (0 until w.passLength).foreach { _ =>
        val kind = w.kindOf(i)
        val t0 = System.nanoTime()
        val rows =
          try tracer.op(i, s"op.$kind")(w.op(i))
          catch { case NonFatal(e) => opFailed(i, s"$kind threw $e"); 0L }
        samples += Sample(i, kind, (System.nanoTime() - t0) / 1e9, rows, traced)
        tracer.enabled = false
        try w.afterOp(i)
        catch { case NonFatal(e) => opFailed(i, s"checking $kind threw $e") }
        tracer.enabled = traced
        i += 1
      }
      done += 1
    }
    tracer.enabled = false
    if (traced) {
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      listener.active = false
      phases.active = false
    }
    i
  }

  /** Sum of op latencies of every complete pass among `ss`. */
  def passSeconds(ss: Seq[Sample], passLength: Int): Seq[Double] =
    ss.groupBy(_.op / passLength).values
      .filter(_.size == passLength).map(_.map(_.seconds).sum).toSeq

  /** Set-up, warm-up, the timed loop and the checks; then `setupReps`
    * more set-ups, timed in a JVM that has compiled their code paths, give
    * `setup_s` (the first set-up, cold, is reported beside it).
    */
  def run(w: Workload, seconds: Double, traced: Boolean, setupReps: Int): Map[String, Any] = {
    def phase[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      try body finally phaseSeconds(name) = (System.nanoTime() - t0) / 1e9
    }
    val firstSetup = phase("setup_first")(timeSetup(w, 0))
    phase("warm_up")(w.warmUp())
    phase("measure") {
      if (traced) {
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(phases)
        // half untraced, half traced, over one continuing op stream: the
        // difference between the halves is the tracing overhead
        val next = measure(w, 0L, seconds / 2, traced = false, passes = 1)
        measure(w, next, seconds / 2, traced = true, passes = 1)
      } else measure(w, 0L, seconds, traced = false, passes = 2)
    }
    val figures = w.figures()
    val perLayer =
      if (traced) phase("probe")(Layers.metrics(this, figures, KernelProbe.run(w.probeData(), seed)))
      else Map.empty[String, Double]
    phase("setup_reps")((1 to setupReps).foreach(r => setupSeconds += timeSetup(w, r)))
    val plain = samples.filterNot(_.traced).toSeq
    val lat = Stats.summary(plain.map(_.seconds))
    val passes = passSeconds(plain, w.passLength)
    val endToEnd = Map(
      "setup_s" -> Stats.median(setupSeconds.toSeq),
      "pass_s" -> (if (passes.isEmpty) Double.NaN else Stats.median(passes)),
      "op_geomean_s" -> Stats.geomean(plain.map(_.seconds)),
      "op_p90_s" -> lat.p90)
    val byKind = plain.groupBy(_.kind).map { case (k, ss) =>
      k -> Stats.summary(ss.map(_.seconds)).toMap
    }
    Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures.toSeq,
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer,
      "samples" -> Map("ops" -> lat.toMap, "passes" -> passes.size, "setups" -> setupSeconds.size),
      "by_kind" -> byKind,
      "figures" -> figures,
      "setup_first_s" -> firstSetup,
      "ops" -> samples.map(s => Seq(s.op, s.kind, s.seconds, s.rows, s.traced)),
      "setup_runs_s" -> setupSeconds.toSeq,
      "warm_up_ops_s" -> warmUpSeconds.toSeq,
      "phases_s" -> phaseSeconds)
  }
}

object Harness {
  final case class Sample(op: Long, kind: String, seconds: Double, rows: Long, traced: Boolean)

  /** Whether the timed loop starts another pass after `done` passes and
    * `elapsed` seconds of a `seconds` window (see [[Harness.measure]]).
    */
  def anotherPass(done: Int, elapsed: Double, seconds: Double, passes: Int): Boolean =
    if (done < passes) done == 0 || elapsed < 3 * seconds
    else seconds - elapsed > elapsed / done / 2
}
