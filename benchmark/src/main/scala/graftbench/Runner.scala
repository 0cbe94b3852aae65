package graftbench

import org.apache.commons.math3.special.Beta

import scala.collection.mutable

/** One operation of a workload. `text` is its full serialized form: two
  * generators built from the same seed emit byte-identical texts. */
final case class Op(kind: String, read: Boolean, text: String)

/** A seeded op stream. `next` draws from the workload's mix, which comes
  * in cycles that each hold the mix in its exact proportions; `nextOf`
  * draws one op of a kind outside the cycles (the cold and warm-up ops). */
trait OpGen {
  /** The kinds set-up runs one cold op of. */
  def coldKinds: Seq[String]
  /** The kinds of the warm-up ops run after set-up and before the measured
    * window, neither timed nor counted in it. */
  def warmKinds: Seq[String] = Nil
  def next(): Op
  /** Did the last op `next` returned end a cycle? */
  def cycleDone: Boolean
  def nextOf(kind: String): Op
}

/** A workload as the runner drives it: one client thread, closed loop. */
trait Workload {
  def name: String
  def gen: OpGen
  /** Write the seeded inputs. Not part of set-up time: it stands in for
    * data a user already has. */
  def prepare(): Unit
  /** Engine set-up, timed into `setup_s`. */
  def setup(): Unit
  /** Run one op against the engine; the returned value is checked after
    * the measured window, outside every timed region. */
  def exec(op: Op): Any
  /** Is `result` the right answer to `op`? Runs untimed. */
  def check(op: Op, result: Any): Boolean
  /** Untimed consistency checks between ops, returning the number of
    * wrong answers found; called after ops the workload marks, and once
    * more at run end. */
  def checkpoint(after: Op, end: Boolean): Int = 0
  /** Directories holding the engine's persisted state. */
  def roots: Seq[String]
  /** Bytes a freshly compacted copy of the live data takes on disk. */
  def compactedBytes(): Long
  /** Workload-specific per-layer gauges read at run end. */
  def gauges(): Map[String, Double] = Map.empty
}

final case class Sample(op: Op, ns: Long, ok: Boolean)

final case class RunResult(setupS: Double, cold: Seq[Sample],
    samples: Seq[Sample], failed: Int, attempted: Int,
    diskBytesMean: Double, compactedBytes: Long, windowStartMs: Long)

object Runner {
  def du(path: String): (Long, Long) = {
    val f = new java.io.File(path)
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (1L, f.length())
    else Option(f.listFiles()).toSeq.flatten.map(c => du(c.getPath))
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  def diskBytes(w: Workload): Long = w.roots.map(du(_)._2).sum

  /** Set up, run one cold op per cold kind and the untimed warm-up ops,
    * then run whole cycles of the op mix until the summed op time reaches
    * `seconds`: a window cut inside a cycle would skew the mix towards
    * whichever ops it kept.
    * Checks never run inside a timed region. `setupStartNs` lets the
    * caller count work it timed before. */
  def run(w: Workload, tracer: Tracer, seconds: Double,
      setupStartNs: Long): RunResult = {
    var wrong = 0
    val results = mutable.ArrayBuffer.empty[(Sample, Any)]
    def timed(op: Op, span: String): (Sample, Any) = {
      val t0 = System.nanoTime()
      val (ok, res) =
        try (true, tracer(span)(w.exec(op)))
        catch {
          case e: Exception =>
            System.err.println(s"[graftbench] ${op.kind} failed: $e")
            (false, null)
        }
      val ns = System.nanoTime() - t0
      System.err.println(f"[graftbench] $span%s ${ns / 1e6}%.0f ms ${op.text.linesIterator.toSeq.last.take(90)}")
      (Sample(op, ns, ok), res)
    }
    tracer("setup")(w.setup())
    System.err.println(f"[graftbench] setup ${(System.nanoTime() - setupStartNs) / 1e9}%.1f s")
    val cold = w.gen.coldKinds.map { k =>
      val op = w.gen.nextOf(k)
      val r = timed(op, s"cold.$k")
      results += r
      r._1
    }
    val setupS = (System.nanoTime() - setupStartNs) / 1e9
    cold.foreach(s => wrong += w.checkpoint(s.op, end = false))
    w.gen.warmKinds.foreach(k => results += timed(w.gen.nextOf(k), s"warm.$k"))
    val windowStartMs = System.currentTimeMillis()
    val samples = mutable.ArrayBuffer.empty[Sample]
    var disk = 0.0
    var diskN = 0
    var busy = 0L
    val budget = (seconds * 1e9).toLong
    var i = 0
    while (busy < budget || !w.gen.cycleDone) {
      val op = w.gen.next()
      tracer.op = i
      val r = timed(op, s"op.${op.kind}")
      tracer.op = -1
      busy += r._1.ns
      samples += r._1
      results += r
      if (!op.read) { disk += diskBytes(w); diskN += 1 }
      wrong += w.checkpoint(op, end = false)
      i += 1
    }
    if (diskN == 0) { disk = diskBytes(w).toDouble; diskN = 1 }
    val tEnd = System.nanoTime()
    wrong += w.checkpoint(samples.last.op, end = true)
    val all = results.toSeq
    val errors = all.count(!_._1.ok)
    wrong += all.count { case (s, res) => s.ok && !w.check(s.op, res) }
    val tCheck = System.nanoTime()
    val compacted = w.compactedBytes()
    System.err.println(f"[graftbench] checks ${(tCheck - tEnd) / 1e9}%.1f s, " +
      f"compacted copy ${(System.nanoTime() - tCheck) / 1e9}%.1f s")
    RunResult(setupS, cold, samples.toSeq, errors + wrong, all.size,
      disk / diskN, compacted, windowStartMs)
  }
}

object Stats {
  /** The Harrell–Davis estimate of the median: a mean of the sorted
    * samples weighted by a Beta((n+1)/2, (n+1)/2) distribution. A window
    * holds a few samples of each of several op kinds of different cost;
    * the middle sample jumps from one kind to the next whenever two
    * kinds' costs shift past each other, where this estimate moves
    * smoothly. */
  def p50(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    val a = (n + 1) / 2.0
    def cdf(x: Double) =
      if (x <= 0) 0.0 else if (x >= 1) 1.0 else Beta.regularizedBeta(x, a, a)
    if (n == 0) Double.NaN
    else s.indices.map(i => (cdf((i + 1.0) / n) - cdf(i.toDouble / n)) * s(i)).sum
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile): the eleventh-largest sample. With twenty samples
    * or fewer there is none, as that percentile would not lie above the
    * median. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 20) (Double.NaN, Double.NaN)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }
}
