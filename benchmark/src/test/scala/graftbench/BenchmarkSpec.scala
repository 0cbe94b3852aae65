package graftbench

import graft.GraftSession
import org.scalatest.funsuite.AnyFunSuite

class BenchmarkSpec extends AnyFunSuite {
  private def stream(g: OpGen, n: Int): Array[Byte] =
    (g.coldKinds.map(g.nextOf) ++ g.warmKinds.map(g.nextOf) ++
      Seq.fill(n)(g.next()))
      .map(o => s"${o.kind}\t${o.read}\t${o.text}")
      .mkString("\n").getBytes("UTF-8")

  private def gens(seed: Long): Seq[OpGen] = {
    val t = Data.tpch(seed, 300, 2000)
    Seq(new SparqlRead.Gen(seed, t), new UpdateViews.Gen(seed, t))
  }

  test("one seed yields a byte-identical op sequence, another seed another") {
    gens(11).zip(gens(11)).zip(gens(12)).foreach { case ((a, b), c) =>
      val sa = stream(a, 60)
      assert(sa.sameElements(stream(b, 60)))
      assert(!sa.sameElements(stream(c, 60)))
    }
  }

  test("the median estimate is exact on symmetric samples and moves smoothly") {
    assert(Stats.p50(Seq(7.0)) === 7.0)
    assert(math.abs(Stats.p50(Seq(5.0, 1.0, 4.0, 2.0, 3.0)) - 3.0) < 1e-9)
    // two kinds of cost, ten samples each: nudging one sample across the
    // middle moves the estimate a sixth of the way, where the middle
    // sample would jump from one kind to the other
    val twoKinds = Seq.fill(10)(100.0) ++ Seq.fill(10)(200.0)
    val nudged = Stats.p50(twoKinds.updated(9, 201.0))
    assert(math.abs(Stats.p50(twoKinds) - 150.0) < 1e-9)
    assert(nudged > 150.0 && nudged < 175.0)
  }

  /** Answers op number `at` (counting from 1) wrongly. */
  private final class Planted(w: Workload, at: Int) extends Workload {
    private var n = 0
    def name: String = w.name
    def gen: OpGen = w.gen
    def prepare(): Unit = w.prepare()
    def setup(): Unit = w.setup()
    def exec(op: Op): Any = {
      n += 1
      val r = w.exec(op)
      if (n != at) r
      else """{"head":{"vars":["x"]},"results":{"bindings":[{"x":{"type":"literal","value":"planted"}}]}}"""
    }
    def check(op: Op, result: Any): Boolean = w.check(op, result)
    def roots: Seq[String] = w.roots
    def compactedBytes(): Long = w.compactedBytes()
  }

  test("a planted wrong answer raises failed_ratio") {
    val dir = java.nio.file.Files.createTempDirectory("graftbench").toFile
    val spark = GraftSession.local("2", Map("spark.local.dir" -> s"$dir/spark"))
    def failedRatio(plantAt: Option[Int]): Double = {
      val tracer = new Tracer(spark, enabled = false)
      val real = new SparqlRead(spark, tracer, 5, s"$dir/${plantAt.isDefined}",
        200, 1000)
      val w = plantAt.fold[Workload](real)(new Planted(real, _))
      w.prepare()
      val res = Runner.run(w, tracer, 1.0, System.nanoTime())
      Main.endToEnd(w, res).collectFirst { case ("failed_ratio", v, _) => v }.get
    }
    try {
      assert(failedRatio(None) === 0.0)
      assert(failedRatio(Some(3)) > 0.0)
    } finally {
      spark.stop()
      scala.reflect.io.Directory(dir).deleteRecursively(): Unit
    }
  }
}
