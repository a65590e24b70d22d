package loadbench

import org.scalatest.funsuite.AnyFunSuite

class ScheduleSpec extends AnyFunSuite {

  test("a schedule is a pure function of seed and pass") {
    for (p <- -2 to 3) {
      assert(Schedule.serve(7, p, 32) == Schedule.serve(7, p, 32))
      assert(Schedule.ingest(7, p, 16) == Schedule.ingest(7, p, 16))
      assert(Schedule.train(7, p) == Schedule.train(7, p))
    }
    assert(Schedule.serve(7, 0, 32) != Schedule.serve(8, 0, 32))
    assert(Schedule.train(7, 0) != Schedule.train(8, 0) ||
      Schedule.train(7, 1) != Schedule.train(8, 1))
  }

  test("every serve pass has the same classes on the same tenants, whatever the seed") {
    def shape(seed: Long, p: Int) = Schedule.serve(seed, p, 32).map(s => (s.cls, s.tenant)).sorted
    val first = shape(1, -2)
    for (seed <- 1L to 5L; p <- -2 to 6) assert(shape(seed, p) == first)
    assert(first.map(_._1).distinct.sorted ==
      (Schedule.servePoint ++ Schedule.serveBatch).map(_._1).sorted)
  }

  test("an ingest pass interleaves every mutation class, each followed by its read") {
    val pass = Schedule.ingest(3, 0, 16)
    assert(pass.last.cls == "compact")
    val pairs = pass.dropRight(1).grouped(2).toSeq
    assert(pairs.size == Schedule.mutationsPerPass)
    pairs.foreach { case Seq(m, r) =>
      assert(r.cls == Schedule.readAfter(m.cls) && r.tenant == m.tenant) }
    assert(pairs.map(_.head.cls).groupBy(identity).values.map(_.size).toSet ==
      Set(Schedule.mutationsPerPass / Schedule.mutations.size))
    assert(pairs.map(_.head.tenant).distinct.size == Schedule.mutationsPerPass)
  }

  test("a train pass runs every query once") {
    for (p <- 0 to 4) assert(Schedule.train(11, p).map(_.cls).sorted == Schedule.trainQueries.sorted)
  }

  test("Zipf sizes are seed-free, sum to the total and fall with rank") {
    val s = Schedule.zipfSizes(4096, 32, 1.1, 16)
    assert(s.sum == 4096 && s.min >= 16)
    assert(s.zip(s.tail).forall { case (a, b) => a >= b })
    assert(Schedule.spread(32).sorted == (0 until 32))
  }
}
