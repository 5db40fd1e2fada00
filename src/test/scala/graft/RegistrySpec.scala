package graft

import org.scalatest.funsuite.AnyFunSuite

/** The entry registry: each name once, and the driver-contract views and
  * bench lists derived from it agree with it. */
class RegistrySpec extends AnyFunSuite {
  private val r = SparkEntry.registry

  test("a registry with a repeated name is rejected when it is built") {
    val build: Entry.Build = (s, _) => s.range(1).toDF()
    val e = intercept[IllegalArgumentException] {
      new Registry(Seq(Entry("a", build), Entry("b", build), Entry("a", build, BenchForm.timed)))
    }
    assert(e.getMessage.endsWith("registered more than once: a"))
    assert(new Registry(Seq(Entry("a", build), Entry("b", build))).entries.size == 2)
  }

  test("derived views agree with the registry") {
    val names = r.entries.map(_.name).toSet
    assert(names.size == r.entries.size)
    assert(SparkEntry.queries.size == r.entries.size)
    assert(SparkEntry.queries.keySet == names)
    assert(SparkEntry.oracleSql.keySet.subsetOf(names))
    assert(SparkEntry.oracleSql.size == r.entries.count(_.oracle.isDefined))
    assert(SparkEntry.oracleSql.values.forall(sql => sql != null && sql.trim.nonEmpty))
    assert(r.timed.toSet.subsetOf(names))
    assert(names.forall(n => r.benchFn(n).isDefined))
  }

  test("bench forms are consistent: serving forms and slots belong to timed entries") {
    val timed = r.timed.toSet
    assert(r.entries.filter(_.bench.serve.isDefined).forall(e => timed(e.name)))
    assert(r.entries.filter(_.bench.scale10 != Scale10.Once).forall(e => timed(e.name)))
    val core = r.slotted(_.core)
    assert(core.forall(timed))
    // slots are 1..n with no gap or repeat, so each list has one order
    for (slot <- Seq[BenchForm => Int](_.core, _.scaleUp)) {
      val taken = r.entries.map(e => slot(e.bench)).filter(_ > 0).sorted
      assert(taken == (1 to taken.size))
    }
  }
}
