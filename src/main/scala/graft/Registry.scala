package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A gate entry: the operator build the gate runs, the hash-exact DuckDB
  * oracle it is compared against when it has one (without one the gate
  * checks that it runs and writes rows), and how [[Bench]] times it. */
final case class Entry(name: String, build: Entry.Build,
                       bench: BenchForm = BenchForm.notTimed,
                       oracle: Option[String] = None)

object Entry {
  type Build = (SparkSession, String) => DataFrame

  def apply(name: String, build: Build, bench: BenchForm, oracle: String): Entry =
    Entry(name, build, bench, Some(oracle))
}

/** How [[Bench]] treats an entry.
  *
  * @param timed   in the headline pass (min-of-reps at the bench SF)
  * @param serve   what the bench times instead of the build: the
  *                user-facing operator where the build reshapes its output
  *                for the gate, or the serving path of a store the build
  *                writes per call
  * @param scale10 the entry's treatment in the 10× section
  * @param core    1-based slot on the compact stdout line; 0: not on it
  * @param scaleUp 1-based slot in BenchScale's default set; 0: not in it */
final case class BenchForm(timed: Boolean, serve: Option[Entry.Build] = None,
                           scale10: Scale10 = Scale10.Once, core: Int = 0,
                           scaleUp: Int = 0)

object BenchForm {
  val notTimed: BenchForm = BenchForm(timed = false)
  val timed: BenchForm = BenchForm(timed = true)

  /** Timed through the user-facing operator rather than the gate's shape. */
  def served(serve: Entry.Build): BenchForm = BenchForm(timed = true, Some(serve))

  /** Timed through a serving path that reads a store built on first touch
    * (per store and data dir) — so the 10× section pre-touches it. */
  def storeServed(serve: Entry.Build): BenchForm =
    BenchForm(timed = true, Some(serve), Scale10.FirstTouch)
}

/** The 10× section's treatment of a timed entry. */
sealed trait Scale10

object Scale10 {
  /** One timed rep at 10×. */
  case object Once extends Scale10

  /** Min-of-2 at 10× unless a rep count is asked for: a super-linear ratio
    * still under adjudication, where one noisy sample is not a usable
    * regression surface. */
  case object Watch extends Scale10

  /** Left out at 10×: a documented quadratic twin whose scaling law is
    * measured and pinned in SURVEY §5, with its linear production path
    * still measured. It stays in the base-SF pass; re-measure it with
    * BenchScale. */
  case object Skip extends Scale10

  /** Builds a persisted store or index on its first call against a data
    * dir. At the base SF min-of-3 absorbs the build; at 10×'s single rep
    * the build would BE the measurement (mm_phash_store once read 284×),
    * so it is pre-touched untimed and the timed rep measures serving. */
  case object FirstTouch extends Scale10
}

/** The gate entries, each named once. Building one with a repeated name
  * fails — a map literal would silently keep the last of two equal keys. */
final class Registry(val entries: Seq[Entry]) {
  private val byName: Map[String, Entry] = {
    val repeated = entries.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(repeated.isEmpty,
      s"entry names registered more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    entries.map(e => e.name -> e).toMap
  }

  def get(name: String): Option[Entry] = byName.get(name)
  def apply(name: String): Entry = byName(name)

  val queries: Map[String, Entry.Build] = byName.map { case (n, e) => n -> e.build }
  val oracleSql: Map[String, String] =
    entries.flatMap(e => e.oracle.map(e.name -> _)).toMap

  /** The headline pass, in registry order. */
  def timed: Seq[String] = entries.filter(_.bench.timed).map(_.name)

  /** What the bench times for `name`: its serving form, else its build. */
  def benchFn(name: String): Option[Entry.Build] =
    get(name).map(e => e.bench.serve.getOrElse(e.build))

  /** The entries holding a slot (`core`, `scaleUp`), in slot order. */
  def slotted(slot: BenchForm => Int): Seq[String] =
    entries.filter(e => slot(e.bench) > 0).sortBy(e => slot(e.bench)).map(_.name)
}
